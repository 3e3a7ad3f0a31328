"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/src`)
into `<build dir>/classes` with the Scala compiler shipped in Spark's jar
directory, the same jars the program's sbt build compiles against.

The build dir is `$CARGO_TARGET_DIR` when set, else `.bench_build`. A
stamp of the sources' contents and the jar list skips the compile when
nothing changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    named in the program's build.sbt."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found under {PROGRAM_SRC}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; returns (classes dir, runtime jar list)."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-", os.path.basename(j))]
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("-classpath\n" + os.pathsep.join(jars) + "\n-d\n" + out + "\n-nowarn\n")
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + build_dir(),
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, jars


if __name__ == "__main__":
    print(build()[0])
