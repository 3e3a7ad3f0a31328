#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/datagen.py), runs the passes in
one JVM launched directly on the built classpath (perfbench/src), checks the
final pass's outputs apart from the program (perfbench/checks.py), and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import datagen  # noqa: E402

# one fixed operation order per pass; sizes and choices are explained in README.md
WORKLOADS = {
    "text_curation": {"documents": 5000, "queries": ["q24_token_stats", "q90_curation_funnel"]},
    "incremental_load": {"bootstrap": 15000, "batches": 1, "batch_rows": 1500,
                         "update_share": 0.5, "customers": 1500},
}

HEAP = "1536m"
JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 160
# warm passes left out while the JIT is still at work (see README.md)
SETTLE = 2
# counted passes at least, whatever --seconds; a trace run needs U T T U
MIN_COUNTED = {0: 3, 1: 4}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    classes, jars = build.build()

    work = os.path.join(build.build_dir(), f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    meta = []
    if args.workload == "incremental_load":
        meta = datagen.landing_batches(os.path.join(data, "landing"), args.seed, wl["bootstrap"],
                                       wl["batches"], wl["batch_rows"], wl["update_share"],
                                       wl["customers"])
        ops = str(wl["batches"])
    else:
        datagen.write_documents(data, args.seed, wl["documents"])
        ops = ",".join(wl["queries"])

    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}",
           "-cp", os.pathsep.join([classes] + jars), "perfbench.Harness",
           args.workload, data, work, str(args.seconds), str(args.trace), str(cores),
           str(SETTLE), str(MIN_COUNTED[args.trace]), ops]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        # a SIGTERM to this process unwinds through the finally below
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM ended with {code}")
    res = json.load(open(result_path))
    import checks  # DuckDB and pandas load after the timed part

    passes = res["passes"]
    for p in passes:
        sys.stderr.write("perfbench: pass {index} traced={traced} wall {wall_s:.3f} s, task cpu "
                         "{task_cpu_s:.3f} s, gc {gc_s:.3f} s, jit {jit_s:.3f} s, codegen "
                         "{codegen_s:.3f} s\n".format(**p))
    final = passes[-1]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    errors = []
    if args.workload == "incremental_load":
        # a failed step leaves only the outputs it wrote unchecked
        ok = {k: all(o["ok"] for o in final["ops"] if o["kind"] == k) for k in ("load", "scd2")}
        errors = checks.check_incremental(data, work, meta, res["extra"]["extracted"],
                                          loaded=ok["load"], dimensioned=ok["scd2"])
    else:
        con = checks.connect(data)
        ok_ops = {o["name"] for o in final["ops"] if o["ok"]}
        for name, sql in res["oracle_sql"].items():
            if name in ok_ops:
                why = checks.check_query(con, sql, os.path.join(work, "results", name))
                if why:
                    errors.append(f"{name}: {why}")
    for e in errors:
        sys.stderr.write(f"perfbench: check failed: {e}\n")
    for p in passes:
        for o in p["ops"]:
            if not o["ok"]:
                sys.stderr.write(f"perfbench: pass {p['index']} {o['name']} failed: {o['error']}\n")

    warm = [p for p in passes[1 + SETTLE:] if not p["traced"]]
    if args.trace:
        values = res["layers"]
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(build.build_dir(), f"trace-{args.workload}.json"))
    else:
        values = {
            "setup_s": res["setup_s"],
            "cold_s": passes[0]["wall_s"],
            "warm_s": statistics.median(p["wall_s"] for p in warm),
            "cpu_s": statistics.median(p["task_cpu_s"] for p in warm),
            "peak_rss_mb": res["peak_rss_mb"],
        }
    # names and units as BENCHMARK.json declares them
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
