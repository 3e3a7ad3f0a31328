package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Per-round benchmark main: runs the registered queries against
  * SPARK_GRAFT_SF_DIR, times the FULL result each caller receives, and
  * prints one JSON line per query plus ONE budget-checked totals line.
  *
  * The timed action writes the whole result into Spark's `noop` sink and is
  * split into build (`fn(spark, dir)`, including the driver-side actions a
  * query runs while it is built) and execute. (A `.count()` would put an
  * Aggregate on top and let Catalyst drop whole subtrees the caller
  * receives: q134 loses 23 of its 26 scan leaves.) [[step]] is that timed
  * action, and the one way graft's measurement mains time a DataFrame
  * ([[BenchIndexScale]] times its probes through it too). Each query run
  * has its own job group; jobs, stages, tasks, task run time and shuffle
  * bytes written are keyed by it and read after `spark.stop()`, which
  * drains the listener bus.
  *
  * Untimed warm-up passes of the WHOLE suite precede timing so every
  * query's codegen/plan/scan caches are hot; each query is then timed
  * across repeated passes and reported as the per-query MEDIAN (min
  * alongside). Each pass runs the queries in a seeded-SHUFFLED order
  * (deterministic across invocations): single-shot timings on this kind of
  * host swing ±50% with JIT/GC/scheduler luck, and queries that run late in
  * a sorted pass absorb accumulated JVM/GC state (q45 3.83 s in-suite vs
  * 1.61 s isolated, unchanged code) — per-pass order randomization turns
  * that position bias into noise the median removes.
  *
  * Inputs (environment):
  *  - SPARK_GRAFT_SF_DIR: fixture directory (default: the sf0.1 fixture);
  *  - SPARK_GRAFT_ONLY=q27_exact_dedup,q1_pricing_summary: a subset
  *    (unset = every query; an unknown name reports -1);
  *  - SPARK_GRAFT_WARMUPS (default 1) / SPARK_GRAFT_RUNS (default 3):
  *    warm-up and timed passes;
  *  - SPARK_GRAFT_PLAN_DIR: write `<dir>/<query>.txt`, each query's
  *    formatted plan, from the first warm-up pass;
  *  - SPARK_GRAFT_STAGE_LOG: print one `STAGE` line per completed stage;
  *  - SPARK_GRAFT_NO_ISOLATE: skip the auto-isolation re-runs.
  */
object Bench {

  /** One timed run, in seconds: `build` constructs the DataFrame, `exec`
    * writes its full result into the `noop` sink. A failure reads -1 and
    * names the exception class — a failed run must never read as a fast
    * one. */
  final case class Sample(build: Double, exec: Double, error: Option[String] = None) {
    def full: Double = if (error.isEmpty) build + exec else -1.0
  }

  /** Spark's counters for one job group. */
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            taskMs: Long = 0, shuffleBytes: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, shuffleBytes + o.shuffleBytes)
  }

  /** Attributes every job, and its stages, to the job group open when it
    * was submitted. Each query run has its own group, so counters never
    * bleed between queries however late the listener bus delivers them.
    * `stageLog` prints one line per completed stage, naming the graft frame
    * in its callsite (the AQE-era stage NAME is an anonymous future frame). */
  final class JobCounters(stageLog: Boolean) extends SparkListener {
    private val groups = new ConcurrentHashMap[String, Counters]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val add: java.util.function.BiFunction[Counters, Counters, Counters] = _ + _

    def apply(group: String): Counters = groups.getOrDefault(group, Counters())

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      e.stageIds.foreach(stageGroup.put(_, g))
      groups.merge(g, Counters(jobs = 1), add)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      groups.merge(stageGroup.getOrDefault(si.stageId, "none"),
        Counters(stages = 1, tasks = si.numTasks, taskMs = m.executorRunTime,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten), add)
      if (stageLog) {
        val site = si.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("graft.Bench"))
          .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(100)
        println(f"STAGE ${m.executorRunTime}%7d ms ${si.numTasks}%4d tasks  $site")
      }
    }
  }

  /** Seconds `body` takes, and its value. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The timing step: under job group `group`, times `build` — including
    * any driver-side actions it runs — then the full result into the
    * `noop` sink. `planFile`, when given, receives the formatted plan. A
    * failure prints `[bench] <label> failed: …` on stderr and reads -1. */
  def step(spark: SparkSession, group: String, label: String,
           planFile: Option[Path] = None)(build: => DataFrame): Sample = {
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(group, label)
      val (buildSec, df) = timed(build)
      val (execSec, _) = timed(df.write.format("noop").mode("overwrite").save())
      planFile.foreach { f =>
        Files.createDirectories(f.getParent)
        Files.write(f, df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
      }
      Sample(buildSec, execSec)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $label failed: ${e.getClass.getName}: ${e.getMessage}")
      Sample(-1, -1, Some(e.getClass.getName))
    } finally sc.clearJobGroup()
  }

  /** Runs registered query `name` once through [[step]] and, when
    * `planDir` is given, writes its plan to `<planDir>/<name>.txt`. */
  def runOnce(spark: SparkSession, sfDir: String, name: String, group: String,
              planDir: Option[String] = None): Sample =
    step(spark, group, name, planDir.map(Paths.get(_, s"$name.txt"))) {
      SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"unknown query: $name"))(spark, sfDir)
    }

  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private[graft] def ms(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  /** One query's (or probe's) timed runs: medians over the successful
    * samples (-1 only if every run failed), the full-result min, per-run
    * median counters. */
  final case class Row(name: String, samples: Seq[Sample], counters: Seq[Counters]) {
    private val ok = samples.filter(_.error.isEmpty)
    val full: Double = medianOf(ok.map(_.full))
    val fullMin: Double = if (ok.isEmpty) -1.0 else ok.map(_.full).min
    val error: Option[String] = samples.flatMap(_.error).headOption
    def counter(f: Counters => Long): Long =
      if (counters.isEmpty) 0L else counters.map(f).sorted.apply(counters.size / 2)
    /** The counter fields, then `error` on failure. */
    def layerJson: String =
      s""""jobs":${counter(_.jobs)},"stages":${counter(_.stages)},"tasks":${counter(_.tasks)},""" +
        s""""task_ms":${counter(_.taskMs)},"shuffle_bytes":${counter(_.shuffleBytes)}""" +
        error.fold("")(e => s""","error":"$e"""")
    def json: String =
      s"""{"query":"$name","sec_median":${ms(full)},"sec_min":${ms(fullMin)},""" +
        s""""build_sec":${ms(medianOf(ok.map(_.build)))},"exec_sec":${ms(medianOf(ok.map(_.exec)))},""" +
        layerJson + "}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .fold(SparkEntry.queries.keys.toSeq)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .distinct.sorted
    val warmups = math.max(1, sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt)
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = Session()
    val counters = new JobCounters(sys.env.contains("SPARK_GRAFT_STAGE_LOG"))
    spark.sparkContext.addSparkListener(counters)

    def pass(tag: String, seed: Long, plans: Option[String]): Map[String, Sample] =
      new scala.util.Random(seed).shuffle(names)
        .map(n => n -> runOnce(spark, sfDir, n, s"$n@$tag", plans)).toMap

    // Untimed warm-up (JIT, codegen cache, FS cache, the suite fixture
    // caches); isolated single-query runs (SPARK_GRAFT_ONLY) need >= 3 or
    // they measure JIT compilation of Spark internals, not the query.
    val warm = (1 to warmups).map(i => pass(s"w$i", 1000L + i, planDir.filter(_ => i == 1)))
    val warmupTotal = warm.head.values.map(_.full).filter(_ >= 0).sum

    // A pathologically long warm-up means a degraded host (I/O and page
    // allocation have been seen to swing 10x minute to minute): fall back
    // to a single timed pass. 420 s dates from the `.count()` series.
    val degraded = warmupTotal > 420.0
    val effRuns = if (degraded) 1 else runs
    val timed = (1 to effRuns).map(i => pass(s"t$i", 2000L + i, None))
    spark.stop() // drains the listener bus: every counter read below is final

    val results = names.map(n =>
      Row(n, timed.map(_(n)), (1 to effRuns).map(i => counters(s"$n@t$i"))))
    // per-query lines first, then ONE budget-checked totals line LAST
    results.foreach(r => println(r.json))

    // ---- auto-isolation: a query whose full-result median exceeds 2x its
    // ledger `full_ref` (bench_history.json) re-runs ALONE in a fresh JVM
    // (warmups=3, runs=5: JIT-clean, order-clean) and both numbers ship.
    // Worst 3 outliers only; queries under 0.75 s skip (scheduler noise).
    // Rounds r4-r6 each spent time proving an in-suite outlier was a host
    // artifact. ----
    val refs = historyRefs()
    val isolated: Seq[(String, Double)] =
      if (sys.env.contains("SPARK_GRAFT_NO_ISOLATE")) Seq.empty
      else results
        .flatMap(r => refs.get(r.name).collect {
          case ref if ref > 0 && r.full > 0.75 && r.full > 2.0 * ref => (r.name, r.full / ref)
        })
        .sortBy(-_._2).take(3)
        .flatMap { case (name, _) => isolateOne(name, sfDir) }
    // An isolated median still >2x the ref is "host-suspect" (the fork
    // shares the host's weather: r7's isolated q90 read as a regression);
    // only <=2x ("artifact") refutes the in-suite outlier.
    val isoEntries: Seq[(String, String, String)] = isolated.map { case (k, sec) =>
      val ref = refs.getOrElse(k, -1.0)
      val ratio = if (ref > 0) sec / ref else -1.0
      val v = if (ref <= 0) "no-ref" else if (ratio <= 2.0) "artifact"
              else "host-suspect: re-measure later"
      val full = s"""{"sec":${ms(sec)},"ref":${ms(ref)},"ratio":${ms(ratio)},"verdict":"$v"}"""
      val short = s"""{"s":${ms(sec)},"r":${ms(ref)},"x":${f"$ratio%.1f"},"v":"${v.takeWhile(_ != ':')}"}"""
      (k, full, short)
    }
    isoEntries.foreach { case (k, json, _) =>
      println(s"""{"query":"$k","isolated":$json}""")
    }
    println(finalLine(results, isoEntries.map { case (k, _, s) => k -> s }, sfDir,
      effRuns, if (degraded) Some(warmupTotal) else None))
  }

  /** The FINAL line must fit WHOLE inside a 2000-char stdout tail (round
    * records keep exactly tail[-2000:]). Budget: 2-decimal trimmed
    * medians, then 1 decimal, then the SLOWEST-N queries (failures always
    * kept) with an "omitted_fastest" count, until <= 1900. The isolation
    * map survives every rung, and a degraded run names its warm-up total. */
  private def finalLine(results: Seq[Row], iso: Seq[(String, String)], sfDir: String,
                        runs: Int, degradedWarmup: Option[Double]): String = {
    def msTrim(v: Double, dp: Int): String =
      if (v < 0) "-1"
      else {
        val s = String.format(s"%.${dp}f", Double.box(v))
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      }
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val collides = results.groupBy(r => shortKey(r.name)).exists(_._2.size > 1)
    def key(name: String): String = "\"" + (if (collides) name else shortKey(name)) + "\":"
    def map(rows: Seq[Row], dp: Int): String =
      rows.map(r => key(r.name) + msTrim(r.full, dp)).mkString("{", ",", "}")
    val isoShort = iso.map { case (k, s) => key(k) + s }.mkString("{", ",", "}")
    val total = results.map(_.full).filter(_ >= 0).sum
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val degradedTag = degradedWarmup.fold("")(w => s""","degraded":true,"warmup_total":${msTrim(w, 1)}""")
    // failures (-1) sort FIRST, then slowest first: the expensive queries
    // are the informative ones when the full map can't fit
    val slowest = results.sortBy(r => if (r.full < 0) -1e18 else -r.full)
    def line(qs: String, omitted: Int): String = {
      val om = if (omitted > 0) s""","omitted_fastest":$omitted""" else ""
      s"""{"metric":"total","value":${msTrim(total, 2)},"unit":"sec","n_queries":${results.size},"queries":$qs$om,"isolated":$isoShort,"sf":"$sfName","runs":$runs$degradedTag,"stat":"median"}"""
    }
    val n = results.size
    val candidates = Seq(line(map(results, 2), 0), line(map(results, 1), 0)) ++
      Seq(96, 64, 32, 16).map(k => line(map(slowest.take(k), 1), math.max(0, n - k))) :+
      line("{}", n)
    candidates.find(_.length <= 1900).getOrElse(candidates.last)
  }

  /** Per-query `full_ref`s (min of the full-result medians recorded on the
    * 4-core host) from `bench_history.json`. A missing or unreadable file
    * means no isolation (one stderr line says why). */
  private def historyRefs(): Map[String, Double] = {
    def skip(why: String): Map[String, Double] = {
      System.err.println(s"[bench] ledger refs skipped: $why")
      Map.empty
    }
    val f = new java.io.File("bench_history.json")
    if (!f.isFile) return skip("no bench_history.json in the working directory")
    try {
      val text = new String(Files.readAllBytes(f.toPath))
      val re = """"(q[0-9]+[A-Za-z0-9_]*)":\s*\{[^}]*"full_ref":\s*([0-9.]+)""".r
      re.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case e: Throwable => skip(e.toString) }
  }

  /** Re-run ONE query in a fresh forked JVM (this one's classpath and JVM
    * flags) with warmups=3 / runs=5 and parse its full-result median back.
    * None, with one stderr line saying why, on launch failure, timeout
    * (240 s) or parse failure: isolation never blocks the bench. */
  private def isolateOne(name: String, sfDir: String): Option[(String, Double)] = {
    def skip(why: String): Option[(String, Double)] = {
      System.err.println(s"[bench] isolation of $name skipped: $why")
      None
    }
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString)
        .filterNot(_.startsWith("-agentlib")) // debugger ports don't fork
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_WARMUPS", "3")
      pb.environment().put("SPARK_GRAFT_RUNS", "5")
      pb.environment().put("SPARK_GRAFT_NO_ISOLATE", "1")
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val buf = new java.io.ByteArrayOutputStream()
      val pump = new Thread(() => proc.getInputStream.transferTo(buf))
      pump.setDaemon(true)
      pump.start()
      val done = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); return skip("no result within 240 s") }
      pump.join(5000)
      val re = ("\"query\":\"" + java.util.regex.Pattern.quote(name) +
        "\"[^}]*\"sec_median\":([0-9.]+)").r
      re.findAllMatchIn(buf.toString).toSeq.lastOption
        .map(m => name -> m.group(1).toDouble)
        .orElse(skip("the forked run printed no median"))
    } catch { case e: Throwable => skip(e.toString) }
  }
}
