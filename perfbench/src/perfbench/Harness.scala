package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.etl.Pipeline
import graft.quality.Expectations
import graft.streaming.EventStream

/** Benchmark JVM: runs one workload's passes against the public entry
  * points and writes what it measured to `<work>/result.json`.
  *
  * Usage: perfbench.Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *          <cores> <settle> <minCounted> <ops>
  *
  * `ops` is a comma-separated query list for `text_curation` and the batch
  * count for `incremental_load`. A pass runs every operation once, in one
  * fixed order; the first pass is the cold one, the next `settle` warm
  * passes let the JIT settle, and the passes after them are the counted
  * ones. Whole passes repeat until `seconds` have gone by since the cold
  * pass began and at least `minCounted` counted passes ran. Every query
  * result is written out as parquet (never counted), so each operation is
  * timed to its full result.
  *
  * With trace = 1 a [[Tracer]] attributes jobs, tasks, scans and plan shape
  * to each operation's job group. Counted passes then mix untraced and
  * traced ones, so the same run also yields the tracing overhead.
  *
  * Set-up is timed from this JVM's start to a ready session with the
  * workload's entry points resolved (the program's classes loaded).
  */
object Harness {

  final case class Op(name: String, kind: String, seconds: Double, ok: Boolean, error: String)
  final case class Pass(index: Int, traced: Boolean, ops: Seq[Op], taskCpuS: Double,
                        gcS: Double, jitS: Double, codegenS: Double) {
    def wallS: Double = ops.map(_.seconds).sum
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsS, traceS, coresS, settleS, minCountedS, opsS) = args
    val work = Paths.get(workDir)
    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", coresS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(Files.isDirectory(Paths.get(dataDir)), s"missing input dir $dataDir")
    val runner: Runner = workload match {
      case "incremental_load" => new IncrementalRunner(spark, dataDir, work, opsS.toInt)
      case _ => new QueryRunner(spark, dataDir, work, opsS.split(',').toSeq)
    }
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // task CPU is counted in every run; the rest of the trace only on request
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    val tracer = if (traceS == "1") Some(new Tracer(spark)) else None

    val budgetNs = (secondsS.toDouble * 1e9).toLong
    val settle = settleS.toInt
    val minPasses = 1 + settle + minCountedS.toInt
    val t0 = System.nanoTime()
    val passes = ArrayBuffer[Pass]()
    while (passes.size < minPasses || System.nanoTime() - t0 < budgetNs) {
      val i = passes.size
      // cold pass traced (codegen/JIT attribution); settling passes untraced;
      // counted passes untraced, traced, traced, untraced (ABBA), so a drift
      // across passes cancels out of the overhead estimate
      val traced = tracer.isDefined && (i == 0 || (i > settle && Set(1, 2)((i - settle - 1) % 4)))
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val (task0, gc0, jit0, cg0) = (taskCpuNs.get, gcMs, jitMs, codegenNs)
      val passStart = System.nanoTime()
      val ops = runner.pass(i, if (traced) tracer else None)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      if (traced) tracer.foreach(_.span(s"p$i", "run", (System.nanoTime() - passStart) / 1e9))
      passes += Pass(i, traced, ops, (taskCpuNs.get - task0) / 1e9, (gcMs - gc0) / 1e3,
        (jitMs - jit0) / 1e3, (codegenNs - cg0) / 1e9)
    }
    tracer.foreach(_.detach())

    var result = ("setup_s" -> setupS) ~ ("peak_rss_mb" -> peakRssMb()) ~
      ("passes" -> JArray(passes.map(passJson).toList)) ~
      ("oracle_sql" -> runner.oracleSql.toMap) ~ ("extra" -> runner.extra)
    tracer.foreach { t =>
      result = result ~ ("layers" -> JObject(Layers.metrics(t, passes.toSeq, settle, runner).map {
        case (k, v) => JField(k, num(v))
      }.toList))
      Files.writeString(work.resolve("trace.json"), compact(render(t.trace)))
    }
    Files.writeString(work.resolve("result.json"), compact(render(result)))
    spark.stop()
  }

  /** A JSON number, or null where the value is undefined (no such pass). */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def passJson(p: Pass): JObject =
    ("index" -> p.index) ~ ("traced" -> p.traced) ~ ("wall_s" -> p.wallS) ~
      ("task_cpu_s" -> p.taskCpuS) ~ ("gc_s" -> p.gcS) ~ ("jit_s" -> p.jitS) ~
      ("codegen_s" -> p.codegenS) ~
      ("ops" -> JArray(p.ops.map { o =>
        ("name" -> o.name) ~ ("kind" -> o.kind) ~ ("s" -> o.seconds) ~ ("ok" -> o.ok) ~
          ("error" -> o.error): JValue
      }.toList))

  /** VmHWM of this process, in MB (Linux); -1 where /proc is absent. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return -1
    Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(-1)
  }

  /** One workload's operations. */
  trait Runner {
    def pass(index: Int, tracer: Option[Tracer]): Seq[Op]
    def oracleSql: Seq[(String, String)] = Seq.empty
    def extra: JObject = JObject()
    /** Parquet bytes landed per pass and batches per pass (`incremental_load`). */
    def bytesLanded: Long = 0L
    def batches: Int = 0
  }

  /** Times `body` under job group `group`, recording a span when traced. */
  def timed(spark: SparkSession, tracer: Option[Tracer], group: String, parent: String)
           (body: => Unit): (Double, Boolean, String) = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    tracer.foreach(_.begin(group))
    val t0 = System.nanoTime()
    val (ok, err) =
      try { body; (true, "") }
      catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300)) }
    tracer.foreach(_.boundary(group, parent, t0))
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    (s, ok, err)
  }

  /** `text_curation`: each operation builds one
    * registered query (`analytics` layer) and writes its rows out. */
  final class QueryRunner(spark: SparkSession, dataDir: String, work: Path, names: Seq[String])
    extends Runner {
    private val fns = names.map(n => n -> SparkEntry.queries(n))
    private val outDir = work.resolve("results")

    def pass(index: Int, tracer: Option[Tracer]): Seq[Op] = fns.map { case (name, fn) =>
      val opSpan = s"p$index/op/$name"
      var df: DataFrame = null
      val (bs, bok, berr) = timed(spark, tracer, s"p$index/build/$name", opSpan) {
        df = fn(spark, dataDir)
      }
      val (es, eok, eerr) =
        if (!bok) (0.0, false, berr)
        else timed(spark, tracer, s"p$index/exec/$name", opSpan) {
          df.write.mode("overwrite").parquet(outDir.resolve(name).toString)
        }
      tracer.foreach(_.span(opSpan, s"p$index", bs + es))
      Op(name, "query", bs + es, bok && eok, if (bok) eerr else berr)
    }

    override def oracleSql: Seq[(String, String)] =
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
  }

  /** `incremental_load`: per pass, from empty targets, each landed batch is
    * loaded (`etl`), applied to the SCD2 dimension (`streaming`) and gated
    * (`quality`). Landing a batch is a file copy outside the timed steps. */
  final class IncrementalRunner(spark: SparkSession, dataDir: String, work: Path, nBatches: Int)
    extends Runner {
    private val landing = work.resolve("landing")
    private val target = work.resolve("target")
    private val log = work.resolve("etl_log")
    private val dim = work.resolve("dim_customer")
    private val src = Paths.get(dataDir, "landing")
    private var lastExtracted = Seq.empty[Long]

    private def wipe(p: Path): Unit =
      if (Files.exists(p)) {
        val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).toArray
        all.foreach(f => Files.delete(f.asInstanceOf[Path]))
      }

    private def copyBatch(k: Int, kind: String): Path = {
      val to = landing.resolve(kind).resolve(s"batch_$k.parquet")
      Files.createDirectories(to.getParent)
      Files.copy(src.resolve(kind).resolve(s"batch_$k.parquet"), to,
        StandardCopyOption.REPLACE_EXISTING)
    }

    override val bytesLanded: Long = (0 to nBatches).map(k =>
      Files.size(src.resolve("orders").resolve(s"batch_$k.parquet"))).sum
    override val batches: Int = nBatches + 1

    def pass(index: Int, tracer: Option[Tracer]): Seq[Op] = {
      Seq(landing, target, log, dim).foreach(wipe)
      val extracted = ArrayBuffer[Long]()
      val ops = (0 to nBatches).flatMap { k =>
        copyBatch(k, "orders")
        val changes = copyBatch(k, "customers").toString
        val parent = s"p$index/batch/$k"
        val (ls, lok, lerr) = timed(spark, tracer, s"p$index/load/$k", parent) {
          val report = Pipeline.runIncremental(spark,
            spark.read.parquet(landing.resolve("orders").toString), "updated_at",
            identity, Seq("o_orderkey"), target.toString, log.toString, "orders",
            mergeOrder = Some(col("updated_at")))
          extracted += report.extracted
        }
        val (ss, sok, serr) = timed(spark, tracer, s"p$index/scd2/$k", parent) {
          EventStream.scd2Batch(dim.toString, Seq("c_custkey"),
            Seq("c_nationkey", "c_mktsegment"), "change_ts")(spark.read.parquet(changes), k.toLong)
        }
        val (vs, vok, verr) = timed(spark, tracer, s"p$index/validate/$k", parent) {
          import Expectations._
          Expectations.validate(spark.read.parquet(target.toString), Seq(
            Unique("o_orderkey"), NotNull("o_custkey"), NotNull("updated_at"),
            ValuesIn("o_orderstatus", Seq("F", "O", "P")),
            MinBetween("o_totalprice", 1000.0, 500000.0),
            MaxBetween("o_totalprice", 1000.0, 500000.0)))
        }
        tracer.foreach(_.span(parent, s"p$index", ls + ss + vs))
        Seq(Op(s"load/$k", "load", ls, lok, lerr), Op(s"scd2/$k", "scd2", ss, sok, serr),
          Op(s"validate/$k", "validate", vs, vok, verr))
      }
      lastExtracted = extracted.toSeq
      ops
    }

    override def extra: JObject = "extracted" -> lastExtracted.toList
  }
}
