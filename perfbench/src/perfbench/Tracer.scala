package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.JsonDSL._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark's own counters to the benchmark's job groups.
  *
  * Every call the harness makes runs under a job group named
  * `p<pass>/<kind>/<op>`; jobs, stages and task metrics are keyed by the
  * group in the job-start properties. SQL-level facts (scan time, files
  * read, plan nodes outside whole-stage codegen) come from a
  * [[QueryExecutionListener]] and belong to the group open when the action
  * ran: the listener bus is drained at every group boundary. Spans and
  * counters live in memory until [[trace]] at run end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, outputBytes = 0L
    var shuffleWrite, shuffleRead, spill, fetchWaitMs = 0L
    var scanMs, files, fileBytes, uncodegened = 0L
    def fields: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "output_bytes" -> outputBytes, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill, "fetch_wait_ms" -> fetchWaitMs,
      "scan_ms" -> scanMs, "files" -> files, "file_bytes" -> fileBytes,
      "uncodegened" -> uncodegened)
  }

  final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

  val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val spans = ArrayBuffer[Span]()
  @volatile private var current = "none"
  private var attached = false
  private val origin = System.nanoTime()

  def counters(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def begin(group: String): Unit = current = group

  /** End of a job group: drain pending events so they land on `group`. */
  def boundary(group: String, parent: String, startNs: Long): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.synchronized(spans += Span(group, parent, startNs, System.nanoTime()))
  }

  /** A span made of already-timed children (operation, batch). */
  def span(name: String, parent: String, seconds: Double): Unit = {
    val end = System.nanoTime()
    spans.synchronized(spans += Span(name, parent, end - (seconds * 1e9).toLong, end))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counters(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = counters(current)
    var scanMs, files, fileBytes, uncodegened = 0L
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    // walk the final plan, through AQE wrappers and query stages
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case a: InputAdapter => walk(a.child, inCodegen = false)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
      case s: QueryStageExec => walk(s.plan, inCodegen = false)
      case s: FileSourceScanExec =>
        scanMs += metric(s, "scanTime")
        files += metric(s, "numFiles")
        fileBytes += metric(s, "filesSize")
      case other =>
        if (!inCodegen && !Tracer.structural(other.nodeName)) uncodegened += 1
        other.children.foreach(walk(_, inCodegen))
    }
    walk(qe.executedPlan, inCodegen = false)
    c.synchronized {
      c.scanMs += scanMs
      c.files += files
      c.fileBytes += fileBytes
      c.uncodegened += uncodegened
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def trace: JObject = {
    val sp = spans.synchronized(spans.toList).map { s =>
      ("name" -> s.name) ~ ("parent" -> s.parent) ~ ("start_s" -> (s.startNs - origin) / 1e9) ~
        ("end_s" -> (s.endNs - origin) / 1e9): JValue
    }
    val cs = groups.asScala.toList.sortBy(_._1).map { case (g, c) =>
      JField(g, JObject(c.fields.map { case (k, v) => JField(k, JLong(v)) }.toList))
    }
    ("spans" -> JArray(sp)) ~ ("counters" -> JObject(cs))
  }
}

object Tracer {
  /** Plan nodes that move or wrap rows rather than compute on them: not
    * counted as operators left outside whole-stage codegen. */
  val structural: Set[String] = Set(
    "Exchange", "ShuffleExchange", "BroadcastExchange", "ReusedExchange", "ReusedSubquery",
    "ColumnarToRow", "AQEShuffleRead", "Execute InsertIntoHadoopFsRelationCommand",
    "WriteFiles", "CommandResult", "Subquery", "SubqueryBroadcast", "ResultQueryStage")
}

/** Per-layer metrics from the traced passes: each one is the median, over
  * traced counted passes (warm passes after the first `settle`), of the
  * pass's total (per batch where named so); codegen and JIT compile time
  * are the cold pass's. */
object Layers {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def metrics(t: Tracer, passes: Seq[Harness.Pass], settle: Int,
              runner: Harness.Runner): Seq[(String, Double)] = {
    val warm = passes.filter(p => p.traced && p.index > settle)
    val cold = passes.head
    val perBatch = math.max(1, runner.batches).toDouble
    def sum(p: Harness.Pass, kinds: Set[String])(f: t.Counters => Long): Double =
      t.groups.asScala.collect {
        case (g, c) if g.startsWith(s"p${p.index}/") && kinds(g.split('/')(1)) => c.synchronized(f(c))
      }.sum.toDouble
    val all = Set("build", "exec", "load", "scd2", "validate")
    def secs(p: Harness.Pass, kind: String) = p.ops.filter(_.kind == kind).map(_.seconds).sum
    def m(f: Harness.Pass => Double) = median(warm.map(f))
    def buildS(p: Harness.Pass) = t.spans.synchronized(t.spans.toList)
      .filter(s => s.name.startsWith(s"p${p.index}/build/")).map(s => (s.endNs - s.startNs) / 1e9).sum
    val untracedWarm = passes.filter(p => !p.traced && p.index > settle).map(_.wallS)
    Seq(
      "analytics.build_s" -> m(buildS),
      "analytics.build_jobs" -> m(p => sum(p, Set("build"))(_.jobs)),
      "sources.scan_s" -> m(p => sum(p, all)(_.scanMs) / 1e3),
      "sources.input_bytes" -> m(p => sum(p, all)(_.fileBytes)),
      "sources.files_read" -> m(p => sum(p, all)(_.files)),
      "exec.jobs" -> m(p => sum(p, all)(_.jobs)),
      "exec.stages" -> m(p => sum(p, all)(_.stages)),
      "exec.tasks" -> m(p => sum(p, all)(_.tasks)),
      "exec.task_run_s" -> m(p => sum(p, all)(_.runMs) / 1e3),
      "exec.task_cpu_s" -> m(p => sum(p, all)(_.cpuNs) / 1e9),
      "exec.uncodegened_nodes" -> m(p => sum(p, all)(_.uncodegened)),
      "exec.busy_cores" -> m(p => sum(p, all)(_.runMs) / 1e3 / p.wallS),
      "exec.gc_s" -> m(_.gcS),
      "exec.codegen_compile_s" -> cold.codegenS,
      "jvm.jit_s" -> cold.jitS,
      "shuffle.write_bytes" -> m(p => sum(p, all)(_.shuffleWrite)),
      "shuffle.read_bytes" -> m(p => sum(p, all)(_.shuffleRead)),
      "shuffle.spill_bytes" -> m(p => sum(p, all)(_.spill)),
      "shuffle.fetch_wait_s" -> m(p => sum(p, all)(_.fetchWaitMs) / 1e3),
      "etl.load_s" -> m(secs(_, "load")),
      "etl.load_jobs" -> m(p => sum(p, Set("load"))(_.jobs) / perBatch),
      "etl.bytes_written" -> m(p => sum(p, Set("load"))(_.outputBytes) / perBatch),
      "etl.write_amp" -> (if (runner.bytesLanded == 0) 0.0
        else m(p => sum(p, Set("load"))(_.outputBytes) / runner.bytesLanded)),
      "streaming.scd2_batch_s" -> m(secs(_, "scd2")),
      "streaming.scd2_batch_jobs" -> m(p => sum(p, Set("scd2"))(_.jobs)),
      "quality.validate_s" -> m(secs(_, "validate")),
      "quality.validate_jobs" -> m(p => sum(p, Set("validate"))(_.jobs)),
      "trace.overhead_pct" -> (m(_.wallS) / median(untracedWarm) - 1.0) * 100.0)
  }
}
