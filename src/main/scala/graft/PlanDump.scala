package graft

/** Batch plan/timing capture for the optimization rounds: runs a list of
  * registered queries in ONE warmed JVM, writes each query's
  * `.explain("formatted")` to `<outDir>/<query>_<tag>.txt`, and prints
  * per-query timings and counters (median of `runs` timed executions after
  * one warmup). The timed action materializes the FULL result into Spark's
  * `noop` sink: a `.count()` puts an Aggregate on top and lets Catalyst
  * drop unique-key outer joins and whole projections the caller receives.
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...|all> [runs]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names: Seq[String] =
      if (args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 4) args(4).toInt else 3
    val spark = Session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // per-execution counters: jobs, stages, tasks, summed task time,
    // shuffle write — the instrument that locates overhead-dominated
    // compositions (many tiny jobs) vs genuinely compute-bound queries
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufB = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        shufB.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        // SPARK_GRAFT_STAGE_LOG=1: per-stage attribution (callsite names
        // the operator that launched the stage)
        if (sys.env.contains("SPARK_GRAFT_STAGE_LOG")) {
          val si = sc.stageInfo
          // the AQE-era stage NAME is an anonymous future frame; the graft
          // frame in the long-form callsite (details) names the operator
          val site = si.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("PlanDump"))
            .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(100)
          println(f"STAGE ${si.taskMetrics.executorRunTime}%7d ms " +
            f"${si.numTasks}%4d tasks  $site")
        }
        ()
      }
    })
    def snap(): (Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskMs.get, shufB.get)

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    names.foreach { name =>
      spark.sparkContext.setJobDescription(name)
      try {
        val fn = SparkEntry.queries.getOrElse(name,
          throw new NoSuchElementException(s"unknown query: $name"))
        // warmup + plan capture (post-warmup so fixture caches are built)
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        val warmSec = (System.nanoTime() - t0) / 1e9
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        val before = snap()
        val samples = (1 to runs).map { _ =>
          val t = System.nanoTime()
          run(fn(spark, sfDir))
          (System.nanoTime() - t) / 1e9
        }.sorted
        Thread.sleep(300) // let async listener events drain
        val after = snap()
        val med = samples(samples.size / 2)
        def d(i: Int): Long =
          (after.productElement(i).asInstanceOf[Long] -
            before.productElement(i).asInstanceOf[Long]) / runs
        println(f"""PLANDUMP {"query":"$name","warm":$warmSec%.3f,"median":$med%.3f,"min":${samples.head}%.3f,"runs":$runs,"jobs":${d(0)},"stages":${d(1)},"tasks":${d(2)},"taskMs":${d(3)},"shufB":${d(4)}}""")
      } catch {
        case e: Throwable =>
          println("PLANDUMP " + org.json4s.jackson.Serialization.write(Map("query" -> name,
            "error" -> e.getClass.getSimpleName, "message" -> String.valueOf(e.getMessage)))(
            org.json4s.DefaultFormats))
      } finally spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
