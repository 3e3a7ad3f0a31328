package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Bench's per-query step: the build/execute split, the counters keyed by
  * each run's job group, and failures that read -1 with their class. */
class BenchSpec extends SparkSpec {

  /** Events reach a listener in the order they were posted: once a job
    * started after every query run has its stage counted, the runs'
    * counters are final. */
  private def drain(counters: Bench.JobCounters): Unit = {
    spark.sparkContext.setJobGroup("bench-spec/fence", "fence")
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(counters("bench-spec/fence").stages >= 1)
    }
  }

  test("each run's row carries its own jobs, tasks and build/execute split") {
    val counters = new Bench.JobCounters(stageLog = false)
    spark.sparkContext.addSparkListener(counters)
    try {
      val q1 = "q1_pricing_summary"
      val q24 = "q24_token_stats"
      Bench.runOnce(spark, sf, q1, "bench-spec/warm")
      val runs = Seq(q1 -> "bench-spec/a", q24 -> "bench-spec/b", q1 -> "bench-spec/a2")
        .map { case (q, g) => g -> Bench.runOnce(spark, sf, q, g) }.toMap
      drain(counters)

      val rows = runs.map { case (g, s) => g -> Bench.Row(g, Seq(s), Seq(counters(g))) }
      rows.values.foreach { r =>
        val s = r.samples.head
        assert(s.error.isEmpty, r.json)
        assert(s.build >= 0 && s.exec >= 0, r.json)
        assert(r.full == s.build + s.exec, r.json)
        assert(r.counter(_.jobs) >= 1 && r.counter(_.tasks) >= 1, r.json)
      }
      // q24 ran between q1's two runs: with counters keyed by job group its
      // jobs land on neither q1 run, so both q1 runs count the same
      val (a, a2) = (counters("bench-spec/a"), counters("bench-spec/a2"))
      assert((a.jobs, a.stages, a.tasks) == (a2.jobs, a2.stages, a2.tasks))
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("an unknown or throwing query reads -1 and names the exception class") {
    val unknown = Bench.runOnce(spark, sf, "q0_no_such_query", "bench-spec/u")
    assert(unknown.error.contains("java.util.NoSuchElementException"))
    assert(unknown.full == -1.0)

    val missingDir = Bench.runOnce(spark, "/nonexistent/graft-fixture", "q1_pricing_summary",
      "bench-spec/t")
    assert(missingDir.error.exists(_.endsWith("AnalysisException")), missingDir)
    assert(missingDir.full == -1.0)

    val row = Bench.Row("q1_pricing_summary", Seq(missingDir), Seq(Bench.Counters()))
    assert(row.full == -1.0)
    assert(row.json.contains("\"sec_median\":-1,"), row.json)
    assert(row.json.contains("\"error\":\"" + missingDir.error.get + "\""), row.json)
  }
}
