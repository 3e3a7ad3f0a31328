package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** BenchIndexScale's scenario list at one scale and one run: every probe
  * runs through Bench's step, succeeds, and is attributed its own jobs. */
class BenchIndexScaleSpec extends SparkSpec {

  test("every scenario probes at scale 1 with its own counters and no error") {
    val counters = new Bench.JobCounters(stageLog = false)
    spark.sparkContext.addSparkListener(counters)
    try {
      val scenarios = BenchIndexScale.measure(spark, sf, Seq(1), runs = 1)
      // a job started after every probe is counted last: once its stage
      // lands, the probes' counters are final
      spark.sparkContext.setJobGroup("index-scale-spec/fence", "fence")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(counters("index-scale-spec/fence").stages >= 1)
      }

      val ops = scenarios.map(_.op)
      assert(ops.size == 24 && ops.distinct.size == 24, ops)
      assert(ops.count(_.startsWith("cosineIncrementalAuto(bits=")) == 1, ops)
      assert(Seq("funnelIncremental", "fuzzyDedupIncremental", "repeatedSpansIncremental",
        "simhashIncremental", "mediaIncremental", "editDistanceIncremental",
        "cosineIncremental", "cosineIncremental16", "triangleDeltaIncremental",
        "bfsAdvanceIncremental", "componentsAdvanceIncremental", "funnelAdvance",
        "funnelRecompute(contrast)", "funnelAdvanceLate", "funnelAdvanceLate(x4entities)",
        "funnelAdvanceLate(bucketed)", "sessionsAdvanceLate", "pageRankWarmResume(2it)",
        "pageRankColdRestart(5it,contrast)", "pageRankPushAdvance(bucketed)",
        "pageRankFromSameFixture(2it,contrast)", "kmeansStatsAdvance",
        "dsirAdvanceRescore").forall(ops.contains), ops)
      scenarios.foreach { s =>
        val row = s.row(counters)
        val json = s.json(counters)
        assert(s.scale == 1 && s.probes.size == 1, json)
        assert(row.error.isEmpty && !json.contains("\"error\""), json)
        assert(row.counter(_.jobs) >= 1, json)
        assert(s.buildSec >= 0 && row.full >= 0, json)
        assert(s.probes.forall { case (_, p) => p.build >= 0 && p.exec >= 0 }, json)
      }
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
