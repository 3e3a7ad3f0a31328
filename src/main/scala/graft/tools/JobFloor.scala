package graft.tools

import org.apache.spark.sql.functions._

/** Measures the per-action fixed cost on this host/session shape: (a) a
  * 1-row no-shuffle count, (b) a tiny 1-exchange aggregate count, (c) a
  * tiny localCheckpoint, (d) a tiny 2-exchange join count — each timed
  * over 50 repetitions after warmup. Diagnostic for the optimization
  * round: the suite's slow queries are job-count dominated, so this floor
  * bounds what composition-level work can save. */
object JobFloor {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    import spark.implicits._
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .localCheckpoint()
    def bench(tag: String, n: Int)(f: => Unit): Unit = {
      (1 to 10).foreach(_ => f) // warmup
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"JOBFLOOR $tag: ${(System.nanoTime() - t0) / 1e6 / n}%.1f ms/op")
    }
    val sc = spark.sparkContext
    val rdd1 = sc.parallelize(Seq(1), 1)
    bench("rdd-count-1part", 50) { rdd1.count(); () }
    val cached = spark.range(0, 1, 1, 1).cache()
    cached.count()
    bench("same-df-recount", 50) { cached.count(); () }
    bench("range1-count-1part", 50) { spark.range(0, 1, 1, 1).count(); () }
    bench("range1-count-4part", 50) { spark.range(0, 4, 1, 4).count(); () }
    bench("range1-count-32part", 50) { spark.range(0, 32, 1, 32).count(); () }
    bench("range1-count-128part", 50) { spark.range(0, 128, 1, 128).count(); () }
    bench("range1-count", 50) { spark.range(1).count(); () }
    bench("noshuffle-count", 50) { base.count(); () }
    bench("agg-count (1 exchange)", 50) {
      base.groupBy("k").agg(sum("id")).count(); ()
    }
    bench("lcp tiny (1 exchange)", 50) {
      base.groupBy("k").agg(sum("id")).localCheckpoint(); ()
    }
    bench("join-count (2 exchanges)", 50) {
      base.join(base.withColumnRenamed("id", "id2"), "k").count(); ()
    }
    spark.stop()
  }
}
