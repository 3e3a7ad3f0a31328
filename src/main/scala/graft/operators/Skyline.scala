package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (pareto front): the points no other point dominates on both
  * axes — the "best tradeoffs" operator (multi-objective top-k without a
  * weighting function; the reference's ranked reports always collapse to
  * one ORDER BY measure, e.g. `scripts/SQL/Product_Association.sql:15`'s
  * `top 20 ... order by count(*)`, which cannot answer "best on BOTH").
  *
  * Textbook sweep: sort by x descending, keep a point iff its y exceeds
  * the running maximum of everything with strictly larger x. The naive
  * window (`ORDER BY x DESC` unpartitioned) is a SinglePartition exchange —
  * the anti-pattern — so this composes like `globalRowNumberOrdered`:
  * range-bucket on x, ONE bounded B-way shuffle for per-bucket local
  * sweeps, and a B-row collect whose suffix-maxima seed each bucket with
  * the running max carried in from all higher buckets. Exact for integral
  * axes (comparisons only — nothing rounds).
  *
  * Ties: per x, only the maximal y is a candidate (equal-x points dominate
  * each other); an equal (x, y) cohort survives as ONE front row. Strict
  * dominance: a point equal on one axis and worse on the other is out. */
object Skyline {

  /** Empty incremental-skyline state: the front rows `(x, ymax)`. */
  def pareto2dEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("x", LongType, nullable = false),
        StructField("ymax", LongType, nullable = false))))
  }

  /** Incremental pareto-front maintenance — the skyline family's §2.9
    * member. The state IS the front: `sky(A ∪ B) = sky(sky(A) ∪ B)` holds
    * because dominance is transitive (a point dominated in A stays
    * dominated in any superset), so folding each batch against the
    * carried front is EXACT under ANY batching — no watermark contract
    * needed, no history rescan ever. Work per advance is
    * O(batch + |front|); the front is bounded by the distinct maximal-x
    * cohort, microscopic next to the data. */
  def pareto2dAdvance(state: DataFrame, batch: DataFrame, x: Column,
                      y: Column, buckets: Int = 64): DataFrame =
    pareto2d(
      batch.select(x.cast("long").as("x"), y.cast("long").as("y"))
        .unionByName(state.select(col("x"), col("ymax").as("y"))),
      col("x"), col("y"), buckets)

  /** Streaming skyline sink (`foreachBatch` target): the carried front is
    * microscopic, so the [[graft.etl.BatchSnapshots]] snapshot form
    * under `front/bid=K` costs front-sized writes. Returns
    * `(batch_id, front_size)`. */
  def paretoBatch(stateDir: String, x: Column, y: Column,
                  buckets: Int = 64)(batch: DataFrame,
                                     batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/front", batchId, Seq("x", "ymax"),
        pareto2dEmptyState(spark))(
      prior => pareto2dAdvance(prior, batch, x, y, buckets))
    Seq((batchId, next.count())).toDF("batch_id", "front_size")
  }

  /** The latest persisted [[paretoBatch]] front — or the empty front when
    * the dir exists but holds no snapshot yet (max(bid) over zero rows is
    * NULL; the same null-check the batch path's prior-read applies). */
  def frontFrom(spark: org.apache.spark.sql.SparkSession,
                stateDir: String): DataFrame =
    graft.etl.BatchSnapshots.latest(spark, s"$stateDir/front",
      Seq("x", "ymax"), pareto2dEmptyState(spark))

  /** The pareto front of (`x` maximize, `y` maximize) as distinct rows
    * `(x, ymax)` — both columns must be integral (exactness contract). */
  def pareto2d(df: DataFrame, x: Column, y: Column,
               buckets: Int = 64): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    // per-x champion: everything below its x's max y is dominated already
    val g = df.select(x.cast("long").as("x"), y.cast("long").as("y"))
      .groupBy("x").agg(max(col("y")).as("ymax"))
    val bounds = g.agg(min(col("x")).cast("double").as("lo"),
      max(col("x")).cast("double").as("hi")).collect()(0)
    if (bounds.isNullAt(0)) return g // empty input: empty front
    val lo = bounds.getDouble(0)
    val span = bounds.getDouble(1) - lo + 1.0
    val bucketed = g.withColumn("__bkt",
      least(floor((col("x").cast("double") - lit(lo)) * buckets / span)
        .cast("int"), lit(buckets - 1)))
    // carry-in per bucket: the max ymax over all strictly HIGHER buckets
    val maxima = bucketed.groupBy("__bkt").agg(max(col("ymax")).as("__m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val carry: Map[Int, Long] = {
      var acc = Long.MinValue
      ((buckets - 1) to 0 by -1).map { b =>
        val in = b -> acc
        acc = math.max(acc, maxima.getOrElse(b, Long.MinValue))
        in
      }.toMap
    }
    val carryCol = coalesce(
      element_at(
        map(carry.toSeq.sortBy(_._1).flatMap { case (b, m) =>
          Seq(lit(b), lit(m)) }: _*),
        col("__bkt")),
      lit(Long.MinValue))
    val w = Window.partitionBy("__bkt").orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("__prev", coalesce(max(col("ymax")).over(w), lit(Long.MinValue)))
      .filter(col("ymax") > greatest(col("__prev"), carryCol))
      .select(col("x"), col("ymax"))
  }
}
