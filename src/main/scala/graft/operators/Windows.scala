package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / ordered computation operators (SURVEY §2.6, §2.7).
  *
  * All partitioned windows shuffle once on their partition keys; the one
  * global window in the reference (W2, q33) is a deliberately
  * single-partition sort — callers at scale use [[globalRowNumberComposed]]
  * (q92), which gives the same consecutive numbers without one.
  */
object Windows {

  /** W1: purchase sequence per key
    * (`scripts/SQL/new_v_return_plus_retention_rate.sql:7`). */
  def sequencePerKey(df: DataFrame, partitionKeys: Seq[String], orderCols: Seq[Column],
                     alias: String = "rn"): DataFrame =
    df.withColumn(alias,
      row_number().over(Window.partitionBy(partitionKeys.map(col): _*)
        .orderBy(orderCols: _*)))

  /** CONSECUTIVE global row number in `keyCol` order WITHOUT the
    * single-partition sort `ROW_NUMBER() OVER (ORDER BY key)` pays (W2,
    * `dags/ssg_erp_op.py:296`; q33 keeps that form): bucket + offset
    * composition.
    *
    *  1. Deterministic range bucketing, monotonic in the key: bucket =
    *     floor((key - min) * B / span), clamped — computed from a one-row
    *     min/max aggregate, so equal keys always share a bucket and bucket
    *     order IS key order (no sampled RangePartitioner boundaries, which
    *     would be nondeterministic across the two reads below).
    *  2. Per-bucket local row_number: ONE bounded hash shuffle on the
    *     bucket id, B-way parallel — never a SinglePartition exchange
    *     (WindowShapeSpec proves it on the physical plan).
    *  3. Per-bucket counts (tiny: B rows) collected and prefix-summed
    *     driver-side — the same genuinely-tiny-artifact exception as IVF
    *     centroids — then broadcast-joined back as offsets.
    *
    * entry_no = offset(bucket) + local_rn, matching
    * `ROW_NUMBER() OVER (ORDER BY key)` exactly when `keyCol` is unique
    * (with duplicate keys, peers order arbitrarily — same as any
    * row_number). Bucketing arithmetic is double-based: exact while
    * (key - min) * B stays within 2^53, i.e. any realistic key span.
    * Skewed key distributions unbalance buckets (perf, never correctness);
    * raise `buckets` or pre-transform the key if one bucket dominates. */
  def globalRowNumberComposed(df: DataFrame, keyCol: String,
                              alias: String = "entry_no",
                              buckets: Int = 64): DataFrame =
    globalRowNumberOrdered(df, col(keyCol), Seq(col(keyCol)), alias, buckets,
      rankAsLong = false)

  /** [[globalRowNumberComposed]] generalized to a COMPOSITE ordering:
    * consecutive global row number in `orderCols` lexicographic order,
    * bucketed on `bucketKey` — which must be an order-prefix of
    * `orderCols` (the first order column, or a monotonic function of it),
    * so that bucket order IS order-column order and the bucket+offset
    * composition stays exact. The tie-break columns never enter the
    * bucketing arithmetic, so arbitrary-range keys (negative ids, ids
    * ≥ 2³¹, the full long range) order EXACTLY — this is the form
    * iterative rank consumers should use instead of arithmetic key packing
    * (a packed `score·C + id` long silently mis-orders once id or score
    * outgrows its allotted bits — the round-6 curriculum-key defect).
    *
    * `rankAsLong = true` (the default here) emits a LONG rank — a corpus
    * past 2³¹ rows overflows an int rank; the int form is kept only for
    * the [[globalRowNumberComposed]] callers whose oracle contract pins
    * int. Same scale shape: one bounded B-way hash shuffle, a B-row
    * count collect, never a SinglePartition exchange. */
  def globalRowNumberOrdered(df: DataFrame, bucketKey: Column,
                             orderCols: Seq[Column],
                             alias: String = "entry_no",
                             buckets: Int = 64,
                             rankAsLong: Boolean = true): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val rankType = if (rankAsLong) "long" else "int"
    val bounds = df.agg(min(bucketKey).cast("double").as("lo"),
      max(bucketKey).cast("double").as("hi")).collect()(0)
    if (bounds.isNullAt(0)) // empty input (or all-null keys): nothing to number
      return df.withColumn(alias, lit(null).cast(rankType))
    val lo = bounds.getDouble(0)
    val span = bounds.getDouble(1) - lo + 1.0
    // PINNED: the bucketed frame feeds the histogram collect AND the final
    // window — un-pinned, the whole upstream DAG evaluated once per
    // consumer (plus once for the bounds collect above: three evaluations
    // of inputs that are often deep rank chains, e.g. q135's
    // perplexity-ordered curriculum). One materialization of the
    // rank input replaces two extra upstream passes at any scale.
    val bucketed = df.withColumn("__bkt",
      least(floor((bucketKey.cast("double") - lit(lo)) * buckets / span).cast("int"),
        lit(buckets - 1)))
      .localCheckpoint()
    val counts = bucketed.groupBy("__bkt").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until buckets)
      .scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = (0 until buckets).map(b => (b, offsets(b))).toDF("__bkt", "__off")
    bucketed
      .withColumn("__lrn",
        row_number().over(Window.partitionBy("__bkt").orderBy(orderCols: _*)))
      .join(broadcast(offDf), "__bkt")
      .withColumn(alias, (col("__off") + col("__lrn")).cast(rankType))
      .drop("__bkt", "__off", "__lrn")
  }

  /** W5/A14: running cumulative sum with an explicit rows frame
    * (`Python Data Analysis.ipynb` cell 19). */
  def cumulativeSum(df: DataFrame, partitionKeys: Seq[String], orderCols: Seq[Column],
                    measure: Column, alias: String): DataFrame =
    df.withColumn(alias, sum(measure).over(
      Window.partitionBy(partitionKeys.map(col): _*).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** W4 (first half): densify a date-keyed series — generate the full daily
    * spine between min and max and left-join the measures back, filling gaps
    * with zero (`asfreq('D', fill_value=0)`, `Python Data Analysis.ipynb`
    * cell 12). `sequence()+explode` is the engine's one Generator use.
    *
    * The spine is tiny (days, not rows) but it is the LEFT side of a left
    * join, and a left-outer BroadcastHashJoin can only build RIGHT — so the
    * plan either broadcasts `df` or shuffles both sides on the date. Pass
    * PRE-AGGREGATED (per-date) measures, which is also what the densify
    * semantics assume: per-date rows are small and broadcast fine.
    */
  def dateSpine(df: DataFrame, dateCol: String, measures: Seq[String]): DataFrame = {
    val bounds = df.agg(min(col(dateCol)).as("lo"), max(col(dateCol)).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as(dateCol))
    val filled = spine.join(df, Seq(dateCol), "left")
    measures.foldLeft(filled) { (acc, m) =>
      acc.withColumn(m, coalesce(col(m), lit(0)))
    }
  }

  /** W4 (second half): same-period-last-year lag — partition by (month, day),
    * order by year, lag 1 (`Python Data Analysis.ipynb` cells 12-13). */
  def samePeriodLastYear(df: DataFrame, dateCol: String, measure: String,
                         alias: String): DataFrame =
    df.withColumn(alias, lag(col(measure), 1).over(
      Window.partitionBy(month(col(dateCol)), dayofmonth(col(dateCol)))
        .orderBy(year(col(dateCol)))))
}
