package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-sessionization as a maintainable STATE — the incremental
  * member of the sessionization family (batch q38 lag/cumsum form, the
  * built-in `session_window` q51, the `flatMapGroupsWithState` streaming
  * operator): fold each watermark load into a persisted session table by
  * re-sessionizing ONLY the batch and stitching at the boundary.
  *
  * The stitch argument: within the state, consecutive sessions of one user
  * are separated by MORE than the gap (that's what made them separate
  * sessions), and likewise within the batch; under watermark loads every
  * batch event is later than every state event. So the only join point is
  * each user's LAST state session vs their FIRST batch session — one
  * merge-or-not decision per user, decided by exactly q38's rule
  * (`unix_timestamp` difference strictly greater than the gap splits).
  * A merge cannot cascade: merging the boundary pair moves no other
  * session's endpoints.
  *
  * Totals carry as DECIMAL(18,2) inside the state (decimal addition is
  * exact and order-free, so stitched totals equal a recompute's — the
  * cast to double happens once, in the REPORT, like q38 itself);
  * `session_no` is derived at read time from the session order per user,
  * identical to q38's cumsum numbering because sessions are disjoint
  * ordered intervals.
  *
  * Scale: the advance re-sessionizes the BATCH (two windows over one
  * user-key shuffle of batch events) and touches the state once with a
  * user-keyed join of batch-derived heads — session history is never
  * rescanned. */
object Sessions {

  /** q38's lag/cumsum sessionization over one event frame → internal
    * session rows `(_u, start, end, n_events, total DECIMAL)`. */
  def sessionsOf(events: DataFrame, user: Column, ts: Column, value: Column,
                 gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("_u").orderBy("_ts")
    events.select(StateKeys.asLong(user).as("_u"), ts.as("_ts"),
        value.cast("decimal(18,2)").as("_v"))
      .withColumn("_prev", lag(col("_ts"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_timestamp(col("_ts")) - unix_timestamp(col("_prev")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("_sno", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("_u", "_sno")
      .agg(min(col("_ts")).as("session_start"),
        max(col("_ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // cast the SUM-widened decimal(28,2) back to the state grain so the
        // schema [[advance]] returns never drifts from [[emptyState]]'s
        // contract (a hazard for persisted state / strict unionByName)
        sum(col("_v")).cast("decimal(18,2)").as("total"))
      .drop("_sno")
  }

  /** Empty session state. */
  def emptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("_u", LongType, nullable = false),
        StructField("session_start", TimestampType, nullable = false),
        StructField("session_end", TimestampType, nullable = false),
        StructField("n_events", LongType, nullable = false),
        StructField("total", DecimalType(18, 2), nullable = true))))
  }

  /** Advance the session state with one watermark load. */
  def advance(state: DataFrame, batch: DataFrame, user: Column, ts: Column,
              value: Column, gapSec: Long): DataFrame = {
    val bs = sessionsOf(batch, user, ts, value, gapSec).localCheckpoint()
    // each user's last state session (the only stitch candidate) and
    // first batch session
    val byU = Window.partitionBy("_u")
    val tails = state
      .withColumn("_mx", max(col("session_start")).over(byU))
      .filter(col("session_start") === col("_mx")).drop("_mx")
    val heads = bs
      .withColumn("_mn", min(col("session_start")).over(byU))
      .filter(col("session_start") === col("_mn")).drop("_mn")
    val paired = heads.select(col("_u"),
        col("session_start").as("_hs"), col("session_end").as("_he"),
        col("n_events").as("_hn"), col("total").as("_ht"))
      .join(tails.select(col("_u"),
        col("session_start").as("_ts0"), col("session_end").as("_te"),
        col("n_events").as("_tn"), col("total").as("_tt")), Seq("_u"))
      .filter(unix_timestamp(col("_hs")) - unix_timestamp(col("_te")) <= gapSec)
      .localCheckpoint() // one row per user that stitches
    val merged = paired.select(col("_u"),
      col("_ts0").as("session_start"), col("_he").as("session_end"),
      (col("_tn") + col("_hn")).as("n_events"),
      (col("_tt") + col("_ht")).cast("decimal(18,2)").as("total"))
    // survivors: state minus consumed tails, batch minus consumed heads.
    // `paired` is one row per user that stitches — bounded by the BATCH's
    // user set, so it broadcasts: the session state is never shuffled for
    // the consumption check (at 100 TB the state is the big side)
    val stateKeep = state.join(
      broadcast(paired.select(col("_u"), col("_ts0").as("session_start"))),
      Seq("_u", "session_start"), "left_anti")
    val batchKeep = bs.join(
      broadcast(paired.select(col("_u"), col("_hs").as("session_start"))),
      Seq("_u", "session_start"), "left_anti")
    stateKeep.unionByName(batchKeep).unionByName(merged)
  }

  /** LATE-AWARE advance — [[advance]] plus the recompute route its
    * watermark contract demands. A batch row with `ts <= watermark` (the
    * max event time folded before this batch, the caller's extract-log
    * value) can extend, bridge, or chain-merge that user's EXISTING
    * sessions — none of which the boundary stitch can express — so those
    * users re-sessionize from scratch over `history ∪ batch` restricted
    * to them (left-semi join against the broadcast affected-user set: the
    * rescan's row volume scales with the affected users' event counts,
    * never the archive) and REPLACE their rows in the folded state.
    * Everyone else's boundary stitch is exact. Result ≡ a full
    * re-sessionization of `history ∪ batch`, for any batch; no late rows
    * ⇒ the history scan never runs (empty-check short-circuit). */
  def advanceLate(state: DataFrame, batch: DataFrame, history: DataFrame,
                  user: Column, ts: Column, value: Column, gapSec: Long,
                  watermark: java.sql.Timestamp,
                  maxPushdown: Int = 10000,
                  maxBroadcast: Long = 5000000L): DataFrame = {
    val lateU = batch.filter(ts <= lit(watermark))
      .select(StateKeys.asLong(user).as("_u")).distinct().localCheckpoint()
    val folded = advance(state, batch, user, ts, value, gapSec)
    val nLate = lateU.count()
    if (nLate == 0L) folded
    else {
      // same tiered read strategy as funnelAdvanceLate (Joins.keyedSlice):
      // pushed isin against a clustered history for the normal trickle,
      // broadcast semi for bigger sets, shuffle semi above the broadcast
      // bound — a backfill must never build an unbounded driver broadcast
      val lateIds = Joins.keyIdsIfSmall(lateU, nLate, maxPushdown)
      def sliceOf(df: DataFrame): DataFrame =
        Joins.keyedSlice(df, user.cast("long"), lateU, nLate,
          maxPushdown, maxBroadcast, lateIds)
      val recomputed = sessionsOf(
        sliceOf(history).unionByName(sliceOf(batch)), user, ts, value, gapSec)
      Joins.keyedAntiSlice(folded, col("_u"), lateU, nLate,
          maxPushdown, maxBroadcast, lateIds)
        .unionByName(recomputed)
    }
  }

  /** `foreachBatch` sink: LATE-AWARE incremental sessionization — the
    * streaming member of the q38/q51/q208 family, [[Aggregates.funnelBatch]]'s
    * discipline applied to the session state. A blind snapshot-per-batch
    * fold of [[advance]] corrupts sessions whenever a micro-batch carries
    * events at or before the already-folded maximum (the boundary stitch
    * assumes watermark order); here every batch routes through
    * [[advanceLate]] with `history` = the raw events persisted by strictly
    * earlier batches and `watermark` = their running max event time, so
    * the drained state equals a full re-sessionization for ANY event-time
    * interleaving. Returns `(batch_id, n_sessions)`. */
  def sessionsBatch(stateDir: String, user: Column, ts: Column,
                    value: Column, gapSec: Long)
                   (batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.localCheckpoint()
    val (history, wmPrior) = graft.etl.BatchSnapshots
      .landEventsAndWatermark(spark, stateDir, b, batchId)
    val cols = Seq("_u", "session_start", "session_end", "n_events", "total")
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, cols, emptyState(spark))(prior =>
      advanceLate(prior, b, history, user, ts, value, gapSec, wmPrior))
    graft.etl.BatchSnapshots.advanceWatermark(spark, stateDir, batchId,
      b.select(ts.as("wm")))
    Seq((batchId, next.count())).toDF("batch_id", "n_sessions")
  }

  /** q38-shaped report off the state: per-user session numbering from the
    * interval order, totals cast to double at the edge. */
  def report(state: DataFrame): DataFrame =
    state.withColumn("session_no",
        row_number().over(
          Window.partitionBy("_u").orderBy("session_start")).cast("long"))
      .select(col("_u").as("user_id"), col("session_no"),
        col("session_start"), col("session_end"), col("n_events"),
        col("total").cast("double").as("total_value"))
}
