package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE per-batch state discipline of every `foreachBatch` sink, in one
  * place. One rule for all of them: batch K reads only the partitions
  * STRICTLY BELOW K and lands its own partition K by dynamic partition
  * overwrite. Two forms share it:
  *   - APPEND form ([[land]] + [[allBelow]]): each batch lands its OWN
  *     rows (triangle/retention/edge deltas, dedup reports and survivor
  *     indexes, per-batch CMS/HLL sketches, synopsis samples, raw event
  *     history) and the state is the union of the partitions. The
  *     partition column is an argument because both `batch_id` and `bid`
  *     layouts are on disk.
  *   - SNAPSHOT form ([[advanceAndLand]] + [[latest]], always `bid`): a
  *     monoid state with no append form (RFM, skyline, k-means stats, DSIR
  *     histograms, PageRank residuals, watermarks) is rewritten whole each
  *     batch from the latest snapshot strictly below K.
  *
  * Why strictly below K: Structured Streaming replays are monotone (batch
  * K re-runs only before K+1 commits) and redeliver the same rows, so on
  * a replay K's own partition is already on disk. Reading it would
  * self-contaminate the batch — a dedup sink would read its own survivors
  * as duplicates and rewrite a shrunken partition. Reading `< K`
  * re-derives from the same predecessors, and the dynamic overwrite
  * replaces partition K with identical content: exactly-once under retry
  * and restart with no external ledger. A sink that lands several dirs
  * needs no transaction for the same reason — a crash between its writes
  * leaves some dirs a partition short, and the replay rewrites every one
  * from the same inputs.
  *
  * Seed ([[seed]]): external history lands as partition [[SeedBatch]]
  * (-1), so every batch's `< K` cut (K ≥ 0) includes it. A FLAT seed
  * (root parquet files, no partition column) would read whole for batch
  * 0, but batch 0's landing then puts partition dirs next to root files
  * and every later read fails partition discovery — so the reads refuse a
  * dir that holds parquet but no partition column, naming the seeding
  * function.
  *
  * Compaction: [[compactBatchPartitions]] folds append partitions
  * strictly below a caller-owned REPLAY BARRIER into the seed partition;
  * snapshot dirs compact by plain deletes below the barrier.
  *
  * Empty state: a dir with no parquet file ([[SnapshotIO.hasParquet]] —
  * absent, compacted away, an empty first micro-batch that left only
  * `_SUCCESS`, a crashed overwrite's `.spark-staging-*` leftovers) reads
  * as the caller's EMPTY frame, never a schema-inference throw.
  *
  * Versioning note (why bid partitions suffice where
  * [[VersionedSnapshot]] needs manifests): a snapshot-per-batch state is
  * REWRITTEN WHOLE each batch, so every `bid=K` partition already IS a
  * complete, immutable version — `latest(belowBid = K+1)` is exact time
  * travel to the state after batch K (BatchSnapshotsSpec pins it), the
  * replay barrier is the retention policy, and dynamic partition
  * overwrite is the commit. [[VersionedSnapshot]]'s manifest layer earns
  * its cost only for APPEND-form tables, where a version is a file SET
  * no single directory captures.
  *
  * The partition column is read back as INT for small values, so reads
  * go through `Number.longValue`, never a long cast. */
object BatchSnapshots {

  /** The partition [[seed]] lands external history under. */
  val SeedBatch: Long = -1L

  /** Land `df` as partition `partCol=batchId` of `dir` by dynamic
    * partition overwrite: a replay replaces its own partition and leaves
    * every other partition untouched. */
  def land(df: DataFrame, dir: String, batchId: Long, partCol: String): Unit =
    df.withColumn(partCol, lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)

  /** Land external history (the one-time backfill) as partition
    * [[SeedBatch]], below every streaming batch. */
  def seed(df: DataFrame, dir: String, partCol: String): Unit =
    land(df, dir, SeedBatch, partCol)

  /** `dir` read whole, or None when it holds no parquet file; refuses a
    * dir that holds parquet but no `partCol`. */
  private def partitioned(spark: SparkSession, dir: String, partCol: String,
                          seedWith: String): Option[DataFrame] =
    if (!SnapshotIO.hasParquet(spark, dir)) None
    else {
      val raw = spark.read.parquet(dir)
      require(raw.columns.contains(partCol),
        s"$dir holds parquet but no $partCol partition column; seed external " +
          s"history with $seedWith (writes $partCol=$SeedBatch) — a flat seed " +
          "would break partition discovery after the first landing")
      Some(raw)
    }

  /** The latest snapshot under `dir` (optionally strictly below
    * `belowBid`), projected to `cols` — or `empty` when the dir holds no
    * qualifying snapshot. */
  def latest(spark: SparkSession, dir: String, cols: Seq[String],
             empty: => DataFrame, belowBid: Option[Long] = None): DataFrame =
    partitioned(spark, dir, "bid", "BatchSnapshots.seed").fold(empty) { all =>
      val snaps = belowBid.fold(all)(b => all.filter(col("bid") < b))
      val last = snaps.agg(max(col("bid"))).head().getAs[Number](0)
      if (last == null) empty
      else snaps.filter(col("bid") === last.longValue).select(cols.map(col): _*)
    }

  /** ALL rows landed by batches strictly below `belowBid` (the seed
    * included), projected to `empty`'s columns — or `empty` itself when
    * the dir holds no parquet file. `seedWith` names the function that
    * seeds this dir, for the flat-dir refusal. */
  def allBelow(spark: SparkSession, dir: String, belowBid: Long,
               partCol: String, empty: DataFrame,
               seedWith: String = "BatchSnapshots.seed"): DataFrame =
    partitioned(spark, dir, partCol, seedWith).fold(empty)(
      _.filter(col(partCol) < belowBid).select(empty.columns.map(col): _*))

  /** Fold the `batch_id` partitions of an append-form state dir that lie
    * STRICTLY BELOW `upToBatchId` into the [[SeedBatch]] partition.
    * `upToBatchId` is the caller-owned REPLAY BARRIER (the smallest batch
    * the streaming checkpoint could still replay): a replayed batch must
    * never find its own rows folded into the seed, or its `< K` cut would
    * read them as pre-batch state. Whole-directory
    * [[SnapshotIO.stagedSwap]] — a crash mid-compaction leaves the live
    * state untouched. A dir with no parquet file is left as it is. */
  def compactBatchPartitions(spark: SparkSession, dir: String,
                             upToBatchId: Long): Unit = {
    require(upToBatchId >= 0,
      s"compactBatchPartitions: upToBatchId must be >= 0, got $upToBatchId")
    partitioned(spark, dir, "batch_id", "BatchSnapshots.seed").foreach { raw =>
      val folded = raw.withColumn("batch_id",
        when(col("batch_id") < upToBatchId, lit(SeedBatch))
          .otherwise(col("batch_id")))
      SnapshotIO.stagedSwap(spark, dir)(staging =>
        folded.write.partitionBy("batch_id").mode("overwrite").parquet(staging))
    }
  }

  /** Watermark floor for the late-aware sinks' first batch: nothing can
    * be "late" before anything was folded. Post-1582 on purpose — an
    * empty first micro-batch persists the floor, and Spark's parquet
    * writer (datetimeRebaseModeInWrite = EXCEPTION) refuses ancient
    * dates. */
  val TsFloor: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("1900-01-01 00:00:00")

  private def floorDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(TsFloor).toDF("wm")
  }

  /** The late-aware sinks' shared events + watermark read step (the
    * funnelBatch/sessionsBatch protocol must never drift apart): land the
    * batch's raw rows under `stateDir/events/bid=batchId` FIRST (history
    * reads filter `bid < K`, so a crash between this write and the state
    * landing replays cleanly), then return the strictly-below-K history
    * frame and the running-max watermark strictly below K (the floor when
    * no batch has landed). The caller advances its state through a
    * late-aware route against exactly these two, then calls
    * [[advanceWatermark]]. */
  def landEventsAndWatermark(spark: SparkSession, stateDir: String,
                             batch: DataFrame, batchId: Long)
      : (DataFrame, java.sql.Timestamp) = {
    land(batch, s"$stateDir/events", batchId, "bid")
    val wmPrior = latest(spark, s"$stateDir/wm", Seq("wm"),
      floorDf(spark), belowBid = Some(batchId)).head().getTimestamp(0)
    val history = allBelow(spark, s"$stateDir/events", batchId, "bid",
      batch.filter(lit(false)))
    (history, wmPrior)
  }

  /** [[landEventsAndWatermark]]'s closing half: fold the batch's max
    * event time into the 1-row watermark snapshot under
    * `stateDir/wm/bid=batchId`. `batchTs` is the batch projected to one
    * timestamp column (any name). */
  def advanceWatermark(spark: SparkSession, stateDir: String,
                       batchId: Long, batchTs: DataFrame): Unit = {
    advanceAndLand(spark, s"$stateDir/wm", batchId, Seq("wm"),
      floorDf(spark))(prior =>
      prior.unionByName(batchTs.toDF("wm"))
        .agg(max(col("wm")).as("wm"))
        .select(coalesce(col("wm"), lit(TsFloor)).as("wm")))
    ()
  }

  /** One snapshot-form sink step: advance the latest-below-`batchId`
    * snapshot with `advance`, land the result under `dir/bid=batchId`,
    * return the landed (checkpointed) state. */
  def advanceAndLand(spark: SparkSession, dir: String, batchId: Long,
                     cols: Seq[String], empty: => DataFrame)
                    (advance: DataFrame => DataFrame): DataFrame = {
    val prior = latest(spark, dir, cols, empty, belowBid = Some(batchId))
    val next = advance(prior).localCheckpoint()
    land(next, dir, batchId, "bid")
    next
  }
}
