package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY §2.5).
  *
  * Every rollup is a plain `groupBy().agg()` so Spark plans partial (map-side)
  * + final aggregation automatically — the property that makes these scale:
  * the shuffle carries one row per (partition × group), not per input row.
  */
object Aggregates {

  /** A1-A3: daily rollup — sum a measure by a (possibly wide) key
    * (`sparkFiles/sparkProcess.py:248-267`). */
  def rollup(df: DataFrame, keys: Seq[String], measure: String, alias: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(sum(col(measure)).as(alias))

  /** A6/A7 + O2/O3: top-k by aggregated measure. The `orderBy.limit` pair
    * plans as TakeOrderedAndProject — each partition keeps only k rows, the
    * driver merges k×partitions rows; no global sort. */
  def topK(df: DataFrame, keys: Seq[String], measure: Column, alias: String,
           k: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(measure.as(alias))
      .orderBy(desc(alias) +: keys.map(asc): _*)
      .limit(k)

  /** A13: pivot aggregate (`pivot_table`, Pandas tutorial nb). Values are
    * supplied explicitly — with an explicit domain Spark skips the extra
    * distinct-values job, which matters when the fact side is large. */
  def pivotSum(df: DataFrame, rowKey: String, pivotCol: String,
               pivotValues: Seq[String], measure: String): DataFrame =
    df.groupBy(col(rowKey)).pivot(pivotCol, pivotValues).agg(sum(col(measure)))

  /** Incremental aggregate (materialized-view) maintenance with
    * retractions — the Flink/stream-warehouse primitive the reference's
    * recompute-the-last-day loop (`sparkFiles/sparkProcess.py:195`)
    * approximates by brute force: instead of re-aggregating the window,
    * fold a CDC delta into the existing per-key state.
    *
    *   state' = Σ over keys of ( state  ⊎  +plus rows  ⊎  −minus rows )
    *
    * `plus` carries inserted rows and the AFTER image of updates; `minus`
    * carries deleted rows and the BEFORE image of updates (the classic
    * retraction encoding — an update is a retract + an insert). Measures
    * aggregate as DECIMAL(38,2) (exact, order-independent — a double sum
    * would drift by accumulation order and make maintained state diverge
    * from a recompute); `n_rows` tracks live row count and groups that
    * retract to zero rows DROP (their sums are exactly 0 by construction,
    * but an empty group must disappear like it would in a recompute).
    *
    * ONE shuffle on the group key per delta batch, sized by |state| +
    * |delta| — never the base table. Deletion support is what plain
    * "append and re-sum" cannot do. */
  /** Event-funnel conversion: for an ORDERED list of step predicates, how
    * many entities reach each step — an entity reaches step i+1 iff some
    * step-(i+1) event STRICTLY FOLLOWS its earliest step-i completion (the
    * min-timestamp cascade, the standard funnel semantics). Purely
    * relational: one filtered aggregate + one join PER STEP — no per-entity
    * event arrays, no collect_list, no window over a user's whole history —
    * so a 3-step funnel over 100 TB of events is three map-combined
    * aggregates and two broadcast-or-shuffle joins on the entity key.
    * Strict `>` makes the cascade deterministic without any tie-break
    * ordering. Returns `(step, step_idx, entities)`, one row per step. */
  def funnel(df: DataFrame, entity: Column, ts: Column,
             steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step required")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select((entity.as("_e") +: ts.as("_ts") +:
      steps.map(_._2).zipWithIndex
        .map { case (p, i) => p.as(s"_p$i") }): _*)
    var reached: DataFrame = null
    val counts = steps.zipWithIndex.map { case ((name, _), i) =>
      val hits = base.filter(col(s"_p$i"))
      val stage =
        if (i == 0) hits.groupBy("_e").agg(min(col("_ts")).as("_t"))
        else hits.join(reached.withColumnRenamed("_t", "_prev"), "_e")
          .filter(col("_ts") > col("_prev"))
          .groupBy("_e").agg(min(col("_ts")).as("_t"))
      reached = stage.localCheckpoint() // each stage feeds the next AND its count
      (name, i, reached.count())
    }
    counts.toDF("step", "step_idx", "entities")
  }

  /** Empty incremental-funnel state: one row per entity, the cascade
    * minima over everything seen so far — `(_e, _t0.._t{k-1})`, entity
    * pinned to long (the events fixture's user grain). */
  def funnelEmptyState(spark: org.apache.spark.sql.SparkSession,
                       steps: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("_e", LongType, nullable = false) +:
        (0 until steps).map(i =>
          StructField(s"_t$i", TimestampType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Advance the incremental funnel state with one event batch — the
    * reference's watermark protocol (§2.9, the q17 `ts > watermark`
    * contract) applied to [[funnel]]'s min-timestamp cascade. Under
    * watermark loads (every batch event is later than every previously
    * seen event — the reference's 30-min micro-batch envelope), each
    * cascade timestamp can only be SET, never moved earlier, so a pure
    * per-step min/merge fold — in step order, the within-batch cascade
    * thresholding against the just-advanced previous step — reproduces
    * the full recompute exactly (q196's chained oracle and FunnelSpec's
    * bootstrap+delta property pin it). Late out-of-order data breaks the
    * contract exactly as it breaks q17 — [[funnelAdvanceLate]] is the
    * late-aware route: it detects the violating rows and recomputes ONLY
    * the affected entities from an entity-scoped history rescan.
    *
    * Scale: state is entity-grain, the batch is event-grain; each step is
    * one filtered batch aggregate plus one keyed join against state —
    * historical events are never rescanned, which is the whole point at
    * 100 TB of events over a bounded user universe. */
  def funnelAdvance(state: DataFrame, batch: DataFrame, entity: Column,
                    ts: Column, steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step required")
    val k = steps.length
    val base = batch.select((StateKeys.asLong(entity).as("_e") +: ts.as("_ts") +:
      steps.map(_._2).zipWithIndex
        .map { case (p, i) => p.as(s"_p$i") }): _*)
    def mergeMin(a: Column, b: Column): Column =
      when(a.isNull, b).when(b.isNull, a).otherwise(least(a, b))
    // step 0 has no threshold and is where new entities enter the state
    val b0 = base.filter(col("_p0")).groupBy("_e").agg(min(col("_ts")).as("_b"))
    var cur = state.join(b0, Seq("_e"), "full_outer")
      .select((col("_e") +: mergeMin(col("_t0"), col("_b")).as("_t0") +:
        (1 until k).map(i => col(s"_t$i"))): _*)
    for (i <- 1 until k) {
      val bi = base.filter(col(s"_p$i"))
        .join(cur.select(col("_e"), col(s"_t${i - 1}").as("_prev")), "_e")
        .filter(col("_ts") > col("_prev"))
        .groupBy("_e").agg(min(col("_ts")).as("_b"))
      cur = cur.join(bi, Seq("_e"), "left")
        .select((col("_e") +: (0 until k).map { j =>
          if (j == i) mergeMin(col(s"_t$j"), col("_b")).as(s"_t$j")
          else col(s"_t$j")
        }): _*)
    }
    cur
  }

  /** LATE-AWARE funnel advance — [[funnelAdvance]] plus the recompute
    * route its watermark contract demands (the reference re-extracts
    * anything `created_at > wm` regardless of event order; this keeps the
    * same robustness for the fold). Semantics: the result equals a full
    * recompute over `history ∪ batch`, for ANY batch — including one
    * carrying events EARLIER than previously folded ones.
    *
    * Mechanics: rows with `ts <= watermark` (the max event time folded
    * before this batch — the caller's extract-log value, the q17
    * protocol) violate the fold's ordering assumption. Their entities are
    * collected as the AFFECTED set; everyone else's fold is exact, so the
    * plain [[funnelAdvance]] runs on the whole batch and only the
    * affected entities' rows are then REPLACED by a from-scratch cascade
    * over `history ∪ batch` restricted to those entities — a left-semi
    * join against the broadcast affected set, so the rescan's row volume
    * scales with the affected entities' event counts, never the corpus
    * (and when the history table is bucketed or clustered by entity the
    * scan prunes too). No late rows ⇒ the history scan never runs at all
    * (the empty-check short-circuit — at 100 TB an always-on rescan join
    * would silently re-read the archive every batch). */
  def funnelAdvanceLate(state: DataFrame, batch: DataFrame,
                        history: DataFrame, entity: Column, ts: Column,
                        steps: Seq[(String, Column)],
                        watermark: java.sql.Timestamp,
                        maxPushdown: Int = 10000,
                        maxBroadcast: Long = 5000000L): DataFrame = {
    val spark = state.sparkSession
    val lateE = batch.filter(ts <= lit(watermark))
      .select(StateKeys.asLong(entity).as("_e")).distinct().localCheckpoint()
    val folded = funnelAdvance(state, batch, entity, ts, steps)
    val nLate = lateE.count()
    if (nLate == 0L) folded
    else {
      // tiered by late-entity count (Joins.keyedSlice): the normal trickle
      // collects the ids and slices with a PUSHED isin — against a history
      // persisted clustered/sorted by entity the scan prunes at
      // row-group/page grain, reading O(affected events), not O(history);
      // bigger sets broadcast-semi (stream the history, never shuffle it);
      // a backfill-sized set falls back to a shuffle semi rather than
      // building an unbounded driver-side broadcast
      val lateIds = Joins.keyIdsIfSmall(lateE, nLate, maxPushdown)
      def sliceOf(df: DataFrame): DataFrame =
        Joins.keyedSlice(df, entity.cast("long"), lateE, nLate,
          maxPushdown, maxBroadcast, lateIds)
      val affected = sliceOf(history).unionByName(sliceOf(batch))
      // fold-from-empty over one frame IS the recompute (the within-batch
      // cascade thresholds each step against the just-advanced previous)
      val recomputed = funnelAdvance(
        funnelEmptyState(spark, steps.length), affected, entity, ts, steps)
      Joins.keyedAntiSlice(folded, col("_e"), lateE, nLate,
          maxPushdown, maxBroadcast, lateIds)
        .unionByName(recomputed)
    }
  }

  /** [[funnel]]-shaped report off the incremental state: ONE aggregate
    * over the entity-grain state (count of non-null cascade minima per
    * step) — no event data touched. */
  def funnelStateCounts(state: DataFrame,
                        stepNames: Seq[String]): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val aggs = stepNames.indices.map(i => count(col(s"_t$i")).as(s"_c$i"))
    val row = state.agg(aggs.head, aggs.tail: _*).head()
    stepNames.zipWithIndex
      .map { case (n, i) => (n, i, row.getLong(i)) }
      .toDF("step", "step_idx", "entities")
  }

  /** `foreachBatch` sink: LATE-AWARE incremental funnel — the streaming
    * member of the q196/q207 family. The pre-r13 gap this closes: a
    * snapshot-per-batch fold of [[funnelAdvance]] alone silently corrupts
    * the cascade when a micro-batch carries events at or before the
    * already-folded maximum (foreachBatch makes no cross-batch order
    * promise); here every batch routes through [[funnelAdvanceLate]] with
    * `history` = the raw events persisted by STRICTLY EARLIER batches
    * (`stateDir/events/bid=K`) and `watermark` = their running max event
    * time, so the drained state equals the batch recompute for ANY
    * event-time interleaving. State, watermark and history all follow
    * the [[graft.etl.BatchSnapshots]] discipline
    * ([[graft.etl.BatchSnapshots.landEventsAndWatermark]]). Returns
    * `(batch_id, n_entities)`. */
  def funnelBatch(stateDir: String, entity: Column, ts: Column,
                  steps: Seq[(String, Column)])
                 (batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.localCheckpoint() // foreachBatch inputs are not re-readable
    val (history, wmPrior) = graft.etl.BatchSnapshots
      .landEventsAndWatermark(spark, stateDir, b, batchId)
    val cols = "_e" +: steps.indices.map(i => s"_t$i")
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, cols,
        funnelEmptyState(spark, steps.length))(prior =>
      funnelAdvanceLate(prior, b, history, entity, ts, steps, wmPrior))
    graft.etl.BatchSnapshots.advanceWatermark(spark, stateDir, batchId,
      b.select(ts.as("wm")))
    Seq((batchId, next.count())).toDF("batch_id", "n_entities")
  }

  /** Empty incremental-retention state: the distinct `(_e, _d)`
    * entity-day frame [[retentionAdvance]] folds batches into. */
  def retentionEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("_e", LongType, nullable = false),
        StructField("_d", DateType, nullable = false))))
  }

  /** Advance the incremental retention state: the state IS the distinct
    * `(entity, activity-day)` frame — events collapse to entity-days
    * (bounded by users × days, not event volume) and merge by an
    * idempotent union+distinct, so a replayed batch is a no-op. Unlike
    * the funnel fold this is exact under ANY batching, not just watermark
    * loads: a late batch that back-fills an earlier first-activity day
    * simply wins the min when the matrix recomputes from state. */
  def retentionAdvance(stateDays: DataFrame, batch: DataFrame,
                       entity: Column, ts: Column): DataFrame =
    stateDays.unionByName(
      batch.select(StateKeys.asLong(entity).as("_e"), ts.cast("date").as("_d"))
        .distinct())
      .distinct()

  /** Streaming retention sink (`foreachBatch` target) — the q193/q197
    * family's streaming member, in the [[graft.etl.BatchSnapshots]]
    * append form: each micro-batch's NEW entity-days (the delta against
    * strictly-earlier batches) land under `stateDir/days/batch_id=K`, so
    * a replayed micro-batch rewrites its own partition instead of
    * double-counting. The cohort matrix reads with [[retentionMatrixFrom]]
    * at any point. Returns the batch report `(batch_id, n_days_added)`. */
  def retentionBatch(stateDir: String, entity: Column, ts: Column)
                    (batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val daysDir = s"$stateDir/days"
    val cand = batch.select(StateKeys.asLong(entity).as("_e"),
      ts.cast("date").as("_d")).distinct()
    val old = graft.etl.BatchSnapshots.allBelow(spark, daysDir, batchId,
      "batch_id", cand.limit(0))
    val delta = cand.join(old, Seq("_e", "_d"), "left_anti").localCheckpoint()
    val nAdded = delta.count()
    graft.etl.BatchSnapshots.land(delta, daysDir, batchId, "batch_id")
    Seq((batchId, nAdded)).toDF("batch_id", "n_days_added")
  }

  /** The cohort matrix off a [[retentionBatch]] state dir (empty when no
    * batch has landed a day yet). */
  def retentionMatrixFrom(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String): DataFrame = {
    import spark.implicits._
    retentionMatrix(graft.etl.BatchSnapshots.allBelow(spark, s"$stateDir/days",
      Long.MaxValue, "batch_id", Seq.empty[(Long, java.sql.Date)].toDF("_e", "_d")))
  }

  /** [[retentionCohorts]]-shaped matrix off the incremental state: cohorts
    * from the state's per-entity min day, cells by day offset. State rows
    * are unique `(entity, day)` pairs, so the cell count is a plain
    * `count(*)`. */
  def retentionMatrix(stateDays: DataFrame): DataFrame = {
    val first = stateDays.groupBy("_e").agg(min(col("_d")).as("_cohort"))
    stateDays.join(first, "_e")
      .groupBy(col("_cohort"),
        datediff(col("_d"), col("_cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("_cohort").cast("timestamp").as("cohort_day"),
        col("day_offset"), col("active_users"))
  }

  /** Retention cohort matrix at day grain: entities bucket by their FIRST
    * activity day (the cohort), and each (cohort, day-offset) cell counts
    * the cohort's entities active that many days later — the funnel's
    * longitudinal twin. Two aggregates and one key join: first-day per
    * entity (map-combined min), join back, distinct-count per cell. Output
    * `(cohort_day TIMESTAMP, day_offset BIGINT, active_users BIGINT)`
    * (timestamp, not date — the hash-gate convention). */
  def retentionCohorts(df: DataFrame, entity: Column, ts: Column): DataFrame = {
    val e = df.select(entity.as("_e"), ts.cast("date").as("_d"))
    val first = e.groupBy("_e").agg(min(col("_d")).as("_cohort"))
    e.join(first, "_e")
      .groupBy(col("_cohort"),
        datediff(col("_d"), col("_cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("_e")).as("active_users"))
      .select(col("_cohort").cast("timestamp").as("cohort_day"),
        col("day_offset"), col("active_users"))
  }

  /** Empty incremental-RFM state: one row per entity —
    * `(_e, _last DATE, _freq, _cents)`. */
  def rfmEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("_e", LongType, nullable = false),
        StructField("_last", DateType, nullable = true),
        StructField("_freq", LongType, nullable = false),
        StructField("_cents", LongType, nullable = false))))
  }

  /** Advance the incremental RFM state with one order batch — a pure
    * MONOID merge (max last-activity date, sum frequency, sum cents), so
    * unlike the funnel fold this is exact under ANY batching, late
    * back-fills included. The batch collapses to entity grain map-side
    * before the one keyed state join; order history is never rescanned.
    * Quintile segments recompute from the entity-grain state
    * ([[rfmSegments]]) — ranks are global properties and cannot fold, but
    * their input is the state, not the history. */
  def rfmAdvance(state: DataFrame, batch: DataFrame, entity: Column,
                 orderDate: Column, cents: Column): DataFrame = {
    val b = batch.groupBy(StateKeys.asLong(entity).as("_e"))
      .agg(max(orderDate.cast("date")).as("_bl"),
        count(lit(1)).as("_bf"),
        sum(cents.cast("long")).as("_bc"))
    state.join(b, Seq("_e"), "full_outer")
      .select(col("_e"),
        when(col("_last").isNull, col("_bl"))
          .when(col("_bl").isNull, col("_last"))
          .otherwise(greatest(col("_last"), col("_bl"))).as("_last"),
        (coalesce(col("_freq"), lit(0L)) + coalesce(col("_bf"), lit(0L)))
          .as("_freq"),
        (coalesce(col("_cents"), lit(0L)) + coalesce(col("_bc"), lit(0L)))
          .as("_cents"))
  }

  /** Streaming RFM sink (`foreachBatch` target) in the
    * [[graft.etl.BatchSnapshots]] snapshot form under `state/bid=K` (a
    * monoid STATE has no append form). Snapshots below the replay
    * barrier are compactable (delete `bid < K-1`); the entity-grain
    * snapshot is the honest floor for a global-rank workload. Returns
    * `(batch_id, n_entities)`. */
  def rfmBatch(stateDir: String, entity: Column, orderDate: Column,
               cents: Column)(batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, Seq("_e", "_last", "_freq", "_cents"),
        rfmEmptyState(spark))(
      prior => rfmAdvance(prior, batch, entity, orderDate, cents))
    Seq((batchId, next.count())).toDF("batch_id", "n_entities")
  }

  /** The latest persisted [[rfmBatch]] snapshot — or the empty state when
    * the dir exists but holds no snapshot yet (read before the first batch
    * commits, or after a compaction emptied it): max(bid) over zero rows is
    * NULL, and the same null-check [[rfmBatch]]'s own prior-read applies
    * must hold here too instead of an NPE. */
  def rfmStateFrom(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String): DataFrame =
    graft.etl.BatchSnapshots.latest(spark, s"$stateDir/state",
      Seq("_e", "_last", "_freq", "_cents"), rfmEmptyState(spark))

  /** RFM segmentation: per-entity recency/frequency/monetary metrics, each
    * cut into exact rank quintiles — `q = (rank-1)·5 div N + 1` over the
    * total order (metric, entity) — and entities counted per (R,F,M) cell.
    * Ranks come from [[Windows.globalRowNumberOrdered]] (the bucket+offset
    * composition — one bounded B-way shuffle per metric, never a
    * SinglePartition window over the entity universe); everything is
    * integer arithmetic, so the segment assignment replays exactly.
    * Recency ranks ASCENDING (fewer days since last activity = quintile 1);
    * frequency and monetary rank DESCENDING via negation (bigger = quintile
    * 1) — the conventional RFM orientation. */
  def rfmSegments(perEntity: DataFrame, entity: String, recency: String,
                  frequency: String, monetary: String): DataFrame = {
    // The three metric ranks are INDEPENDENT functions of the entity-grain
    // input (each quintile labels by one metric's global row number, ties
    // broken by the entity key), so the r13 nested-quintile form — three
    // sequential globalRowNumberOrdered calls = six driver collects + three
    // checkpoints — ran 3x the actions the math needs. Fused (guide §1.2 /
    // §5 driver round-trips): ONE bounds+count collect for all metrics, ONE
    // checkpoint of the tri-bucketed frame, ONE histogram collect covering
    // all three bucket columns (metric-tagged explode), then offsets enter
    // the plan as literal arrays (element_at, no join) and the three rank
    // windows + the final cell count run as a single action. Bucket/offset/
    // rank arithmetic is copied verbatim from globalRowNumberOrdered, so
    // every quintile label is bit-identical to the nested form (q194/q199
    // oracle contract). Measured on q199: 61 jobs -> ~30, median 4.0 -> 2 s.
    val buckets = 64
    // orientation matches the nested form: recency ascending, frequency
    // and monetary descending (rank 1 = most frequent / highest spend)
    val metrics: Seq[(String, Column)] = Seq(
      ("r_q", col(recency)), ("f_q", -col(frequency)), ("m_q", -col(monetary)))
    val per = perEntity.localCheckpoint()
    val bounds = per.agg(count(lit(1)).as("__n"),
      metrics.flatMap { case (a, m) =>
        Seq(min(m).cast("double").as(s"__lo_$a"),
          max(m).cast("double").as(s"__hi_$a")) }: _*).collect()(0)
    val n = bounds.getLong(0)
    if (n == 0L)
      // empty input: the nested form numbered nothing and aggregated zero
      // rows — same here, schema preserved
      return per.limit(0).select(lit(null).cast("int").as("r_q"),
          lit(null).cast("int").as("f_q"), lit(null).cast("int").as("m_q"))
        .groupBy("r_q", "f_q", "m_q").agg(count(lit(1)).as("n_customers"))
    // a metric with no min is all-null: like the nested form, its column
    // gets a null label while the other metrics still rank
    val spans = metrics.zipWithIndex.collect {
      case ((a, _), i) if !bounds.isNullAt(1 + 2 * i) =>
        val lo = bounds.getDouble(1 + 2 * i)
        a -> (lo, bounds.getDouble(2 + 2 * i) - lo + 1.0)
    }.toMap
    def bkt(a: String, m: Column): Column = spans.get(a).fold(lit(null).cast("int")) {
      case (lo, span) =>
        least(floor((m.cast("double") - lit(lo)) * buckets / span).cast("int"),
          lit(buckets - 1))
    }
    val bucketed = per.select(col("*") +:
      metrics.map { case (a, m) => bkt(a, m).as(s"__bkt_$a") }: _*)
      .localCheckpoint()
    // one histogram pass for all three metrics: explode to (metric, bucket)
    val hist = bucketed.select(explode(array(metrics.zipWithIndex.map {
        case ((a, _), i) => struct(lit(i).as("m"), col(s"__bkt_$a").as("b"))
      }: _*)).as("mb"))
      .filter(col("mb.b").isNotNull)
      .groupBy(col("mb.m").as("m"), col("mb.b").as("b"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def offsets(i: Int): Seq[Long] = (0 until buckets)
      .scanLeft(0L)((acc, b) => acc + hist.getOrElse((i, b), 0L)).init
    val cut = metrics.zipWithIndex.foldLeft(bucketed) {
      case (df, ((a, _), _)) if !spans.contains(a) =>
        df.withColumn(a, lit(null).cast("int"))
      case (df, ((a, m), i)) =>
        val off = element_at(lit(offsets(i).toArray), col(s"__bkt_$a") + 1)
        val rank = off + row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(s"__bkt_$a").orderBy(m, col(entity)))
        df.withColumn(a,
          (call_function("div", (rank - 1L) * 5L, lit(n)) + 1L).cast("int"))
    }
    cut.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"))
  }

  def applyDelta(state: DataFrame, plus: DataFrame, minus: DataFrame,
                 keys: Seq[String], measures: Seq[String]): DataFrame = {
    def signed(df: DataFrame, sign: Int, preAggregated: Boolean): DataFrame = {
      val ms = measures.map(m =>
        (col(m).cast("decimal(38,2)") * sign).as(m))
      val n = if (preAggregated) (col("n_rows") * sign).as("n_rows")
      else lit(sign.toLong).as("n_rows")
      df.select(keys.map(col) ++ ms :+ n: _*)
    }
    signed(state, 1, preAggregated = true)
      .unionByName(signed(plus, 1, preAggregated = false))
      .unionByName(signed(minus, -1, preAggregated = false))
      .groupBy(keys.map(col): _*)
      .agg(sum(measures.head).as(measures.head),
        (measures.tail.map(m => sum(m).as(m)) :+ sum("n_rows").as("n_rows")): _*)
      .filter(col("n_rows") > 0)
      .select(keys.map(col) ++
        measures.map(m => col(m).cast("decimal(38,2)").as(m)) :+ col("n_rows"): _*)
  }
}
