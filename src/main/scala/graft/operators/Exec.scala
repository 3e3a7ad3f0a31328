package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared execution micro-helpers for the iterative operators. */
object Exec {

  /** Hash-spread `df` over the cluster's default parallelism — but ONLY
    * when its planned partition count is below it. The guard is what makes
    * the spread scale-adaptive rather than a local tuning: a CPU-heavy
    * per-row kernel (MinHash signatures, Levenshtein DP, image decode)
    * inherits its input's partitioning, and a narrow input (one small
    * parquet file → one scan task; a broadcast-join output following a
    * 1-partition base) serializes the whole kernel on one core. At corpus
    * scale the input already has ≥ cluster-parallelism partitions and this
    * is the identity — no exchange is added where the scan is already
    * wide. Row-level semantics are untouched (hash partitioning is
    * deterministic; no downstream operator here is order-sensitive). */
  def spreadIfNarrow(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, keys: _*) else df
  }

  /** Materialize `df` (eager localCheckpoint) and tally its row count in
    * the SAME action via an accumulator fused into the materialization
    * pass — one Spark job where `localCheckpoint()` + `count()` costs two.
    * The [[Dedup.dupClusters]] convergence-tally pattern, extracted.
    *
    * CONTRACT: the returned count is for CONTROL FLOW ONLY (drain checks,
    * broadcast-tier choices, empty-set short-circuits), never for result
    * values. Spark guarantees exactly-once accumulator updates only for
    * actions; a task retry or speculative copy can re-add, so the tally
    * can only ever OVER-count — and every caller's decision is safe under
    * inflation: an inflated tier count falls back from forced-broadcast to
    * a planner-chosen join (correct either way), an inflated drain count
    * runs one more no-op round, and a zero stays exactly zero (an empty
    * partition adds nothing no matter how often it re-runs). Callers whose
    * count lands in RESULT rows (the Curate funnels) must keep the
    * separate retry-safe `count()` action instead. */
  def materializeCounted(df: DataFrame, tag: String): (DataFrame, Long) = {
    val acc = df.sparkSession.sparkContext.longAccumulator(tag)
    val out = df.mapPartitions { rows =>
      rows.map { r => acc.add(1L); r }
    }(org.apache.spark.sql.Encoders.row(df.schema))
      .localCheckpoint()
    (out, acc.value)
  }
}
