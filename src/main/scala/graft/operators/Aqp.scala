package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, Rounding}

/** Approximate query processing over deterministic hash samples.
  *
  * The reference answers its dashboards by re-aggregating full extracts per
  * refresh (`scripts/SQL/avg_daily_orders_sales.sql:2-13` — the daily
  * rollup scans the whole fact table for two averages); at 100 TB a
  * dashboard cannot pay a table scan per refresh. A Bernoulli synopsis
  * keyed by a PORTABLE hash gives (a) a sample any engine reproduces
  * bit-for-bit ([[graft.functions.PortableHash.mixp]] — the LSH mixer, so
  * the DuckDB oracle replays membership exactly), (b) unbiased
  * Horvitz–Thompson estimates with closed-form error bars, and (c) a
  * synopsis computed ONCE and persisted, re-answering many aggregates —
  * the BlinkDB shape. The estimate pass touches `p` of the table's bytes;
  * everything downstream of [[hashSample]] is an ordinary map-combined
  * aggregate.
  *
  * Estimator math (Bernoulli sampling, inclusion probability p = num/den):
  * {{{
  *   Ŝ        = Σ_{i∈S} x_i / p                unbiased for Σ x_i
  *   Var̂(Ŝ)  = (1-p)/p² · Σ_{i∈S} x_i²        HT per-term variance estimate
  *   CI95     = Ŝ ± 1.96 · √Var̂
  * }}}
  * Both engines evaluate the same IEEE expression tree (sqrt is correctly
  * rounded everywhere), so even the CI bounds replay bit-for-bit before
  * the final 4dp rounding.
  */
object Aqp {

  /** Deterministic Bernoulli sample: keep rows whose portable mix of `key`
    * lands in the first `num` of `den` hash residues. Same key → same
    * verdict in every engine, every run, every partitioning. */
  def hashSample(df: DataFrame, key: Column, num: Int, den: Int): DataFrame = {
    require(num >= 1 && num < den, s"need 1 <= num < den, got $num/$den")
    df.filter(pmod(PortableHash.mixpCol(key), lit(den.toLong)) < lit(num.toLong))
  }

  /** Per-group estimated SUM of an integral measure from a `num/den`
    * Bernoulli sample, with a 95% confidence interval. Returns the group
    * columns + `(est_sum, ci_lo, ci_hi, n_sampled)`; estimates are
    * 4dp-rounded doubles (C rounding — oracle-comparable), `n_sampled` the
    * sampled support. Groups with no sampled row are absent (their
    * estimate is 0 with an empty CI — callers needing every group join
    * against the group universe). */
  def estimateSum(df: DataFrame, groupCols: Seq[String], measure: Column,
                  key: Column, num: Int, den: Int): DataFrame = {
    val x = measure.cast("long")
    val s = hashSample(df, key, num, den)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(x.cast("decimal(38,0)")).as("_sx"),
        sum(x.cast("decimal(19,0)") * x.cast("decimal(19,0)")).as("_sxx"),
        count(lit(1)).as("n_sampled"))
    htSelect(s, groupCols, num, den)
  }

  /** The HT estimate + CI tail over pre-aggregated `(_sx, _sxx, n_sampled)`
    * columns — shared by per-row ([[estimateSum]]) and per-key
    * ([[estimateKeyedSum]]) sampling units. */
  private def htSelect(s: DataFrame, groupCols: Seq[String],
                       num: Int, den: Int): DataFrame = {
    val scale = den.toDouble / num.toDouble
    val vfac = (den.toLong * (den - num)).toDouble / (num.toLong * num).toDouble
    val est = col("_sx").cast("double") * lit(scale)
    val half = lit(1.96) * sqrt(col("_sxx").cast("double") * lit(vfac))
    s.select((groupCols.map(col) :+
      Rounding.roundLikeC(est, 4).as("est_sum") :+
      Rounding.roundLikeC(est - half, 4).as("ci_lo") :+
      Rounding.roundLikeC(est + half, 4).as("ci_hi") :+
      col("n_sampled")): _*)
  }

  /** Estimated per-group SUM over a UNIVERSE-SAMPLED JOIN — the
    * Quickr/BlinkDB join trick: sample BOTH relations with the SAME
    * portable hash on the JOIN key and the join of the samples is a
    * p-sample of the join (every row of a sampled key's cluster survives
    * together), not the useless p² a row-wise sample of each side gives.
    *
    * `joined` must be the join of two [[hashSample]]-ed (same key, same
    * num/den) relations. The sampling unit is the KEY, so the estimator is
    * cluster-HT: per-key totals y_k first, then Ŝ = Σ y_k/p and
    * Var̂ = (1-p)/p²·Σ y_k² over keys. `n_sampled` counts sampled KEYS in
    * the group (each key's whole cluster is in or out together — a key
    * must not straddle groups, which holds when the group is a function
    * of the key's dimension row). */
  /** foreachBatch sink: STREAMING synopsis maintenance — the streaming
    * member of the AQP family (sampling is closed under union, so a
    * persisted synopsis advances by sampling ONLY the arriving batch). Each
    * micro-batch's sampled rows land under their own `batch_id=N/`
    * partition ([[graft.etl.BatchSnapshots]] append form), so an
    * at-least-once replay REPLACES its own partition instead of
    * double-appending. Dashboards read the synopsis dir and pay p of the
    * corpus:
    * {{{
    *   events.writeStream.foreachBatch(
    *     Aqp.synopsisBatch(dir, col("event_id"), 1, 20) _).start()
    *   // later: estimateSum(spark.read.parquet(dir), ..., 1, 20) — the
    *   // estimator re-applies hashSample, which is IDEMPOTENT (membership
    *   // is a function of the key), so it passes every synopsis row and
    *   // the estimates equal a from-scratch sample of the full table.
    * }}} */
  def synopsisBatch(dir: String, key: Column, num: Int, den: Int)
                   (batch: DataFrame, batchId: Long): Unit =
    graft.etl.BatchSnapshots.land(hashSample(batch, key, num, den), dir,
      batchId, "batch_id")

  /** Priority sampling (Duffield–Lund–Thorup) — the HEAVY-TAIL estimator
    * Bernoulli HT lacks: a uniform p-sample's variance blows up when a few
    * rows carry most of the mass (exactly the shape of revenue, token
    * counts, bytes). Each row gets priority `q = w / u` with
    * `u = (mixp(key)+1) / 2^31` (portable — the sample replays in SQL);
    * the k largest-priority rows are the sample, τ is the (k+1)-th
    * priority, and a subset's estimate is `Σ max(w_i, τ)` over its sampled
    * rows — unbiased, with near-optimal variance, and heavy rows are
    * ALWAYS in (w ≥ τ ⇒ sampled with probability 1, contributing exactly
    * w).
    *
    * Scale shape: ONE distributed top-(k+1) (TakeOrderedAndProject — no
    * global sort) and a k-row driver fold; the sample is driver-sized by
    * design. Determinism: τ quantizes to the next integer weight unit
    * (`ceil`) so the per-group sums are exact integers — order-independent
    * and oracle-replayable; using a threshold ≥ τ keeps every estimate
    * well-defined and adds at most k weight-units of upward bias (cents
    * here — noise at any real scale).
    *
    * Returns `(groupCols..., est_sum, n_sampled)` with `est_sum` an exact
    * integer in the weight's unit; groups with no sampled row are absent
    * (join against the group universe, as with [[estimateSum]]). */
  def priorityEstimateSum(df: DataFrame, groupCols: Seq[String],
                          key: Column, weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val base = df.select((groupCols.map(col) :+
      key.cast("long").as("_k") :+ weight.cast("long").as("_w")): _*)
    val withP = base.withColumn("_prio",
      col("_w").cast("double") * lit(2147483648.0) /
        (PortableHash.mixpCol(col("_k")) + lit(1L)).cast("double"))
    val top = withP.orderBy(col("_prio").desc, col("_k").asc)
      .limit(k + 1).collect()
      .sortBy(r => (-r.getAs[Double]("_prio"), r.getAs[Long]("_k")))
    val (sample, tau) =
      if (top.length <= k) (top, 0.0)
      else (top.take(k), top(k).getAs[Double]("_prio"))
    val tauL = math.ceil(tau).toLong
    val grouped = sample.toSeq
      .groupBy(r => groupCols.map(c => r.getAs[Any](c)))
      .map { case (g, rows) =>
        Row.fromSeq(g ++ Seq(
          rows.map(r => math.max(r.getAs[Long]("_w"), tauL)).sum,
          rows.size.toLong))
      }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      groupCols.map(c => base.schema(c)) ++ Seq(
        org.apache.spark.sql.types.StructField("est_sum",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_sampled",
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(grouped, 1), schema)
  }

  /** Distinct-count estimate from the SAME row synopsis that answers sums —
    * no second sketch state (the HLL registers of q186 are the
    * precision path; this is the zero-extra-state one). The GEE estimator
    * (Charikar–Chaudhuri–Motwani–Narasayya):
    * `D̂ = √(1/p)·f₁ + Σ_{j≥2} f_j` — values seen once in the sample are
    * scaled up (each may proxy for many unseen twins), values seen twice+
    * are counted once (they are likely fully represented). Deterministic:
    * the sample replays, f-statistics are integers, and √(den/num) is one
    * correctly-rounded IEEE op. Returns
    * `(groupCols..., est_distinct, f1, d_sampled)`. */
  def estimateDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                       key: Column, num: Int, den: Int): DataFrame = {
    val perValue = hashSample(df, key, num, den)
      .groupBy((groupCols.map(col) :+ value.as("_v")): _*)
      .agg(count(lit(1)).as("_c"))
    perValue.groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("_f1"),
        count(lit(1)).as("_dt"))
      .select((groupCols.map(col) :+
        Rounding.roundLikeC(
          sqrt(lit(den.toDouble / num.toDouble)) * col("_f1").cast("double") +
            (col("_dt") - col("_f1")).cast("double"), 4).as("est_distinct") :+
        col("_f1").as("f1") :+ col("_dt").as("d_sampled")): _*)
  }

  /** Stratified sampling with a per-group guarantee — the BlinkDB answer
    * to the failure mode a uniform sample has on SMALL groups (q181's
    * 2-rows-per-source CIs): every group contributes its `m`
    * lowest-hash-order rows (groups at or under `m` rows are taken whole —
    * their estimates are EXACT), and the per-stratum expansion
    * `N_h · mean(sample_h)` estimates each group from its own rows only.
    *
    * One window shuffle (partition by group: row_number over the portable
    * hash order + the group count from the same partition — no second
    * pass); the sample size is `groups × m`, independent of data size.
    * Expansion arithmetic is exact integers up to the final division
    * (4dp-rounded double — oracle-replayable). Returns
    * `(groupCols..., est_sum, n_group, n_sampled)`; every group present. */
  def stratifiedEstimateSum(df: DataFrame, groupCols: Seq[String],
                            key: Column, weight: Column, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val wOrd = w.orderBy(PortableHash.mixpCol(col("_k")), col("_k"))
    df.select((groupCols.map(col) :+
        key.cast("long").as("_k") :+ weight.cast("long").as("_w")): _*)
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("n_group", count(lit(1)).over(w))
      .filter(col("_rn") <= m)
      .groupBy((groupCols.map(col) :+ col("n_group")): _*)
      .agg(
        sum(col("_w").cast("decimal(38,0)")).as("_sw"),
        count(lit(1)).as("n_sampled"))
      .select((groupCols.map(col) :+
        Rounding.roundLikeC(
          col("_sw").cast("double") * col("n_group").cast("double") /
            col("n_sampled").cast("double"), 4).as("est_sum") :+
        col("n_group") :+ col("n_sampled")): _*)
  }

  def estimateKeyedSum(joined: DataFrame, groupCols: Seq[String],
                       measure: Column, key: Column,
                       num: Int, den: Int): DataFrame = {
    val perKey = joined
      .groupBy((groupCols.map(col) :+ key.as("_k")): _*)
      .agg(sum(measure.cast("long")).as("_y"))
    // y² sums in exact DECIMAL: cents-scale cluster totals overflow an
    // int64 Σy² already at sf0.1, let alone at 100 TB.
    val s = perKey.groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("_y").cast("decimal(38,0)")).as("_sx"),
        sum(col("_y").cast("decimal(19,0)") * col("_y").cast("decimal(19,0)"))
          .as("_sxx"),
        count(lit(1)).as("n_sampled"))
    htSelect(s, groupCols, num, den)
  }
}
