package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding feature conditioning for similarity/ANN pipelines.
  *
  * Standardizing (per-dimension z-score) before LSH/IVF/PQ matters at
  * corpus scale: dimensions with large variance otherwise dominate every
  * distance, and quantizer cells collapse along them. This is the classic
  * preprocessing step the reference-adjacent ANN stack assumes
  * (`scripts/test/transform.py`-era pipelines do it in pandas;
  * `sparkFiles/sparkProcess.py:248-267` is the same aggregate→broadcast
  * shape on business columns).
  */
object Features {

  /** Per-dimension z-score standardization of a vector column, emitted in
    * exploded (id, dim_idx, z) form.
    *
    * Engine-portable exactness (the q86 idiom): vectors are quantized to
    * integral doubles (`round(x·10⁴)`), so the per-dimension sum and
    * sum-of-squares are EXACT LONGS — order-independent across partitions
    * and engines (a raw float sum would drift in the last ulp per
    * accumulation order). Mean/std then derive from those two longs with a
    * fixed IEEE op sequence, and the z-value rounds C-like at 4dp with the
    * `+ 0.0` negative-zero normalization.
    *
    * Scale shape: one posexplode → 64-key aggregate (map-side partials
    * collapse every partition to ≤ dim rows) → the dim-row stats frame
    * BROADCAST back over a pure projection. No corpus-sized shuffle at all:
    * the join key is `dim_idx`, a ≤ dim-value key whose build side is tiny
    * by construction. Zero-variance dimensions emit z = 0 (the constant
    * carries no signal; NaN would poison downstream folds).
    */
  def standardize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val qx = transform(col(vecCol).cast("array<double>"),
      x => round(x * lit(10000.0d)))
    val exploded = df
      .select(col(idCol), posexplode(qx).as(Seq("dim_idx", "__v")))
      .withColumn("__v", col("__v").cast("long"))
    val stats = exploded.groupBy("dim_idx")
      .agg(sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__s2"),
        count(lit(1)).as("__n"))
      .select(col("dim_idx"),
        (col("__s").cast("double") / col("__n")).as("__mean"),
        sqrt(col("__s2").cast("double") / col("__n") -
          (col("__s").cast("double") / col("__n")) *
            (col("__s").cast("double") / col("__n"))).as("__std"))
    exploded.join(broadcast(stats), "dim_idx")
      .select(col(idCol), col("dim_idx"),
        (when(col("__std") > 0.0,
          graft.functions.Rounding.roundLikeC(
            (col("__v").cast("double") - col("__mean")) / col("__std"), 4))
          .otherwise(lit(0.0)) + lit(0.0)).as("z"))
  }

  /** Deterministic distributed k-means (Lloyd) over integer-quantized
    * vectors — the clustering primitive behind cluster-balanced data
    * curation (DCLM-style cluster sampling, SemDeDup's cluster-then-compare
    * at `Similarity.semDedup`). The reference-era stack clusters embeddings
    * in scikit-learn on a driver (`scripts/test/transform.py`-adjacent
    * pandas flows); here every step is distributed AND engine-replayable:
    *
    *  - vectors quantize once to integral doubles → longs (`round(x·10⁴)`,
    *    the q86 idiom), so every distance is an EXACT int64 — assignment
    *    argmins cannot flip on a last-ulp float difference between engines
    *    or partition orders;
    *  - init = the first `k` corpus vectors in [[Packing.mix2]]-hash order
    *    (a uniform sample, the q42 centroid idiom) — no RNG, no global sort
    *    (TakeOrderedAndProject keeps it a top-k, not a full sort);
    *  - each Lloyd sweep: (a) assignment is ONE pure projection against the
    *    broadcast k×dim centroid literal (struct(dist, cell) array_min —
    *    ties to the lowest cell), no crossJoin, no shuffle; (b) the update
    *    aggregates per-(cell, dim) SUM/COUNT of the quantized components —
    *    exact longs, partial-aggregated map-side, so the one shuffle carries
    *    ≤ k·dim rows per partition; the new component is
    *    `round(sum/count)` (one IEEE division then half-away-from-zero
    *    rounding — `std::round` semantics, mirrored exactly by DuckDB's
    *    ROUND and by [[roundHalfAway]] here), landing centroids back in the
    *    integer domain for the next exact-integer sweep. Empty cells keep
    *    their previous centroid.
    *
    * Only the k×dim long matrix ever reaches the driver (it must — the next
    * iteration broadcasts it). At 100 TB the per-sweep cost is one corpus
    * scan + a k·dim-sized aggregate: the textbook scalable Lloyd shape.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame = {
    val qx = quantized(df, idCol, vecCol)
    val cents = kmeansTrain(qx, k, iters)
    assignQuantized(qx, cents)
      .select(col("__id").as(idCol), col("cell"), col("dist"))
  }

  /** (id long, q array<long>) quantized view — shared by train and assign
    * so the two cannot disagree on the quantization.
    *
    * Domain contract (same as the q86/q101/q32 quantized-vector family):
    * components must satisfy |x| < ~1e4 so that a squared difference
    * (2·1e4·1e4)² ≈ 1.6e17 summed over ≤ 64 dims stays inside int64
    * (~9.2e18). Embedding-normalized inputs (|x| ≤ a few) are orders of
    * magnitude inside the bound; only raw un-normalized features could
    * approach it — standardize ([[standardize]]) first. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("__id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * lit(10000.0d)).cast("long")).as("__q"))

  /** Exact-integer argmin assignment against a centroid literal: one
    * codegen'd projection, ties to the lowest cell. */
  private def assignQuantized(qx: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val centArr = typedlit(cents.map { case (cell, v) => (v, cell) })
    val pick = array_min(transform(centArr, c =>
      struct(
        aggregate(
          zip_with(col("__q"), c.getField("_1"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        c.getField("_2").as("cell"))))
    qx.select(col("__id"), col("__q"),
      pick.getField("cell").as("cell"), pick.getField("dist").as("dist"))
  }

  /** `std::round` twin for the centroid update: half away from zero on the
    * EXACT binary value (BigDecimal, not `Math.round`'s floor(x+0.5), which
    * disagrees on negative halves and on the largest double below 0.5). */
  private[graft] def roundHalfAway(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** `iters` Lloyd sweeps from the mix2-sampled init; returns the k×dim
    * integer centroid matrix. */
  private[graft] def kmeansTrain(qx: DataFrame, k: Int,
                                 iters: Int): Seq[(Int, Seq[Long])] = {
    val spark = qx.sparkSession
    import spark.implicits._
    val init = qx
      .orderBy(Packing.mix2(col("__id")), col("__id"))
      .limit(k)
      .select(col("__q")).as[Seq[Long]].collect()
    require(init.nonEmpty, "corpus too small to sample centroids")
    var cents: Seq[(Int, Seq[Long])] = init.toSeq.zipWithIndex.map(_.swap)
    // each sweep IS the incremental pair (stats → frozen-init step): ONE
    // implementation of the update rule, so batch training and the
    // mini-batch advance can never disagree on rounding or the
    // empty-cell rule (the quantized/assignQuantized sharing argument)
    for (_ <- 0 until iters)
      cents = kmeansCentroidsFrom(cellStatsQuantized(qx, cents), cents)
    cents
  }

  /** Per-(cell, dim) exact sums/counts of an already-quantized frame under
    * `cents` — shared by [[kmeansTrain]]'s sweeps and
    * [[kmeansCellStats]]. */
  private def cellStatsQuantized(qx: DataFrame,
                                 cents: Seq[(Int, Seq[Long])]): DataFrame =
    assignQuantized(qx, cents)
      .select(col("cell"), posexplode(col("__q")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

  /** The trained k×dim integer centroid matrix alone — the FROZEN
    * quantizer for the mini-batch path ([[kmeansCellStats]] /
    * [[kmeansStatsAdvance]] / [[kmeansCentroidsFrom]]), the IVF
    * train-then-add discipline applied to k-means. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Seq[(Int, Seq[Long])] =
    kmeansTrain(quantized(df, idCol, vecCol), k, iters)

  /** Per-(cell, dim) EXACT sufficient statistics of one batch under a
    * frozen centroid matrix: `(cell, pos, s, n)` — integer component sums
    * and counts from the exact-int64 argmin assignment. This is the
    * k-means STATE: a pure monoid (sums add), so states from disjoint
    * batches merge into exactly what a single pass over their union would
    * compute — the NB/BM25 incremental discipline applied to clustering. */
  def kmeansCellStats(df: DataFrame, idCol: String, vecCol: String,
                      cents: Seq[(Int, Seq[Long])]): DataFrame =
    cellStatsQuantized(quantized(df, idCol, vecCol), cents)

  /** Advance the k-means state with one vector batch: per-(cell, pos)
    * full-outer SUM merge — one shuffle sized k·dim + k·dim, never the
    * corpus. An empty batch is the monoid identity by construction (its
    * stats frame is empty; coalesce keeps the state side). */
  def kmeansStatsAdvance(state: DataFrame, batch: DataFrame, idCol: String,
                         vecCol: String,
                         cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val b = kmeansCellStats(batch, idCol, vecCol, cents)
      .withColumnRenamed("s", "_bs").withColumnRenamed("n", "_bn")
    state.join(b, Seq("cell", "pos"), "full_outer")
      .select(col("cell"), col("pos"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("_bs"), lit(0L))).as("s"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_bn"), lit(0L))).as("n"))
  }

  /** One frozen-init Lloyd step off the folded state: centroid =
    * `round(s/n)` per (cell, pos) — exactly the update a full sweep over
    * every batch's union would produce from the frozen matrix, because
    * the state IS that sweep's aggregate. Cells no batch row ever reached
    * keep their frozen centroid (the empty-cell rule of the batch
    * trainer). Only k×dim longs reach the driver. */
  def kmeansCentroidsFrom(state: DataFrame,
                          frozen: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] = {
    val rows = state.select(col("cell").cast("int"), col("pos").cast("int"),
        col("s"), col("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byCell = rows.groupBy(_._1).view.mapValues { rs =>
      rs.sortBy(_._2).map { case (_, _, s, n) =>
        roundHalfAway(s.toDouble / n)
      }.toSeq
    }.toMap
    frozen.map { case (c, old) => (c, byCell.getOrElse(c, old)) }
  }

  /** Empty k-means stat state: `(cell, pos, s, n)`. */
  def kmeansEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("s", LongType, nullable = false),
        StructField("n", LongType, nullable = false))))
  }

  /** `foreachBatch` sink maintaining the mini-batch k-means stat state —
    * the streaming member of the family ([[kmeansAssign]] batch,
    * [[kmeansStatsAdvance]] incremental), in the
    * [[graft.etl.BatchSnapshots]] snapshot form under `state/bid=K`.
    * Snapshots are k×dim rows — bytes per batch. Returns
    * `(batch_id, n_cells)`. */
  def kmeansBatch(stateDir: String, idCol: String, vecCol: String,
                  cents: Seq[(Int, Seq[Long])])
                 (batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, Seq("cell", "pos", "s", "n"),
        kmeansEmptyState(spark))(
      prior => kmeansStatsAdvance(prior, batch, idCol, vecCol, cents))
    Seq((batchId, next.select("cell").distinct().count()))
      .toDF("batch_id", "n_cells")
  }

  /** The latest persisted [[kmeansBatch]] snapshot — the empty state when
    * the dir holds no snapshots yet (the frontFrom null-check
    * discipline). */
  def kmeansStateFrom(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String): DataFrame =
    graft.etl.BatchSnapshots.latest(spark, s"$stateDir/state",
      Seq("cell", "pos", "s", "n"), kmeansEmptyState(spark))

  /** Assignment under a GIVEN centroid matrix (frozen or incrementally
    * advanced) — [[kmeansAssign]]'s scoring half, same exact-integer
    * distances and tie rule. */
  def kmeansAssignWith(df: DataFrame, idCol: String, vecCol: String,
                       cents: Seq[(Int, Seq[Long])]): DataFrame =
    assignQuantized(quantized(df, idCol, vecCol), cents)
      .select(col("__id").as(idCol), col("cell"), col("dist"))

  /** Candidate-set quality report — the measurement half of approximate
    * dedup: given CANDIDATE pairs (e.g. MinHash-LSH) and GROUND-TRUTH pairs
    * (exact Jaccard ≥ τ on the same corpus), emit one row of
    * (n_candidates, n_truth, tp, fp, fn, precision, recall). Run it on a
    * labeled slice whenever LSH knobs (bands/rows/shingle) change — recall
    * silently collapsing is THE classic dedup-pipeline failure, and a
    * fenced report query is cheaper than a bad training run.
    *
    * Both inputs are normalized to unordered pairs (least, greatest) before
    * set algebra, so either orientation matches. Scale: two pair-keyed
    * joins (semi + anti) over frames that are candidate-sized, not
    * corpus-sized; ratios round C-like at 6dp (the q83 parity pattern).
    */
  def candidateQuality(candidates: DataFrame, truth: DataFrame,
                       idA: String, idB: String): DataFrame = {
    def norm(df: DataFrame): DataFrame = df.select(
      least(col(idA), col(idB)).as("__a"),
      greatest(col(idA), col(idB)).as("__b")).distinct()
    val c = norm(candidates)
    val t = norm(truth)
    val tp = c.join(t, Seq("__a", "__b"), "left_semi")
    val fp = c.join(t, Seq("__a", "__b"), "left_anti")
    val fn = t.join(c, Seq("__a", "__b"), "left_anti")
    val counts = c.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(t.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("tp"))))
      .crossJoin(broadcast(fp.agg(count(lit(1)).as("fp"))))
      .crossJoin(broadcast(fn.agg(count(lit(1)).as("fn"))))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, graft.functions.Rounding.roundLikeC(
        num.cast("double") / den.cast("double"), 6) + lit(0.0))
        .otherwise(lit(0.0))
    counts.select(col("n_candidates"), col("n_truth"), col("tp"), col("fp"),
      col("fn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"))
  }

  /** Per-cell clustering-quality report over a trained k-means: the
    * audit a curation pipeline runs before TRUSTING cluster-balanced
    * sampling (q106) or SemDeDup cells (q73) — a cell with near-zero
    * silhouette is noise masquerading as structure, and sampling
    * "diversity" from it is a lie. Emits per cell: population, mean
    * distance-to-own-centroid, and mean SIMPLIFIED silhouette — the
    * linear-time variant ((b − a)/max(a, b) with a = dist to own
    * centroid, b = dist to nearest OTHER centroid), not the O(n²)
    * pairwise form, which is the only silhouette that exists at corpus
    * scale.
    *
    * Determinism/parity: distances are the exact-integer quantized
    * dists of [[kmeansAssign]] (same train, same tie rule: ROW_NUMBER
    * over (d, cell)); the per-vec silhouette is one IEEE division
    * 4dp-C-rounded, the means are DECIMAL sums divided once (the q100
    * convention), and a degenerate vec equal to two centroids
    * (max(a,b) = 0) scores 0.0 by definition in both engines.
    *
    * Scale shape: one projection computes all k distances per vec
    * (centroids broadcast as a literal, k·dim longs), the argmin and
    * the runner-up come from the SAME materialized array column (HOF
    * inputs evaluate once — the q98 re-evaluation trap is why `__ds`
    * is projected before the argmin reads it), and the only shuffle is
    * the k-row cell aggregate. */
  def clusterQualityReport(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int): DataFrame = {
    import graft.functions.Rounding.roundLikeC
    val qx = quantized(df, idCol, vecCol)
    val cents = kmeansTrain(qx, k, iters)
    val centArr = typedlit(cents.map { case (cell, v) => (v, cell) })
    val distsExpr = transform(centArr, c =>
      struct(
        aggregate(
          zip_with(col("__q"), c.getField("_1"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        c.getField("_2").as("cell")))
    val withD = qx.select(col("__id"), distsExpr.as("__ds"))
    val withA = withD.select(col("__id"), col("__ds"),
      array_min(col("__ds")).as("__a")) // struct compare: (dist, cell) — tie to lowest cell
    val perVec = withA.select(
      col("__id"),
      col("__a").getField("cell").as("cell"),
      col("__a").getField("dist").as("__adist"),
      array_min(filter(col("__ds"),
        d => d.getField("cell") =!= col("__a").getField("cell")))
        .getField("dist").as("__bdist"))
      .withColumn("__sil",
        when(greatest(col("__adist"), col("__bdist")) === 0L, lit(0.0))
          .otherwise(roundLikeC(
            (col("__bdist") - col("__adist")).cast("double") /
              greatest(col("__adist"), col("__bdist")).cast("double"), 4)))
    perVec.groupBy("cell").agg(
        count(lit(1)).as("n_vecs"),
        sum(col("__adist").cast("decimal(38,0)")).as("__dsum"),
        sum(col("__sil").cast("decimal(18,4)")).as("__ssum"))
      .select(col("cell"), col("n_vecs"),
        roundLikeC(col("__dsum").cast("double") / col("n_vecs").cast("double"), 4)
          .as("mean_dist"),
        (roundLikeC(col("__ssum").cast("double") / col("n_vecs").cast("double"), 4)
          + lit(0.0)).as("mean_silhouette"))
  }
}
