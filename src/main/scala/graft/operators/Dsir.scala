package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, Rounding}

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every document by how
  * much more likely its hashed-bigram features are under a TARGET
  * distribution (e.g. curated/high-quality docs) than under the RAW corpus
  * distribution. Documents are then importance-resampled by weight; this
  * operator produces the per-document log-ratio score.
  *
  * Model: bigrams hash into `buckets` buckets ([[PortableHash.poly]] — the
  * engine-portable fold, so the q97 oracle replays the bucketing exactly);
  * each distribution is the add-1-smoothed bucket histogram; a document's
  * score is the mean over its bigrams of
  * `ln((t_b+1)/(T+B)) - ln((r_b+1)/(R+B))`.
  *
  * Scale shape: one shuffle on the bucket id to build BOTH histograms (the
  * target count rides the same aggregation as the raw count — one pass, one
  * exchange), a `buckets`-row broadcast back onto the bigram stream, one
  * shuffle on the doc id to fold per-document scores. Nothing is ever keyed
  * on the corpus pair space. The per-document sum folds bigram scores IN
  * POSITION ORDER (float addition is not associative — same discipline as
  * `LmScore.unigramNll`), so results are bit-reproducible across runs,
  * partitionings, and engines.
  */
object Dsir {

  /** Per-document importance weights: (idCol, n_bigrams, avg_logratio).
    * `targetPred` marks the target-distribution rows; every input document
    * comes back (docs with < 2 tokens have no bigrams → weight 0.0).
    * avg_logratio > 0 ⇒ the document looks more target-like than raw. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        targetPred: Column, buckets: Int = 64): DataFrame =
    scoreWith(docs, idCol, textCol,
      histOf(docs, textCol, targetPred, buckets), buckets)

  /** The hashed-bigram stream: one row per (doc, bigram position) with its
    * bucket id — shared by histogram build and scoring so the two can
    * never disagree on tokenization or hashing. */
  private def bigramsOf(docs: DataFrame, keep: Seq[String],
                        textCol: String, buckets: Int): DataFrame = {
    val toks = docs.select((keep.map(col) :+
      graft.functions.Text.tokens(col(textCol)).as("__w")): _*)
    toks.filter(size(col("__w")) >= 2)
      .select((keep.map(col) :+
        posexplode(expr(
          "transform(sequence(1, size(__w)-1), i -> concat(element_at(__w,i), ' ', element_at(__w,i+1)))"))
          .as(Seq("pos", "bg"))): _*)
      .withColumn("__h", expr(s"(${PortableHash.polySql("bg")}) % ${buckets}L"))
  }

  /** The DSIR STATE from one document batch: the `(__h, __r, __t)` bucket
    * histogram — raw and target bigram counts per bucket, ≤ `buckets`
    * rows of exact integer sums, i.e. a monoid: [[histAdvance]] folds a
    * new batch in by addition, landing exactly the histograms a joint
    * build over the batches' union would produce (the q185 CMS linearity
    * argument verbatim). An empty batch yields the empty frame — the
    * identity under the full-outer merge. */
  def histOf(docs: DataFrame, textCol: String, targetPred: Column,
             buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    bigramsOf(docs.withColumn("__tgt", targetPred),
        Seq("__tgt"), textCol, buckets)
      .groupBy("__h").agg(
        count(lit(1)).as("__r"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__t"))
  }

  /** Advance the bucket-histogram state with one document batch: a
    * full-outer SUM merge on the bucket id — a `buckets`-row shuffle,
    * never the corpus. */
  def histAdvance(state: DataFrame, batch: DataFrame, textCol: String,
                  targetPred: Column, buckets: Int = 64): DataFrame = {
    val b = histOf(batch, textCol, targetPred, buckets)
      .withColumnRenamed("__r", "_br").withColumnRenamed("__t", "_bt")
    state.join(b, Seq("__h"), "full_outer")
      .select(col("__h"),
        (coalesce(col("__r"), lit(0L)) + coalesce(col("_br"), lit(0L))).as("__r"),
        (coalesce(col("__t"), lit(0L)) + coalesce(col("_bt"), lit(0L))).as("__t"))
  }

  /** Empty DSIR histogram state: `(__h, __r, __t)`. */
  def histEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("__h", LongType, nullable = false),
        StructField("__r", LongType, nullable = false),
        StructField("__t", LongType, nullable = false))))
  }

  /** `foreachBatch` sink maintaining the DSIR bucket-histogram state —
    * the streaming member of the family ([[importanceWeights]] batch,
    * [[histAdvance]] incremental), in the [[graft.etl.BatchSnapshots]]
    * snapshot form under `state/bid=K`; each snapshot is ≤ `buckets`
    * rows. A caller
    * scores any batch against [[histStateFrom]] with [[scoreWith]].
    * Returns `(batch_id, n_buckets)`. */
  def histBatch(stateDir: String, textCol: String, targetPred: Column,
                buckets: Int = 64)(batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, Seq("__h", "__r", "__t"),
        histEmptyState(spark))(
      prior => histAdvance(prior, batch, textCol, targetPred, buckets))
    Seq((batchId, next.count())).toDF("batch_id", "n_buckets")
  }

  /** The latest persisted [[histBatch]] snapshot — the empty state when
    * the dir holds no snapshots yet (the frontFrom null-check
    * discipline). */
  def histStateFrom(spark: org.apache.spark.sql.SparkSession,
                    stateDir: String): DataFrame =
    graft.etl.BatchSnapshots.latest(spark, s"$stateDir/state",
      Seq("__h", "__r", "__t"), histEmptyState(spark))

  /** Score `docs` against a GIVEN histogram state (freshly built or
    * incrementally advanced) — the [[importanceWeights]] math, replay
    * contract unchanged. The state densifies over the full bucket spine
    * first: a batch bigram can land in a bucket the state never counted
    * (smoothed lam with zero counts), which an inner join against a
    * sparse state would silently DROP. Only the batch being scored is
    * ever scanned — the incremental point at 100 TB. */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                hist: DataFrame, buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = docs.sparkSession
    val dense = spark.range(buckets).select(col("id").as("__h"))
      .join(hist, Seq("__h"), "left")
      .select(col("__h"),
        coalesce(col("__r"), lit(0L)).as("__r"),
        coalesce(col("__t"), lit(0L)).as("__t"))
    // names must differ case-insensitively from __r/__t: Spark's default
    // resolver treats __t and __T as the same name (ambiguous reference)
    val totals = dense.agg(sum("__r").as("__rtot"), sum("__t").as("__ttot"))
    val lam = dense.crossJoin(broadcast(totals))
      .withColumn("lam",
        log((col("__t") + lit(1L)).cast("double") / (col("__ttot") + lit(buckets.toLong)).cast("double")) -
          log((col("__r") + lit(1L)).cast("double") / (col("__rtot") + lit(buckets.toLong)).cast("double")))
      .select("__h", "lam")
    val bg = bigramsOf(docs, Seq(idCol), textCol, buckets)
    val perDoc = bg.join(broadcast(lam), "__h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("lam")))).as("__a"))
      .select(col(idCol),
        size(col("__a")).as("n_bigrams"),
        Rounding.roundLikeC(
          aggregate(transform(col("__a"), s => s.getField("lam")),
            lit(0.0), (acc, x) => acc + x) / size(col("__a")).cast("double"),
          4).as("avg_logratio"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
        coalesce(col("avg_logratio"), lit(0.0)).as("avg_logratio"))
  }
}
