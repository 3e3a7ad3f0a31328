package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** The corpus-curation funnel — the canonical cleaning DAG a pretraining
  * pipeline runs, composed from this library's operators in the order a
  * real run uses (cheapest filter first, population-dependent cuts on the
  * population that survives to them):
  *
  *   1. exact dedup       — identical texts collapse to the lowest id
  *                          ([[Dedup.exact]]; one fingerprint shuffle)
  *   2. span near-dup     — documents whose distinct 20-token spans mostly
  *                          exist elsewhere are dropped
  *                          ([[Dedup.dupSpanFraction]], `>= flagAt` cut)
  *   3. quality cut       — bottom `qualityCut` fraction PER LANGUAGE by
  *                          [[Text.qualityScore]] (percent_rank — the cut
  *                          adapts to each language's distribution, and to
  *                          the population that survived dedup)
  *   4. decontamination   — documents sharing any distinct word 3-gram
  *                          with the held-out eval slice are dropped, as
  *                          are the eval documents themselves
  *                          ([[Dedup.decontaminationPairs]])
  *
  * Returns the funnel: one (stage, n_docs) row per stage including the
  * input. Stages CHAIN — each filter sees only prior survivors, so the
  * percentile cut and span doc-frequencies are computed on the right
  * population (tag-in-one-pass shortcuts would break exactly that).
  * The single returned plan recomputes shared prefixes per stage count;
  * callers running the funnel over a large corpus persist the final
  * survivor stage and read counts from [[survivors]] instead.
  */
object Curate {

  final case class Funnel(stages: Seq[(String, DataFrame)]) {
    /** The cleaned corpus: survivors of the last stage. */
    def survivors: DataFrame = stages.last._2
    /** (stage, n_docs) funnel counts as one plan: a union of one count
      * aggregate per stage ([[funnelPersisted]]'s stages aggregate over
      * their checkpointed frames). */
    def counts: DataFrame =
      stages.map { case (name, df) =>
        df.agg(lit(name).as("stage"), count(lit(1)).as("n_docs"))
      }.reduce(_ unionByName _)
  }

  def funnel(docs: DataFrame, idCol: String, textCol: String, langCol: String,
             stopwords: Seq[String], evalPred: Column,
             spanTokens: Int = 20, dupFlagAt: Double = 0.5,
             qualityCut: Double = 0.1): Funnel =
    build(docs, idCol, textCol, langCol, stopwords, evalPred,
      spanTokens, dupFlagAt, qualityCut, (_, df) => df)

  /** [[funnel]] with every COMPUTED stage materialized via eager
    * `localCheckpoint`: `counts` and each downstream stage read the
    * materialized frame instead of re-deriving the shared prefix — the
    * lazy form pays roughly the final stage's cost once per stage row
    * (~4x at five stages; the multiple is a real cluster bill at scale).
    * The stage COUNT is a `count()` ON the checkpointed frame — a
    * metadata-cheap second action over already-materialized partitions.
    * (An earlier form fused the count into the materialization pass via a
    * LongAccumulator; Spark only guarantees exactly-once accumulator
    * updates for ACTIONS, so task retries / speculative execution on a
    * real cluster would double-count — the round-6 advisory. The extra
    * action costs ~ms per stage against the checkpoint.)
    * s0 stays lazy on purpose: it is the raw input projection, and
    * checkpointing it would rewrite the whole corpus to executor storage
    * when its count is a column-pruned scan away. Results are
    * bit-identical to [[funnel]] — the benched/verified q90 entry runs
    * this form. */
  def funnelPersisted(docs: DataFrame, idCol: String, textCol: String, langCol: String,
                      stopwords: Seq[String], evalPred: Column,
                      spanTokens: Int = 20, dupFlagAt: Double = 0.5,
                      qualityCut: Double = 0.1): Funnel =
    // Stages materialize eagerly; their counts come from [[Funnel.counts]]
    // — ONE union-of-aggregates action over the checkpointed frames —
    // instead of a per-stage `count()` job (4 extra actions per funnel
    // that re-tallied rows the final counts plan aggregates anyway;
    // aggregating a checkpointed stage is a column-pruned scan of
    // materialized partitions, and an action's aggregate is exactly-once
    // under retries, so the retired per-stage counts were pure overhead).
    build(docs, idCol, textCol, langCol, stopwords, evalPred,
      spanTokens, dupFlagAt, qualityCut, (_, df) => df.localCheckpoint())

  /** The funnel DAG with a `materialize` hook applied to each computed
    * stage (s1..s4) as it is built, so persisted and lazy forms share one
    * definition. */
  private def build(docs: DataFrame, idCol: String, textCol: String, langCol: String,
                    stopwords: Seq[String], evalPred: Column,
                    spanTokens: Int, dupFlagAt: Double, qualityCut: Double,
                    materialize: (String, DataFrame) => DataFrame): Funnel = {
    val s0 = docs.select(col(idCol), col(textCol), col(langCol))

    val s1 = materialize("s1_exact_dedup", Dedup.exact(s0, textCol, Seq(col(idCol)))
      .select(col(idCol), col(textCol), col(langCol)))

    val spanScores = Dedup.dupSpanFraction(s1, idCol, textCol, spanTokens, dupFlagAt)
    val s2 = materialize("s2_span_dedup",
      s1.join(spanScores.filter(!col("is_dup")).select(col(idCol)), idCol))

    val w = Window.partitionBy(langCol).orderBy(col("__q"), col(idCol))
    val s3 = materialize("s3_quality",
      s2.withColumn("__q", Text.qualityScore(col(textCol), stopwords))
        .withColumn("__pr", percent_rank().over(w))
        .filter(col("__pr") >= qualityCut)
        .select(col(idCol), col(textCol), col(langCol)))

    val evalDocs = docs.filter(evalPred).select(col(idCol), col(textCol))
    val contaminated = Dedup.decontaminationPairs(
        s3.filter(!evalPred), evalDocs, idCol, textCol)
      .select(col("train_id").as(idCol)).distinct()
    val s4 = materialize("s4_decontaminated",
      s3.filter(!evalPred).join(contaminated, Seq(idCol), "left_anti"))

    Funnel(Seq(
      "s0_input" -> s0, "s1_exact_dedup" -> s1, "s2_span_dedup" -> s2,
      "s3_quality" -> s3, "s4_decontaminated" -> s4))
  }

  /** The persisted curation state a CONTINUOUS pipeline maintains between
    * crawls — everything [[funnelIncremental]] needs to curate a new batch
    * against the existing corpus WITHOUT recomputing it:
    *
    *  - `fingerprints` (fingerprint): distinct exact-dedup keys of the
    *    corpus — per-doc-sized, hashes only;
    *  - `spanSet` (fp): distinct `spanTokens`-token span fingerprints —
    *    one md5 per 20 tokens, ~2 orders smaller than the text;
    *  - `thresholds` (langCol, q_min): the FROZEN per-language quality
    *    floor ([[qualityThresholds]]) — language-count-sized;
    *  - `evalDocs`: the held-out eval slice (benchmark-sized).
    *
    * None of these scale with the batch, and only hashes ever join against
    * it — the 100 TB corpus text itself is never touched again. In
    * production each frame is a persisted table; [[CurationIndex.materialized]]
    * stands in for that in single-session use. */
  final case class CurationIndex(fingerprints: DataFrame, spanSet: DataFrame,
                                 thresholds: DataFrame, evalDocs: DataFrame,
                                 spanTokens: Int, dupFlagAt: Double) {
    /** Eagerly materialize every index frame (localCheckpoint) — the
      * single-session stand-in for the persisted tables a production run
      * reads; without it every downstream stage re-derives the index from
      * the corpus scan. The two hash-keyed frames are REPARTITIONED ON
      * THEIR PROBE KEYS first: a checkpointed plan keeps its
      * outputPartitioning, so every batch's anti-join reuses the stored
      * layout instead of re-exchanging the (corpus-sized) index per batch
      * — the bucketed-table layout a production deployment stores, and
      * what keeps per-batch probe cost from growing an index-shuffle term
      * (BENCH_INDEXSCALE measures the curve). */
    def materialized(): CurationIndex = {
      // an ALREADY-materialized frame (logical plan = LogicalRDD, i.e. a
      // prior localCheckpoint) is returned as-is: the advanced index
      // copies the frozen thresholds/evalDocs references unchanged, and
      // re-checkpointing them per advance was one wasted action each
      def pin(df: DataFrame, key: Option[Column]): DataFrame =
        if (df.queryExecution.analyzed
            .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) df
        else key.fold(df)(df.repartition(_)).localCheckpoint()
      copy(
        fingerprints = pin(fingerprints, Some(col("fingerprint"))),
        spanSet = pin(spanSet, Some(col("fp"))),
        thresholds = pin(thresholds, None),
        evalDocs = pin(evalDocs, None))
    }
  }

  /** Per-language frozen quality floor: the MINIMUM 4dp quality score among
    * docs at or above the `cut` percent_rank (the exact boundary value
    * [[funnel]]'s s3 would admit on this population, with the same
    * (quality, id) tie order). Incremental batches compare against this
    * FROZEN floor instead of re-ranking the union — the deliberate semantic
    * delta of incremental curation (a percentile is population-relative;
    * production freezes it at index-build time and rebuilds periodically). */
  def qualityThresholds(corpus: DataFrame, idCol: String, textCol: String,
                        langCol: String, stopwords: Seq[String],
                        cut: Double = 0.1): DataFrame =
    corpus.select(col(idCol), col(langCol),
        Text.qualityScore(col(textCol), stopwords).as("__q"))
      .withColumn("__pr", percent_rank().over(
        Window.partitionBy(langCol).orderBy(col("__q"), col(idCol))))
      .filter(col("__pr") >= cut)
      .groupBy(col(langCol)).agg(min(col("__q")).as("q_min"))

  /** Build the [[CurationIndex]] from an already-curated corpus (run
    * [[funnel]] first on a fresh corpus — the index assumes its docs are
    * the survivors). */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 langCol: String, stopwords: Seq[String], evalPred: Column,
                 spanTokens: Int = 20, dupFlagAt: Double = 0.5,
                 qualityCut: Double = 0.1): CurationIndex =
    CurationIndex(
      fingerprints = corpus
        .select(Text.fingerprint(col(textCol)).as("fingerprint")).distinct(),
      spanSet = Packing
        .slidingChunks(corpus, col(idCol), col(textCol), spanTokens, spanTokens)
        .select(col("chunk_md5").as("fp")).distinct(),
      thresholds = qualityThresholds(corpus, idCol, textCol, langCol,
        stopwords, qualityCut),
      evalDocs = corpus.filter(evalPred).select(col(idCol), col(textCol)),
      spanTokens = spanTokens, dupFlagAt = dupFlagAt)

  final case class IncrementalCuration(funnel: Funnel,
                                       updatedIndex: CurationIndex)

  /** Curate a NEW crawl batch against the existing corpus via its
    * [[CurationIndex]] — the operator a production pipeline actually runs
    * daily (the reference's watermark protocol `incremental_load.sql` /
    * SURVEY §2.9, lifted from row-delta to corpus level): the 100 TB seen
    * corpus is NEVER recomputed; every stage touches only the batch plus
    * hash-sized index tables.
    *
    * Stages mirror [[funnel]]'s exactly, each made incremental:
    *
    *   b1_exact          — within-batch exact dedup (min-id survivor), then
    *                       anti-join on the fingerprint index (q66's shape;
    *                       swap in [[Dedup.incrementalBloom]]'s prefilter
    *                       when most batch rows are new).
    *   b2_span_dedup     — a batch doc's span is duplicated iff it exists
    *                       in the seen spanSet OR in ≥ 2 batch docs; docs
    *                       at ≥ dupFlagAt dup fraction drop. Equals batch-
    *                       mode [[Dedup.dupSpanFraction]] on the union,
    *                       restricted to batch docs, because for a batch
    *                       doc's span union-df ≥ 2 ⇔ seen-df ≥ 1 ∨
    *                       batch-df ≥ 2. Skew-safe via the same df==1
    *                       identity: unique spans carry their owner out of
    *                       the aggregate; the only fp-keyed join has BOTH
    *                       sides fp-unique (no hot-key funnel possible).
    *   b3_quality        — frozen per-language floor from the index (see
    *                       [[qualityThresholds]]); languages absent from
    *                       the index pass (no defined floor yet).
    *   b4_decontaminated — any distinct word 3-gram shared with the eval
    *                       slice drops the doc ([[Dedup.decontaminationPairs]],
    *                       eval side broadcast).
    *
    * Returns the batch funnel plus the UPDATED index: fingerprints and
    * spanSet advance on the b1 (exact-dedup) survivors — the population
    * batch-mode s2 would see — so chained batches compose:
    * incremental(b₁) then incremental(b₂) over the updated index equals
    * the batch-mode [[funnel]] on the union, RESTRICTED TO BATCH DOCS,
    * when (a) the seen corpus is pre-curated, (b) thresholds are held
    * fixed, and (c) later batches don't NEAR-duplicate earlier batch
    * survivors. Cross-batch EXACT dups compose exactly (both modes elect
    * the min-id/earliest survivor); a cross-batch near-dup is the one
    * deliberate divergence — [[Dedup.dupSpanFraction]] has no survivor
    * election, so batch mode drops BOTH sides of a near-dup pair, while
    * incremental protects the already-accepted doc and drops only the
    * newcomer. That asymmetry is the production-correct behavior (an
    * accepted doc must not retroactively vanish because a crawl re-found
    * it); CurateIncrementalSpec pins both the equivalence and the
    * divergence. The span check is exact fingerprinting, so no LSH-recall
    * caveat applies. Thresholds and eval stay frozen by design — rebuild
    * the index to re-baseline them. */
  def funnelIncremental(batch: DataFrame, idCol: String, textCol: String,
                        langCol: String, stopwords: Seq[String],
                        index: CurationIndex): IncrementalCuration =
    buildIncremental(batch, idCol, textCol, langCol, stopwords, index,
      (_, df) => df)

  /** [[funnelIncremental]] with each batch stage materialized via eager
    * localCheckpoint and its count read by `count()` on the checkpointed
    * frame — the [[funnelPersisted]] treatment: downstream stages (and the
    * updated index) read the materialized frame instead of re-deriving the
    * chain, and the count action against materialized partitions is
    * retry-safe where an accumulator fused into the materialization pass
    * would double-count on task retries (the round-6 advisory).
    * Bit-identical results; the benched/verified q129 entry runs this
    * form. */
  def funnelIncrementalPersisted(batch: DataFrame, idCol: String, textCol: String,
                                 langCol: String, stopwords: Seq[String],
                                 index: CurationIndex): IncrementalCuration =
    // same one-action counts discipline as [[funnelPersisted]]
    buildIncremental(batch, idCol, textCol, langCol, stopwords, index,
      (_, df) => df.localCheckpoint())

  private def buildIncremental(batch: DataFrame, idCol: String, textCol: String,
                               langCol: String, stopwords: Seq[String],
                               index: CurationIndex,
                               materialize: (String, DataFrame) => DataFrame): IncrementalCuration = {
    val b0 = batch.select(col(idCol), col(textCol), col(langCol))

    val b1 = materialize("b1_exact", Dedup.exact(b0, textCol, Seq(col(idCol)))
      .join(index.fingerprints, Seq("fingerprint"), "left_anti")
      .select(col(idCol), col(textCol), col(langCol)))

    val spans = Packing
      .slidingChunks(b1, col(idCol), col(textCol), index.spanTokens, index.spanTokens)
      .select(col(idCol), col("chunk_md5").as("__fp")).distinct()
    val stats = spans.groupBy("__fp")
      .agg(count(lit(1)).as("__bdf"), min(col(idCol)).as("__owner"))
    // spans unique in the batch AND unseen in the corpus are the NON-dups;
    // both join sides are fp-unique, so no hot span can funnel a partition
    val freshUniq = stats.filter(col("__bdf") === 1)
      .join(index.spanSet.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    val nond = freshUniq.groupBy(col("__owner").as(idCol))
      .agg(count(lit(1)).as("__nuniq"))
    val flagged = spans.groupBy(col(idCol)).agg(count(lit(1)).as("__nspans"))
      .join(nond, Seq(idCol), "left")
      .filter((col("__nspans") - coalesce(col("__nuniq"), lit(0L))).cast("double") /
        col("__nspans") >= index.dupFlagAt)
      .select(col(idCol))
    val b2 = materialize("b2_span_dedup", b1.join(flagged, Seq(idCol), "left_anti"))

    val b3 = materialize("b3_quality", b2
      .withColumn("__q", Text.qualityScore(col(textCol), stopwords))
      .join(broadcast(index.thresholds), Seq(langCol), "left")
      .filter(col("q_min").isNull || col("__q") >= col("q_min"))
      .select(col(idCol), col(textCol), col(langCol)))

    val contaminated = Dedup
      .decontaminationPairs(b3, index.evalDocs, idCol, textCol)
      .select(col("train_id").as(idCol)).distinct()
    val b4 = materialize("b4_decontaminated",
      b3.join(contaminated, Seq(idCol), "left_anti"))

    val updated = index.copy(
      fingerprints = index.fingerprints.unionByName(
        b1.select(Text.fingerprint(col(textCol)).as("fingerprint"))).distinct(),
      spanSet = index.spanSet.unionByName(
        spans.select(col("__fp").as("fp"))).distinct())

    IncrementalCuration(
      Funnel(Seq("b0_input" -> b0, "b1_exact" -> b1, "b2_span_dedup" -> b2,
        "b3_quality" -> b3, "b4_decontaminated" -> b4)),
      updated)
  }

  /** Corpus snapshot diff — the crawl-over-crawl versioning report: per
    * document id, `added` / `removed` / `changed` (same id, different
    * normalized-text fingerprint) / `unchanged`, plus the token delta.
    * Every corpus refresh wants this before shipping: an unexpected mass
    * `removed` or a token-count collapse is the canary for an upstream
    * extraction regression.
    *
    * Scale: both snapshots reduce to (id, fingerprint, token_count)
    * projections BEFORE the join — the full outer join shuffles those
    * 3-column frames on the id, never the document text. */
  def corpusDiff(old: DataFrame, cur: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def shrink(df: DataFrame, fp: String, tc: String): DataFrame =
      df.select(col(idCol), Text.fingerprint(col(textCol)).as(fp),
        Text.tokenCount(col(textCol)).cast("long").as(tc))
    shrink(old, "__ofp", "__ot")
      .join(shrink(cur, "__nfp", "__nt"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ofp").isNull, "added")
          .when(col("__nfp").isNull, "removed")
          .when(col("__ofp") =!= col("__nfp"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("__ot"), lit(0L)))
          .as("token_delta"))
  }

  /** Domain-level quality gating — the C4/RefinedWeb pattern: a document's
    * fate depends on its DOMAIN's aggregate quality, not its own (a clean
    * page on a spam host is still dropped; content farms are cut wholesale
    * where per-doc scores would leak their best pages through). Emits every
    * input doc with its domain's stats and the `kept` verdict — callers
    * filter on `kept`; the audit columns are what the drop decision logs.
    *
    * `scoreCol` must be a 4-decimal-rounded double (the [[Text.qualityScore]]
    * convention). The gate compares in EXACT decimal arithmetic —
    * `Σscore·10⁴ ≥ round(minMean·10⁴)·n` — never the divided double, so a
    * domain whose mean lands exactly on the threshold gets the same verdict
    * in every engine and every partition order; `domain_mean_quality` is
    * reported as the 4dp-rounded double for the audit log.
    *
    * Scale shape: one partial-aggregated stats pass (output is
    * #domains-sized — map-side combine does the heavy lifting), then one
    * join back. With `broadcastStats = true` (default) the corpus side
    * never shuffles — right when domains are registrable hosts (~10⁷ rows
    * max, a few hundred MB of (domain, sum, count)). For per-URL-path
    * pseudo-domains beyond broadcast size, set it false and both sides
    * shuffle on the domain key once. Reference anchor: the per-source
    * composition report of `notebooks/eda.ipynb` (q100) turned into the
    * filter the pipeline actually applies. */
  def domainQualityGate(scored: DataFrame, idCol: String, domainCol: String,
                        scoreCol: String, minMean: Double,
                        broadcastStats: Boolean = true): DataFrame = {
    import graft.functions.Rounding.roundLikeC
    val thresholdBp = math.round(minMean * 10000.0) // basis points, exact
    val stats = scored.groupBy(col(domainCol)).agg(
        count(lit(1)).as("domain_docs"),
        sum(col(scoreCol).cast("decimal(18,4)")).as("__qsum"))
      .select(col(domainCol), col("domain_docs"),
        roundLikeC(col("__qsum").cast("double") / col("domain_docs").cast("double"), 4)
          .as("domain_mean_quality"),
        ((col("__qsum") * lit(10000)).cast("decimal(38,0)") >=
          (lit(thresholdBp) * col("domain_docs")).cast("decimal(38,0)")).as("kept"))
    scored.join(if (broadcastStats) broadcast(stats) else stats, Seq(domainCol))
      .select(col(idCol), col(domainCol), col(scoreCol),
        col("domain_docs"), col("domain_mean_quality"), col("kept"))
  }

  /** Per-source token-distribution drift between two corpus snapshots —
    * the monitoring report a daily-crawl pipeline checks BEFORE retraining
    * (did the crawl's composition move? did a source go stale or get
    * flooded?). [[corpusDiff]] (q116) answers "which documents changed";
    * this answers "did the language itself shift".
    *
    * Per source: token totals, type counts (v1/v2/shared/new/gone), the
    * total-variation distance between the unigram distributions
    * TV = ½ Σ_t |c1(t)/n1 − c2(t)/n2|, and the single most-drifted token
    * (ties to the lexicographically first).
    *
    * Exactness: TV is folded as the EXACT integer Σ|c1·n2 − c2·n1| in
    * DECIMAL(38,0) (the q142 trick — c·n products reach ~10²⁶ at corpus
    * scale, far past int64), divided once at the end — no float fold, so
    * any accumulation order in any engine yields the identical double.
    * The argmax token is resolved on the same integer numerators.
    *
    * Scale shape: two explode→(source, token) count shuffles (partial-
    * aggregated, token skew absorbed map-side), a full outer join already
    * co-partitioned on the aggregate keys (no extra exchange) — then the
    * joined per-token table `j` (type-table-sized, NOT corpus-sized) is
    * localCheckpoint'd and EVERY downstream frame derives from it: totals,
    * the numerator diff table, stats fold, argmax resolve. The checkpoint
    * sits at the corpus/type-table boundary precisely because the final
    * report plan joins `tot`+`stats`+`top` — a `tot` derived from the
    * un-checkpointed join would re-run both explode→count shuffles (a full
    * re-tokenization of both snapshots) at the final action, the
    * q132/q135 lineage trap (round-7 shipped exactly that defect; the
    * PlanShapeSpec guard now counts zero Generate nodes in the executed
    * report plan). Only #sources-row frames are ever broadcast; nothing
    * reaches the driver. */
  def tokenDriftReport(v1: DataFrame, v2: DataFrame, srcCol: String,
                       textCol: String): DataFrame = {
    import graft.functions.Rounding.roundLikeC
    def counts(df: DataFrame, tag: String): DataFrame =
      df.select(col(srcCol).as("source"),
          explode(Text.tokens(col(textCol))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as(tag))
    val j = counts(v1, "c1").join(counts(v2, "c2"),
        Seq("source", "tok"), "full_outer")
      .select(col("source"), col("tok"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .localCheckpoint()
    val tot = j.groupBy("source").agg(
      sum("c1").as("n1"), sum("c2").as("n2"))
    val d = j.join(broadcast(tot), "source")
      .withColumn("num",
        abs(col("c1").cast("decimal(38,0)") * col("n2") -
            col("c2").cast("decimal(38,0)") * col("n1")))
      .localCheckpoint()
    val stats = d.groupBy("source").agg(
      sum(when(col("c1") > 0, 1L).otherwise(0L)).as("types_v1"),
      sum(when(col("c2") > 0, 1L).otherwise(0L)).as("types_v2"),
      sum(when(col("c1") > 0 && col("c2") > 0, 1L).otherwise(0L)).as("types_shared"),
      sum(when(col("c1") === 0, 1L).otherwise(0L)).as("types_new"),
      sum(when(col("c2") === 0, 1L).otherwise(0L)).as("types_gone"),
      sum("num").as("__snum"), max("num").as("__mx"))
    val top = d.join(broadcast(stats.select(col("source"), col("__mx"))), "source")
      .filter(col("num") === col("__mx"))
      .groupBy("source").agg(min("tok").as("top_drift_token"))
    tot.join(stats, "source").join(top, "source")
      .select(col("source"),
        col("n1").as("n_tokens_v1"), col("n2").as("n_tokens_v2"),
        col("types_v1"), col("types_v2"), col("types_shared"),
        col("types_new"), col("types_gone"),
        when(col("n1") > 0 && col("n2") > 0,
          roundLikeC(col("__snum").cast("double") /
            (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")), 6))
          .as("tv_distance"),
        col("top_drift_token"))
  }

  /** The C4 cleaning rules (Raffel et al. 2020 §2.2) — the line/document
    * filter bundle that built C4 out of Common Crawl, complementing the
    * Gopher rules ([[graft.functions.Text.gopherFlags]], corpus-shape
    * signals) with C4's layout-shape ones:
    *
    * line rules (a line survives iff ALL hold):
    *   1. ends in terminal punctuation (. ! ? ")
    *   2. has ≥ 5 words
    *   3. does not contain "javascript" (lowercased)
    * document rules (reason precedence as listed):
    *   4. drop if the lowercased text contains "lorem ipsum"
    *   5. drop if it contains "{" (code, not prose)
    *   6. drop on any blocklist-token hit (token-exact, not substring —
    *      "scunthorpe" survives a "bad word" blocklist)
    *   7. drop if fewer than 3 lines survive the line rules
    *
    * Emits (idCol, lines_total, lines_kept, reason ∈ ok|lorem_ipsum|
    * brace|blocklist|too_few_lines, kept, cleaned_md5) — the md5 of the
    * surviving lines re-joined, so the cleaned text is pinned without
    * shipping it.
    *
    * Scale shape: one zero-shuffle projection per document (line split,
    * HOF filter, token-set intersect against the broadcast-literal
    * blocklist, md5) — the cheapest possible form; every rule is pure
    * string/integer work inside codegen. */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              blocklist: Seq[String]): DataFrame = {
    val lines = split(col(textCol), "\n")
    val lineKept = (l: Column) => {
      val last = substring(l, -1, 1)
      (last === "." || last === "!" || last === "?" || last === "\"") &&
        size(Text.tokens(l)) >= 5 &&
        !lower(l).contains("javascript")
    }
    val keptArr = filter(lines, lineKept)
    val lowered = lower(col(textCol))
    val blockHit =
      if (blocklist.isEmpty) lit(false)
      else arrays_overlap(Text.tokens(lowered),
        typedlit(blocklist.map(_.toLowerCase)))
    docs.select(col(idCol),
        size(lines).as("lines_total"),
        size(keptArr).as("lines_kept"),
        when(lowered.contains("lorem ipsum"), "lorem_ipsum")
          .when(col(textCol).contains("{"), "brace")
          .when(blockHit, "blocklist")
          .when(size(keptArr) < 3, "too_few_lines")
          .otherwise("ok").as("reason"),
        md5(array_join(keptArr, "\n")).as("cleaned_md5"))
      .withColumn("kept", col("reason") === "ok")
  }

  /** LM-perplexity quality gate — the CCNet (Wenzek et al. 2020) filter:
    * score every document with the Kneser–Ney trigram LM
    * ([[LmScore.knTrigramNll]], q130), cut each language's population into
    * perplexity tertiles, keep head+middle and drop the tail (the
    * least-LM-like third: boilerplate, menus, gibberish). Head = lowest
    * NLL (most fluent).
    *
    * Tertile boundaries are VALUE thresholds, not exact rank counts: the
    * smallest 4dp NLL whose cumulative count clears n/3 (and 2n/3) —
    * CCNet's own semantics, and the scale-correct one: the cut derives
    * from a per-language HISTOGRAM (≤ #distinct 4dp scores rows — the
    * q68 bucket-histogram trick), so no corpus-sized window ever runs,
    * and the comparison `cum·3 ≥ n` is pure integer arithmetic — the
    * boundary document gets the same verdict in every engine. Ties at a
    * boundary value share a bucket (populations are tertiles up to ties).
    *
    * Scale shape: the KN scoring DAG materializes ONCE (checkpointed —
    * the histogram and the verdict join both read it; the q132/q135
    * lineage rule); the histogram window is histogram-sized; thresholds
    * are #languages rows, broadcast. Self-scoring note: the LM trains on
    * the corpus it scores (the corpus-internal outlier form); a frozen
    * external reference LM plugs in by scoring with ITS counts — the
    * gate logic is unchanged. */
  def perplexityGate(docs: DataFrame, idCol: String, textCol: String,
                     langCol: String): DataFrame = {
    val scored = docs.select(col(idCol), col(langCol))
      .join(LmScore.knTrigramNll(docs, idCol, textCol), Seq(idCol))
      .localCheckpoint()
    val hist = scored.groupBy(col(langCol), col("avg_nll"))
      .agg(count(lit(1)).as("__c"))
    val wc = Window.partitionBy(col(langCol)).orderBy(col("avg_nll"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(Window.partitionBy(col(langCol))))
    val th = cum.groupBy(col(langCol)).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("avg_nll"))).as("__t1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("avg_nll"))).as("__t2"))
    scored.join(broadcast(th), Seq(langCol))
      .select(col(idCol), col(langCol), col("n_trigrams"), col("avg_nll"),
        when(col("avg_nll") <= col("__t1"), "head")
          .when(col("avg_nll") <= col("__t2"), "middle")
          .otherwise("tail").as("pp_bucket"),
        (col("avg_nll") <= col("__t2")).as("kept"))
  }

  /** Dataset fingerprint — the reproducibility manifest a training run
    * records next to its checkpoints ("which data was this, exactly"):
    * per source, document/token/char totals and an ORDER-INVARIANT content
    * hash — the exact-integer SUM of a portable polynomial hash of each
    * document's normalized [[Text.fingerprint]]. Any reshuffle,
    * repartition, or re-export of the same content reproduces the
    * identical manifest; any edit, drop, or addition changes it. The
    * commutative sum is what makes the hash layout-independent — a folded
    * (non-commutative) chain hash would fingerprint the ORDER, which is
    * exactly what a distributed dataset does not have.
    *
    * Scale shape: one projection (md5 + poly fold per row, codegen'd) into
    * one partial-agg'd groupBy — the cheapest query in the library's
    * audit family. Sums in DECIMAL(38,0): 10¹⁰ docs × hash < 10⁹ stays
    * within 10¹⁹ — int64 would already overflow there. Reference anchor:
    * the row-count reconciliation of `scripts/ETL Pipeline/
    * gpc_extract_and_load.py` generalized to content identity. */
  def datasetFingerprint(df: DataFrame, textCol: String, srcCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        Text.tokenCount(col(textCol)).cast("long").as("__nt"),
        length(col(textCol)).cast("long").as("__nc"),
        Text.fingerprint(col(textCol)).as("__fp"))
      .withColumn("__h", expr(graft.functions.PortableHash.polySql("__fp")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("__nt").as("n_tokens"),
        sum("__nc").as("n_chars"),
        sum(col("__h").cast("decimal(38,0)")).as("content_hash"))

  /** Cross-source overlap matrix — pairwise Jaccard of the distinct word
    * k-gram sets of every source pair: the leakage/diversity diagnostic a
    * mixture designer reads before weighting sources (two mirrors of the
    * same crawl shouldn't both get full weight; a "curated" slice that is
    * 0.4-Jaccard with CommonCrawl is not new data). Complements q118
    * (WITHIN-source diversity) with the BETWEEN-source axis.
    *
    * Emits every unordered pair (source_a < source_b) with set sizes,
    * intersection, and 6dp Jaccard — zero-intersection pairs included
    * (the matrix is the point).
    *
    * Scale shape: one distinct pass to (source, gram) — corpus-sized
    * shuffle, partial-agg'd; then ONE of two pair-generation forms, both
    * bounded by C(S,2) rows per gram (S = #sources):
    *
    *   - `pairsFromGramSets = false` (default, S in the hundreds): the
    *     inverted SELF-JOIN on the gram. Simple, but a gram present in
    *     every source funnels its S×S fan-out through one join partition.
    *   - `pairsFromGramSets = true` (S in the thousands): per gram,
    *     `collect_set(source)` (bounded by S, partial-agg'd map-side so
    *     the hot gram never funnels raw rows) and an in-row explode of
    *     the sorted pair list — the hot-gram work becomes one row's
    *     array arithmetic instead of one partition's join storm.
    *
    * Both forms produce IDENTICAL counts (spec-pinned); the size table is
    * #sources rows and broadcasts into the all-pairs frame. Exact integers, one
    * terminal division. Reference anchor: the per-source composition
    * report of `notebooks/eda.ipynb` extended to the pairwise axis. */
  def sourceOverlapMatrix(df: DataFrame, srcCol: String, textCol: String,
                          k: Int = 3, pairsFromGramSets: Boolean = false): DataFrame = {
    import graft.functions.Rounding.roundLikeC
    val grams = df.select(col(srcCol).as("source"),
        explode(Dedup.shingles(col(textCol), k)).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = if (pairsFromGramSets) {
      // high-S form: the gram's source set aggregates (partial map-side),
      // then every unordered pair explodes from the sorted array IN-ROW
      val pairList = flatten(transform(
        sequence(lit(1), size(col("ss")) - 1),
        i => transform(sequence(i + 1, size(col("ss"))),
          j => struct(element_at(col("ss"), i).as("source_a"),
            element_at(col("ss"), j).as("source_b")))))
      grams.groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(pairList).as("p"))
        .select(col("p.source_a"), col("p.source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
    } else
      grams.withColumnRenamed("source", "source_a")
        .join(grams.withColumnRenamed("source", "source_b"), "g")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
    val pairs = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col("source").as("source_b"), col("n").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
    val common = coalesce(col("n_common"), lit(0L))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        common.as("n_common"),
        roundLikeC(common.cast("double") /
          (col("n_a") + col("n_b") - common).cast("double"), 6).as("jaccard"))
  }
}
