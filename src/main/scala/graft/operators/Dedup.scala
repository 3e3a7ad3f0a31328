package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.BatchSnapshots
import graft.functions.Text

/** Deduplication operators for document corpora — exact (hash groupBy),
  * exact-pairwise n-gram Jaccard (the verifier), MinHash-LSH (the scale
  * path), and SimHash (bit-signature near-dup).
  *
  * Scale design: exact dedup is one shuffle on the fingerprint; Jaccard
  * pairs shuffle on token (document-frequency pruning keeps hub tokens from
  * exploding); MinHash-LSH shuffles once on (band, bucket) so candidate
  * generation is linear in corpus size, never quadratic — the property that
  * matters at 100 TB.
  */
object Dedup {

  /** Exact dedup: keep the first row per text fingerprint, ordered by
    * `keepOrder` (deterministic survivor choice — must totally order rows
    * within a fingerprint).
    *
    * min_by aggregation, not a window: the partial aggregate keeps ONE row
    * per fingerprint per map task, so the shuffle carries surviving
    * candidates only — a window would shuffle and sort every duplicate. */
  def exact(df: DataFrame, textCol: String, keepOrder: Seq[Column]): DataFrame = {
    val withFp = df.withColumn("fingerprint", Text.fingerprint(col(textCol)))
    withFp.groupBy(col("fingerprint"))
      .agg(min_by(struct(df.columns.map(col): _*), struct(keepOrder: _*)).as("__r"))
      .select(col("__r.*"), col("fingerprint"))
  }

  /** Incremental exact dedup: keep only batch rows whose fingerprint is NOT
    * already in the seen corpus — the production shape for continuous
    * ingestion (dedup the new slice against the fingerprint index, never
    * re-dedup the whole corpus). One anti-join on the fingerprint; at scale
    * the seen side is the pre-aggregated fingerprint set, orders of
    * magnitude smaller than the corpus itself. */
  def incremental(batch: DataFrame, seen: DataFrame, textCol: String): DataFrame = {
    val seenFp = seen.select(Text.fingerprint(col(textCol)).as("fingerprint")).distinct()
    batch.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .join(seenFp, Seq("fingerprint"), "left_anti")
  }

  /** Incremental exact dedup with a Bloom prefilter — the continuous-
    * ingestion shape at real scale. [[incremental]] anti-joins the ENTIRE
    * batch against the fingerprint index; here a Bloom filter built over
    * the seen fingerprints (one partial-merged aggregate) splits the batch
    * first:
    *
    *  - `might_contain = false` → definitely new (Bloom has no false
    *    negatives): kept immediately, NEVER shuffled against the index.
    *  - `might_contain = true` → possible duplicate: only these rows —
    *    true dups + the `fpp` sliver of false positives — pay the exact
    *    anti-join.
    *
    * For the typical ingestion mix (most rows new), the expensive shuffle
    * shrinks from |batch| to ~|dups| + fpp·|batch|, and the result is
    * BIT-IDENTICAL to [[incremental]] (the anti-join confirms every Bloom
    * "maybe"; q71 shares q66's oracle to pin that). The filter itself is
    * one `numBits/8`-byte value shipped as a literal — size it for the
    * index cardinality (10 bits/key ≈ 1% fpp); an index too big for one
    * Bloom partitions by fingerprint range, one filter per range, same
    * algebra. */
  def incrementalBloom(batch: DataFrame, seen: DataFrame, textCol: String,
                       expectedSeen: Long = 1000000L,
                       numBits: Long = 8388608L): DataFrame = {
    val seenFp = seen.select(Text.fingerprint(col(textCol)).as("fingerprint")).distinct()
    // the filter itself comes to the driver: ONE value, bounded by numBits/8
    // bytes regardless of index size (might_contain requires a constant /
    // scalar-subquery filter — this is the same data movement Spark's own
    // InjectRuntimeFilter performs, made explicit)
    val bfBytes = seenFp
      .agg(org.apache.spark.sql.graft.Bloom
        .agg(xxhash64(col("fingerprint")), expectedSeen, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val withFp = batch.withColumn("fingerprint", Text.fingerprint(col(textCol)))
    if (bfBytes == null) withFp // empty index: every batch row is new
    else {
      val tagged = withFp.withColumn("__maybe", org.apache.spark.sql.graft.Bloom
        .mightContain(lit(bfBytes), xxhash64(col("fingerprint"))))
      val definiteNew = tagged.filter(!col("__maybe")).drop("__maybe")
      val confirmed = tagged.filter(col("__maybe")).drop("__maybe")
        .join(seenFp, Seq("fingerprint"), "left_anti")
      definiteNew.unionByName(confirmed)
    }
  }

  /** Exact pairwise token-set Jaccard via inverted-index self-join.
    *
    * `dfMaxFraction` drops tokens present in more than that fraction of
    * documents before pairing (hub-token pruning): a token in every document
    * contributes |docs|² candidate pairs but no discrimination. The pruned
    * join underestimates intersections for dropped tokens, so set sizes are
    * computed over the SAME pruned token sets — Jaccard stays exact over the
    * retained vocabulary.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, dfMaxFraction: Double = 1.0): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(Text.tokens(col(textCol)))).as("tok"))
    val kept =
      if (dfMaxFraction >= 1.0) toks
      else {
        val nDocs = df.count() // only the pruning branch pays this pass
        val hubs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > lit(nDocs * dfMaxFraction)).select("tok")
        toks.join(hubs, Seq("tok"), "left_anti")
      }
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a").join(kept.as("b"), "tok")
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        graft.functions.Rounding.roundLikeC(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric token-set containment |A∩B| / |A| — the subset-duplicate
    * detector symmetric Jaccard misses. A 100-token doc fully embedded in a
    * 10 000-token doc has Jaccard ≈ 0.01 (invisible at any usable
    * threshold) but containment 1.0; near-dup pipelines run this pass to
    * drop excerpts, quoted reposts, and boilerplate-wrapped copies of a
    * longer original (the CCNet / RefinedWeb "sub-document duplicate"
    * case). Emits one row per DIRECTED pair: `id_sub`'s token set is
    * `containment`-covered by `id_super`'s; near-identical pairs appear in
    * both directions. Callers drop `id_sub` (the contained doc) via a
    * semi-join.
    *
    * Scale shape: identical to [[jaccardPairs]] — one inverted-index
    * self-join on the token, never all-pairs; `dfMaxFraction` hub pruning
    * bounds the per-token candidate fan-out, and containment stays exact
    * over the retained vocabulary because sizes are computed on the same
    * pruned sets. The intersection aggregate is computed ONCE per unordered
    * pair and fanned to both directions by a 2-row explode — no second
    * join. Set elements are word `k`-grams ([[shingles]]; `k = 1` degrades
    * to plain tokens) — sub-document duplication is a SEQUENCE property, so
    * gram containment discriminates where bag-of-words containment
    * saturates on a shared vocabulary. Reference anchor: the dedup sweep of
    * `scripts/test/transform.py` (drop-duplicates pass) generalized to
    * fuzzy sub-document overlap. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, k: Int = 3,
                       dfMaxFraction: Double = 1.0): DataFrame = {
    val elems = if (k == 1) Text.tokens(col(textCol)) else shingles(col(textCol), k)
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(elems)).as("tok"))
    val kept =
      if (dfMaxFraction >= 1.0) toks
      else {
        val nDocs = df.count() // only the pruning branch pays this pass
        val hubs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > lit(nDocs * dfMaxFraction)).select("tok")
        toks.join(hubs, Seq("tok"), "left_anti")
      }
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a").join(kept.as("b"), "tok")
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val sized = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
    // fan the unordered intersection to both directions without re-joining
    sized.select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          col("n_common"), col("n_a").as("n_sub")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          col("n_common"), col("n_b").as("n_sub")))).as("d"))
      .select(col("d.id_sub"), col("d.id_super"),
        graft.functions.Rounding.roundLikeC(
          col("d.n_common").cast("double") / col("d.n_sub"), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Bounded EDIT-DISTANCE near-dup pairs — the character-level member of
    * the dedup family (token-set [[jaccardPairs]], subset
    * [[containmentPairs]], signature [[simhashPairs]]): every unordered
    * pair within `maxEdits` Levenshtein edits, with the exact distance.
    * Catches the small-in-place-edit duplicates (typo fixes, date stamps,
    * template fills) that token-set measures blur and signature measures
    * only threshold.
    *
    * Pipeline: word-trigram shingle blocking (inverted index, never
    * all-pairs) → sound `|len_a − len_b| ≤ maxEdits` prefilter (edit
    * distance is bounded below by the length gap) → exact verify with the
    * THRESHOLDED Levenshtein (Spark's banded DP: O(maxEdits · min_len)
    * per candidate with early exit, not O(len²); pairs past the bound
    * return −1 and drop). Both stages are engine-portable — the oracle
    * replays blocking and `levenshtein() ≤ k` identically.
    *
    * Completeness: k edits can alter at most 2k tokens (an edit can touch
    * a token boundary), each altered token invalidates ≤ 3 trigram
    * windows — so two docs within k edits still share an intact trigram
    * whenever the doc has more than 6·maxEdits + 2 tokens; shorter docs
    * need an exact pass — and `shortDocExact = true` RUNS it: every doc at
    * or under the token bound additionally pairs with every doc in its
    * own or an adjacent (maxEdits+1)-wide character-length bucket (the
    * sound length-gap band, no trigram required), so no under-bound pair
    * can be lost to blocking. Cost is quadratic only within a length band
    * of the short-doc subpopulation (titles, queries — cheap rows by
    * construction); leave it off when every doc clears the bound.
    * Blocking recall above the bound is a corpus property, never a silent
    * loss: the planted-pair spec pins it on the fixture.
    *
    * Scale shape: one distinct-shingle explode (id in the key), the
    * inverted self-join (a viral boilerplate shingle funnels its
    * candidates — `dfMaxFraction` hub pruning bounds the fan-out at the
    * documented cost to the completeness bound), candidate pairs
    * DISTINCT'd before any text ships, texts joined back on the id (two
    * uniform-key joins), then the length filter kills most survivors
    * before the DP runs. The DP is the only per-pair cost and is banded
    * by the threshold. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxEdits: Int, dfMaxFraction: Double = 1.0,
                        shortDocExact: Boolean = false): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0: $maxEdits")
    val docs = df.select(col(idCol).as("id"), col(textCol).as("__t"),
      length(col(textCol)).as("__len"))
    val toks = docs.select(col("id"),
      explode(array_distinct(shingles(col("__t"), 3))).as("tok"))
    val kept =
      if (dfMaxFraction >= 1.0) toks
      else {
        val nDocs = df.count() // only the pruning branch pays this pass
        val hubs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > lit(nDocs * dfMaxFraction)).select("tok")
        toks.join(hubs, Seq("tok"), "left_anti")
      }
    val blocked = kept.as("a").join(kept.as("b"), "tok")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val cand =
      if (!shortDocExact) blocked
      else {
        // the exact escape for docs under the 6k+2-token completeness
        // bound: band every SHORT doc against its own and both adjacent
        // (maxEdits+1)-wide char-length buckets — |len gap| <= maxEdits
        // implies a shared bucket, so the band is a superset of every
        // length-feasible pair touching a short doc
        val bound = 6 * maxEdits + 2
        val bw = maxEdits + 1
        val bkt = floor(col("__len") / lit(bw)).cast("long")
        val shortB = docs
          .filter(size(graft.functions.Text.tokens(col("__t"))) <= bound)
          .select(col("id"),
            explode(array(bkt - 1, bkt, bkt + 1)).as("__bk"))
        val allB = docs.select(col("id").as("id2"), bkt.as("__bk"))
        val exactCand = shortB.join(allB, "__bk")
          .filter(col("id") =!= col("id2"))
          .select(least(col("id"), col("id2")).as("id_a"),
            greatest(col("id"), col("id2")).as("id_b"))
        blocked.unionByName(exactCand).distinct()
      }
    // candidate ids HASH-SPREAD over the cluster before the texts attach:
    // when the text joins broadcast (the small-corpus / well-pruned case),
    // the banded-DP verify inherits the candidate frame's partitioning,
    // and a narrow candidate frame would run every DP serially on one
    // core (measured: q160-family ~4 s single-task at sf0.1). An id-pair
    // exchange costs ~16 bytes/candidate at any scale — noise against the
    // O(maxEdits·len) DP per pair it balances. When the text joins shuffle
    // instead (corpus-scale sides), the join's own exchange spreads the
    // DP and this repartition is a cheap no-op in comparison.
    val par = df.sparkSession.sparkContext.defaultParallelism
    cand
      .repartition(par, col("id_a"), col("id_b"))
      .join(docs.select(col("id").as("id_a"), col("__t").as("__ta"),
        col("__len").as("__la")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("__t").as("__tb"),
        col("__len").as("__lb")), "id_b")
      .filter(abs(col("__la") - col("__lb")) <= maxEdits)
      .withColumn("edits", levenshtein(col("__ta"), col("__tb"), maxEdits))
      .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      .select("id_a", "id_b", "edits")
  }

  /** The trigram index [[editDistanceIncremental]] probes: distinct
    * (gh, id) — the poly-31 hash of each word trigram of the seen corpus
    * (8 bytes + id per entry; the [[buildRepeatedSpanIndex]] narrowing
    * move, replayed bit-for-bit by the oracle so a hash collision — which
    * can only ADD a candidate the exact verify then judges — lands in
    * both engines identically). */
  def buildEditIndex(seen: DataFrame, idCol: String, textCol: String): DataFrame =
    seen.select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), 3))).as("__g"))
      .select(col("id"), expr(polyHashSql("__g")).as("gh"))
      .distinct()

  /** Incremental [[editDistancePairs]] — the character-level member of the
    * incremental dedup family ([[incremental]] exact,
    * [[fuzzyDedupIncremental]] token-set, [[repeatedSpansIncremental]]
    * substring, [[buildSimhashIndex]] signature): batch docs within
    * `maxEdits` Levenshtein edits of any SEEN doc, without re-shingling
    * the seen corpus. Candidates come from the stored trigram index; the
    * exact verify joins the seen TEXT by id (a uniform-key lookup — the
    * [[fuzzyDedupIncremental]] seenDocs contract: the corpus is read, not
    * re-tokenized). Advance with [[advanceEditIndex]] and append
    * survivors to seenDocs. Same completeness bound as
    * [[editDistancePairs]] (an intact shared trigram above 6·maxEdits + 2
    * tokens).
    *
    * Scale shape: batch shingles BROADCAST; the index streams through the
    * candidate join with no exchange or sort (the BENCH_INDEXSCALE probe
    * direction); candidate pairs distinct BEFORE any text ships; the
    * sound length-gap filter kills most survivors before the
    * threshold-banded DP runs. */
  def editDistanceIncremental(batch: DataFrame, seenDocs: DataFrame,
                              seenIndex: DataFrame, idCol: String,
                              textCol: String, maxEdits: Int): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0: $maxEdits")
    // the batch's shingle+hash explode is the probe's map-side kernel and
    // feeds a BROADCAST build — on a narrow batch scan the whole explode
    // ran in one task before the collect; spread it first (identity at
    // corpus scale, Exec.spreadIfNarrow)
    val bsh = Exec.spreadIfNarrow(batch.select(col(idCol), col(textCol)),
        col(idCol))
      .select(col(idCol).as("batch_id"),
        explode(array_distinct(shingles(col(textCol), 3))).as("__g"))
      .select(col("batch_id"), expr(polyHashSql("__g")).as("gh"))
    val cand = seenIndex.join(broadcast(bsh), Seq("gh"))
      .select(col("batch_id"), col("id").as("seen_id"))
      .distinct()
    // candidate ids hash-spread before the texts attach — the
    // [[editDistancePairs]] DP-balance rule (the probe join's output
    // follows the index scan's partitioning, which can be one narrow
    // task; the DP must not)
    val par = batch.sparkSession.sparkContext.defaultParallelism
    cand
      .repartition(par, col("batch_id"), col("seen_id"))
      .join(batch.select(col(idCol).as("batch_id"), col(textCol).as("__tb"),
        length(col(textCol)).as("__lb")), "batch_id")
      .join(seenDocs.select(col(idCol).as("seen_id"), col(textCol).as("__ts"),
        length(col(textCol)).as("__ls")), "seen_id")
      .filter(abs(col("__lb") - col("__ls")) <= maxEdits)
      .withColumn("edits", levenshtein(col("__tb"), col("__ts"), maxEdits))
      .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      .select("batch_id", "seen_id", "edits")
  }

  /** Advance the edit-distance trigram index: append the accepted batch
    * survivors' (gh, id) rows. Pure union — the existing index rows are
    * never read, so chaining batches costs O(batch) per advance (the
    * [[advanceSimhashIndex]] contract). Survivor ids are new to the index
    * (they were not seen before this batch), so the union stays distinct
    * without a corpus-wide re-shuffle; even a duplicated (gh, id) row would
    * be harmless — [[editDistanceIncremental]] DISTINCTs candidates before
    * any text ships. Callers also append survivors to seenDocs (the text
    * side the exact verify reads). */
  def advanceEditIndex(seenIndex: DataFrame, survivors: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    seenIndex.unionByName(buildEditIndex(survivors, idCol, textCol))

  /** Benchmark decontamination: flag every training document that shares at
    * least `minShared` DISTINCT word `k`-grams with any eval-set document
    * (the overlap rule of GPT-3 appendix C / Dodge et al. 2021, which the
    * training-data pipeline runs before every pretraining mix). Returns
    * (train_id, eval_id, n_shared) for each contaminated pair — callers
    * drop/mask via a semi-join on train_id.
    *
    * Shape: bipartite inverted-index join on the gram, NOT all-pairs. The
    * eval side is a benchmark suite — thousands of documents, millions of
    * grams at most — so it broadcasts (`broadcastEval`, default true): the
    * 100 TB train side never shuffles; only matched (train, eval) hits move
    * into the count aggregate. With `broadcastEval = false` both sides
    * shuffle on the gram — the fallback when the eval side is itself a
    * corpus. No hub pruning here (unlike [[jaccardPairs]]): exactness of
    * the contamination verdict matters more than the skew, and the eval
    * gram set is small enough that hot grams stay bounded by it. */
  def decontaminationPairs(train: DataFrame, eval: DataFrame, idCol: String,
                           textCol: String, k: Int = 3, minShared: Long = 1L,
                           broadcastEval: Boolean = true): DataFrame = {
    def grams(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
        explode(array_distinct(shingles(col(textCol), k))).as("gram"))
    val ev = grams(eval, "eval_id")
    val tr = grams(train, "train_id")
    tr.join(if (broadcastEval) broadcast(ev) else ev, "gram")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document contamination FRACTION — the graded verdict
    * [[decontaminationPairs]]' binary hit can't give: what share of a train
    * document's distinct word `k`-grams appear anywhere in the eval suite.
    * Pipelines threshold this (a doc quoting one benchmark sentence differs
    * from a doc that IS a benchmark dump), and the fraction is the audit
    * column the drop decision logs. Emits (idCol, n_grams, n_contaminated,
    * contamination_frac) for EVERY train doc, 4dp C-rounded.
    *
    * Scale shape: the eval side collapses to its DISTINCT gram set and
    * broadcasts (benchmarks are small by definition); the train side tags
    * grams with one broadcast left join and aggregates per doc — the only
    * shuffle is doc-keyed. The 100 TB train side never shuffles on a gram. */
  def contaminationFraction(train: DataFrame, eval: DataFrame, idCol: String,
                            textCol: String, k: Int = 3): DataFrame = {
    val evGrams = eval
      .select(explode(array_distinct(shingles(col(textCol), k))).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1L))
    val tr = train.select(col(idCol),
      explode(array_distinct(shingles(col(textCol), k))).as("gram"))
    tr.join(broadcast(evGrams), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        (graft.functions.Rounding.roundLikeC(
          col("n_contaminated").cast("double") / col("n_grams").cast("double"),
          4) + lit(0.0)).as("contamination_frac"))
  }

  /** Verbatim canary pairs at CORPUS-SCALE needle sets — every
    * (train doc, needle) pair where the needle string occurs verbatim
    * (character-for-character) inside the train text. The q171 broadcast
    * `contains` scan is right when needles are a curated handful; this is
    * the executable path when the needle set is itself corpus-sized (a
    * full eval-suite dump, a canary DB) and O(docs × needles) substring
    * scans stop being a plan.
    *
    * Shape: the [[decontaminationPairs]] bipartite inverted gram index,
    * then an EXACT verbatim verify on candidates only — so the result is
    * pair-identical to the broadcast `contains` scan (CanaryPairsSpec
    * proves verdict identity). Candidate completeness argument: if a
    * needle occurs verbatim in a doc, the needle's INTERIOR tokens (all
    * but first and last, which may fuse with the doc's adjacent
    * characters) appear as whole whitespace-delimited tokens of the doc,
    * so every interior `k`-gram of the needle is a gram of the doc —
    * indexing interior grams only makes the candidate set complete, not
    * just likely. Needles too short to have an interior gram
    * (< `k`+2 tokens) route through the broadcast `contains` path — the
    * [[editDistancePairs]] shortDocExact discipline: the blocking
    * scheme's blind spot gets an exact escape, not a silent miss. (That
    * routing decision is one bounded action on the NEEDLE frame — by
    * definition the side that fits scrutiny.)
    *
    * 100 TB shape: the train side explodes grams but never shuffles on
    * them when `broadcastNeedles` holds (needle grams broadcast into the
    * train scan); with `broadcastNeedles = false` both sides shuffle by
    * gram — the true corpus-vs-corpus fallback. The verify joins
    * candidates (bounded by real overlap) back into the train scan as a
    * broadcast, so train text is never shuffled either. Emits
    * (train_id, needle_id), one row per verbatim hit. Reference anchor:
    * the dedup sweep of `scripts/test/transform.py` (drop-duplicates
    * pass) specialized to the exact-substring decontamination regime. */
  def canaryPairs(train: DataFrame, needles: DataFrame, idCol: String,
                  textCol: String, needleIdCol: String, needleCol: String,
                  k: Int = 3, broadcastNeedles: Boolean = true): DataFrame = {
    val tr = train.select(col(idCol).cast("long").as("train_id"),
      col(textCol).cast("string").as("__t"))
    // Empty/blank needles are dropped, never matched: `contains('')` is
    // TRUE for every row, so one degenerate needle would flag the whole
    // corpus through the short-needle escape below (the q171 length-floor
    // guard, mirrored here at the operator level).
    val ndl = needles.select(col(needleIdCol).cast("long").as("needle_id"),
        col(needleCol).cast("string").as("__needle"))
      .filter(length(col("__needle")) > 0)
      .withColumn("__nt", graft.functions.Text.tokenCount(col("__needle")))
    val longN = ndl.filter(col("__nt") >= k + 2)
    // interior grams: token positions 2..n-1 → full-gram positions
    // 2..n-k, i.e. slice(grams, 2, n-k-1); n >= k+2 makes the slice
    // non-empty by construction
    val nGrams = longN.select(col("needle_id"),
      explode(array_distinct(slice(shingles(col("__needle"), k),
        lit(2), col("__nt") - k - 1))).as("gram"))
    val trGrams = tr.select(col("train_id"),
      explode(array_distinct(shingles(col("__t"), k))).as("gram"))
    val cands = trGrams
      .join(if (broadcastNeedles) broadcast(nGrams) else nGrams, "gram")
      .select("train_id", "needle_id").distinct()
    val longHits = tr.join(broadcast(cands), "train_id")
      .join(broadcast(longN.select("needle_id", "__needle")), "needle_id")
      .filter(col("__t").contains(col("__needle")))
      .select("train_id", "needle_id")
    val shortN = ndl.filter(col("__nt") < k + 2)
    if (shortN.limit(1).isEmpty) longHits
    else {
      val shortHits = tr
        .crossJoin(broadcast(shortN.select("needle_id", "__needle")))
        .filter(col("__t").contains(col("__needle")))
        .select("train_id", "needle_id")
      longHits.unionByName(shortHits)
    }
  }

  /** Corpus-frequent n-grams: document frequency of every distinct word
    * `k`-gram, kept when it appears in at least `minDf` documents, top
    * `topN` by (doc_freq desc, gram asc) — the boilerplate/template
    * detector (headers, footers, license blurbs) run before n-gram-level
    * dedup of a pretraining corpus.
    *
    * Scale: one projection (tokenize → shingle → distinct-per-doc →
    * explode) and ONE shuffle on the gram with map-side partial counts;
    * the top-N is Catalyst's TakeOrderedAndProject (no global sort
    * materializes). Gram cardinality, not corpus size, bounds the shuffle. */
  def frequentNgrams(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, minDf: Long = 2L, topN: Int = 100): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), k))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDf)
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topN)

  /** Duplicate clustering: connected components over a near-dup pair table
    * (the output of [[jaccardPairs]] / [[minhashLshCandidates]] /
    * `Similarity.cosineDupPairs`), labeling every node with the minimum id
    * reachable through dup edges — the canonical "keep one representative
    * per duplicate cluster" step after candidate generation.
    *
    * Iterative min-label propagation WITH pointer doubling: each round,
    * every node takes the least of its own label and its neighbors' labels
    * (one shuffle: join on the edge endpoint + min-aggregate), then
    * follows its label's label (one more self-join shuffle). The shortcut
    * composes the label map with itself, so the distance a minimum travels
    * DOUBLES per round — O(log diameter) rounds instead of O(diameter)
    * (DedupSpec pins a 64-chain to ≤ ⌈log₂ 64⌉+1 rounds). Near-dup
    * components are usually quasi-cliques where either form converges in
    * 2-3 rounds; the doubling is what keeps adversarial chain-shaped
    * components from stalling the job. Each round `localCheckpoint`s:
    * without it the iterated plan nests one join deeper per round and
    * analysis time grows quadratically.
    *
    * Returns (idCol, cluster_id); singletons (no incident edge) form their
    * own cluster.
    */
  def dupClusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
                  idA: String = "id_a", idB: String = "id_b",
                  maxIter: Int = 50): DataFrame = {
    // materialize the edge set ONCE: every propagation round joins edges,
    // and an un-checkpointed edge frame re-evaluates its WHOLE upstream
    // lineage per round — for fuzzyDedup that lineage is the LSH + exact
    // verification DAG (measured 13.9 s -> 3.4 s on q132, whose edges sit
    // behind TWO minhash pipelines)
    val (edges, nEdges) = Exec.materializeCounted(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
        .distinct(),
      "dup_edges")
    // no edges → every node is its own cluster; skip the whole propagation
    // loop (a zero tally is exact under retries — Exec contract). Common in
    // the within-batch pass of the incremental dedups, where a mostly-fresh
    // batch verifies zero pairs and the loop's first round was pure
    // overhead.
    if (nEdges == 0L)
      return nodes.select(col(idCol), col(idCol).as("cluster_id"))
    val sc = nodes.sparkSession.sparkContext
    // NOT checkpointed: a trivial projection of the caller's node frame —
    // only round 1 reads it (twice), and after round 1 `labels` is the
    // checkpointed `counted`; pinning the projection was one more action
    // per call for nothing
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min(col("label")).as("nlabel"))
      // NOT separately materialized (r14): the shortcut self-join below
      // references this subtree twice WITHIN one action, and Spark's
      // ReuseExchange dedups the identical inner exchanges (the edge⋈label
      // shuffle + min-aggregate — the round's heavy part — is computed
      // once); only the post-exchange left-join projection re-evaluates on
      // the second reference. That trades a labels-sized projection re-eval
      // for a whole materialization ACTION per round — one job per round
      // instead of two, and lineage stays bounded because `counted` is
      // still checkpointed at every round's end.
      val propagated = labels.join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("next"))
      // pointer doubling: next ← next(next). Labels are node ids and every
      // node has a row, so the lookup is a self-join; l(l_v) ≤ l_v ≤ v is
      // invariant (min with self each round), so the result only decreases.
      val joined = propagated
        .join(propagated.select(col("id").as("__jid"), col("next").as("__jnext")),
          col("next") === col("__jid"), "left")
        .select(col("id"), col("label"),
          coalesce(col("__jnext"), col("next")).as("next"))
      // Convergence tally FUSED into the materialization: an accumulator
      // incremented inside the same mapPartitions pass the localCheckpoint
      // materializes, so the round's labels and its changed-count come out
      // of ONE action. The previous form ran a separate
      // `filter(next < label).isEmpty` job per round, and on the final
      // (converged) round that job scans the whole frame to find nothing.
      val changed = sc.longAccumulator(s"dupClusters_changed_r$iter")
      val flagged = joined.withColumn("__chg", col("next") < col("label"))
      val chgIdx = flagged.schema.fieldIndex("__chg")
      val counted = flagged.mapPartitions { rows =>
        rows.map { r => if (r.getBoolean(chgIdx)) changed.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(flagged.schema))
        .localCheckpoint() // truncate lineage before reuse below
      converged = changed.value == 0L
      labels = counted.select(col("id"), col("next").as("label"))
      iter += 1
    }
    // a label set that stopped moving IS the fixpoint; one that hit the
    // iteration cap mid-flight would silently split true components into
    // several clusters — fail loudly instead (diameter > maxIter means a
    // chain-shaped component; raise maxIter, don't trust partial labels)
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge within maxIter=$maxIter rounds — a " +
        "component's diameter exceeds the cap; raise maxIter")
    labels.select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** C4-style line-level boilerplate removal: a LINE occurring in at least
    * `minDocFreq` distinct documents is corpus boilerplate (nav bars,
    * cookie banners, license footers) and is dropped from every document;
    * the survivors re-join in original order. Returns one row per input
    * document — (idCol, text, n_kept, n_dropped) — including documents
    * whose every line was boilerplate (empty text), so downstream length
    * filters see them rather than silently losing rows.
    *
    * Scale: explode to (doc, pos, line) → line-keyed distinct-doc count
    * (partial aggregation shrinks the shuffle to distinct lines per
    * mapper) → anti-join on the line — boilerplate is detected globally,
    * never per-pair. The reassembly groupBy shuffles surviving lines on
    * the doc id once. */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           minDocFreq: Long = 3L): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq < 2 would drop every line: $minDocFreq")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("__n_total"))
    val keptAgg = kept.groupBy(col(idCol))
      .agg(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("__text"),
        count(lit(1)).as("__n_kept"))
    totals.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Global paragraph-level exact dedup (the Dolma/RedPajama paragraph
    * pass): every paragraph that occurs anywhere else in the corpus keeps
    * exactly ONE copy — its first occurrence in (doc_id, position) order —
    * and every other occurrence is dropped; survivors reassemble in
    * original order. Differs from [[dropBoilerplateLines]], which drops ALL
    * copies of frequent lines: here one canonical copy always survives, so
    * no content is lost corpus-wide.
    *
    * Skew-safe shape (same discipline as [[dupSpanFraction]]): the survivor
    * election `min(struct(doc_id, pos)) per md5(paragraph)` is a
    * partial-aggregated groupBy — a viral paragraph collapses to one row
    * per mapper before the shuffle. The election result is then joined back
    * by (doc_id, pos) — the survivor's OWN coordinates, unique per
    * fingerprint — so no join ever keys on the paragraph fingerprint and no
    * viral paragraph can funnel raw rows into one partition. Reassembly
    * groups by doc. Emits one row per input doc: (idCol, textCol, n_kept,
    * n_dropped), empty text when every paragraph was a non-first duplicate.
    */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String, textCol: String,
                              sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("__fp", md5(col("para")))
    val survivors = paras.groupBy("__fp")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__first").getField(idCol).as(idCol),
        col("__first").getField("pos").as("pos"))
    val kept = paras.join(survivors, Seq(idCol, "pos"), "left_semi")
    val totals = paras.groupBy(col(idCol)).agg(count(lit(1)).as("__n_total"))
    val keptAgg = kept.groupBy(col(idCol))
      .agg(concat_ws(sep,
          transform(sort_array(collect_list(struct(col("pos"), col("para")))),
            s => s.getField("para"))).as("__text"),
        count(lit(1)).as("__n_kept"))
    totals.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Deterministic universal-hash family over 32-bit inputs: results stay
    * within long range (no ANSI overflow), seeded for reproducibility.
    * Parameters derive from the engine-portable mix2 LCG so an external SQL
    * oracle can regenerate the exact family (TextQueries q29 oracle); an
    * affine generator is fine HERE because (a,b) only parameterize
    * `(a*h+b) % p` over already-mixed polynomial hashes. */
  private val HashPrime = 4294967311L // smallest prime > 2^32
  private def hashFamily(n: Int, seed: Long): Seq[(Long, Long)] =
    (0 until n).map { j =>
      (graft.functions.PortableHash.mix2(seed * 131L + 2L * j) % 1073741824L + 1L,
        graft.functions.PortableHash.mix2(seed * 131L + 2L * j + 1L) % 1073741824L)
    }

  /** Word shingles of length `k` as an array column.
    *
    * The tokenization is BOUND ONCE per row by wrapping it in a 1-element
    * array and shingling inside that transform's lambda: referencing
    * `Text.tokens(textCol)` directly from the inner slice-lambda lets
    * Catalyst inline the split() into the lambda body, re-splitting the
    * whole text once PER GRAM — O(len²) per document (measured 3.4 s vs
    * 0.4 s on q74 at sf0.1). A lambda variable can't be inlined into. */
  def shingles(textCol: Column, k: Int): Column = {
    val once = transform(array(Text.tokens(textCol)), toks =>
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))
    element_at(once, 1)
  }

  /** MinHash signatures as a DataFrame of (id, sig).
    *
    * One typed mapPartitions pass: tokenize → k-shingles → polynomial base
    * hash → per-family minima, all in a tight JVM loop. The pure-expression
    * version re-ran the tokenize→shingle→hash pipeline once PER HASH
    * FUNCTION (CollapseProject inlines the shared array into all 32
    * `array_min` expressions), which made signatures 30× more expensive
    * than this. Every arithmetic step (poly-31 shingle hash, mix2-derived
    * family, min of `(a*h+b) % p`) is engine-portable — the q29 oracle
    * rebuilds identical signatures in DuckDB. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int, seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fams = hashFamily(numHashes, seed).toArray
    // the signature kernel is the corpus family's heaviest per-row scalar
    // loop (shingles × numHashes mod-muls per doc) — spread a narrow scan
    // before it runs so it parallelizes (Exec.spreadIfNarrow: identity
    // when the input is already at cluster parallelism)
    Exec.spreadIfNarrow(
        df.select(col(idCol).cast("long").as("id"),
          col(textCol).cast("string").as("t")),
        col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0 // null-tolerant like Dedup.exact
          // drop the phantom "" token of empty text — the scalar twin of
          // Text.tokens' filter (split of "" yields [""])
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          val sh: Array[String] =
            if (toks.length >= k) Array.tabulate(toks.length - k + 1)(i =>
              toks.slice(i, i + k).mkString(" "))
            else Array(toks.mkString(" "))
          val hv = sh.map(s => graft.functions.PortableHash.poly(s, 31L))
          val sig = fams.map { case (a, b) =>
            var mn = Long.MaxValue
            var i = 0
            while (i < hv.length) {
              val v = (hv(i) * a + b) % HashPrime
              if (v < mn) mn = v
              i += 1
            }
            mn
          }
          (id, sig)
        }
      }
      .toDF("id", "sig")
  }

  /** MinHash-LSH candidate pairs: signatures banded into `bands` groups of
    * `rowsPerBand`; docs sharing any band bucket pair up. One shuffle on
    * (band, bucket); candidates are intended for verification by
    * [[jaccardPairs]] or direct signature comparison.
    *
    * `maxBucketSize` drops oversized buckets before pairing — a bucket of B
    * docs emits B²/2 pairs, so hub buckets (boilerplate-heavy corpora) would
    * otherwise dominate the output quadratically. Dropped buckets cost
    * recall only for docs whose EVERY band is a hub, which near-dup pairs
    * (that agree on many bands) rarely are. */
  /** Banded MinHash signatures as (id, band, bucket) rows — the LSH index
    * shape. Bucket key = a fixed-width LONG: the poly-31 fold of the band's
    * signature slice mod 1e9+7 (each term < 2^33, so every intermediate
    * stays inside int64) — 8 shuffle bytes instead of the ~40-byte slice
    * string an earlier form used (measured 3.70 MB → 1.13 MB shuffle write
    * on q29 at sf0.1). The fold is engine-portable — the q29/q72 oracles
    * rebuild the identical key via DuckDB list_reduce. A cross-slice hash
    * collision would only ever MERGE two buckets (extra candidates for the
    * downstream exact verifier, never lost ones), and both engines collide
    * identically. Persist this as the maintained index for
    * [[minhashIncrementalCandidates]]. */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, shingleLen, bands * rowsPerBand, seed)
    sig.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => aggregate(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            lit(0L), (acc, x) => (acc * 31L + x) % 1000000007L)))
      .as(Seq("band", "bucket")))
  }

  /** Incremental MinHash-LSH: near-dup candidates of an ingestion `batch`
    * against an EXISTING banded index ([[bandedSignatures]] of the seen
    * corpus, maintained incrementally) — the continuous-ingestion shape:
    * band only the new slice, never re-shingle the corpus. One shuffle on
    * (band, bucket) joining batch bands to index bands; `maxBucketSize`
    * caps the SEEN side's hub buckets (computable once at index-maintenance
    * time), the same quadratic-fan-out guard as the batch form. Returns
    * distinct (batch_id, seen_id) candidate pairs for downstream exact
    * verification ([[jaccardPairs]] on the candidates, or direct signature
    * comparison). */
  def minhashIncrementalCandidates(batch: DataFrame, seenBanded: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleLen: Int = 3, bands: Int = 8,
                                   rowsPerBand: Int = 4, seed: Long = 42L,
                                   maxBucketSize: Int = 1000): DataFrame = {
    val batchBanded = bandedSignatures(batch, idCol, textCol, shingleLen, bands, rowsPerBand, seed)
    // Hub-bucket cap via a BUCKET-BLACKLIST anti-join instead of an
    // index-wide window: the window form exchanged AND sorted the whole
    // seen index per probe (an index-sized cost per batch — exactly what
    // the incremental path exists to avoid). The oversized-bucket set is
    // tiny (usually empty) and broadcasts; the seen index then STREAMS
    // through the anti-join and the probe join with no full-index
    // exchange. Kept rows are identical: a row survives iff its (band,
    // bucket) count over the SEEN index is <= maxBucketSize, the same
    // predicate the window evaluated. The count aggregate shuffles only
    // (band, bucket) pairs — partial map-side aggregation shrinks it to
    // distinct buckets per mapper (guide §2.3).
    val over = seenBanded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select("band", "bucket")
    val keptSeen = seenBanded
      .join(broadcast(over), Seq("band", "bucket"), "left_anti")
      .select(col("id").as("seen_id"), col("band"), col("bucket"))
    batchBanded.join(keptSeen, Seq("band", "bucket"))
      .select(col("id").as("batch_id"), col("seen_id"))
      .distinct()
  }

  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleLen: Int = 3, bands: Int = 8,
                           rowsPerBand: Int = 4, seed: Long = 42L,
                           maxBucketSize: Int = 1000): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, shingleLen, bands, rowsPerBand, seed)
    // bucket-size gate as a window over the SAME (band,bucket) shuffle the
    // join needs — no extra shuffle before the self-join
    val kept = banded
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("__bsz").between(2, maxBucketSize))
      .select("id", "band", "bucket")
    kept.as("a").join(kept.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact token-set Jaccard evaluated ONLY on supplied candidate pairs —
    * the verification stage of a candidate-generation dedup pipeline
    * ([[minhashLshCandidates]] / [[simhashPairs]] feed it). Unlike
    * [[jaccardPairs]] (which enumerates pairs itself via the inverted
    * index), the work here is proportional to candidates × doc length:
    * tokens join candidates on the id key, then intersections count on the
    * (id_b, tok) key — two keyed shuffles, nothing quadratic. Emits
    * (id_a, id_b, jaccard) for pairs whose 4dp-rounded Jaccard clears
    * `threshold` (the q28 rounding contract, so an external oracle lands on
    * the same boundary). */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String,
                    textCol: String, threshold: Double): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("id"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("tok"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val common = pairs.select(col("id_a"), col("id_b"))
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__common"))
    val j = graft.functions.Rounding.roundLikeC(
      col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")).cast("double"), 4)
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** End-to-end fuzzy dedup — the full near-duplicate removal DAG every
    * pretraining corpus runs (the composition the pieces q29/q28/q50 cover
    * individually): MinHash-LSH candidate generation → exact token-set
    * Jaccard verification ([[jaccardVerify]]) → connected components over
    * the verified pairs ([[dupClusters]]) → min-id survivor election.
    * Returns one row per input doc: (idCol, cluster_id, kept) where kept
    * marks the cluster representative (singletons keep themselves).
    *
    * Scale shape is the sum of its stages, each individually audited: one
    * (band, bucket) shuffle with the hub-bucket cap, candidate-linear
    * verification, log-diameter label propagation. Near-dups the LSH bands
    * miss are MISSED here too (recall is the LSH layer's knob — measure it
    * with [[graft.operators.Features.candidateQuality]] before trusting a
    * knob change); what verification guarantees is zero FALSE merges.
    *
    * ORDERING FOOT-GUN: run [[exact]] dedup FIRST (as [[Curate.funnel]]
    * does). A set of IDENTICAL texts shares EVERY band bucket; past
    * `maxBucketSize` those buckets drop and the clones silently all
    * survive (CorpusSpec pins this). Exact dedup removes identical texts
    * upfront, leaving fuzzy dedup the near-dups it exists for. */
  def fuzzyDedup(df: DataFrame, idCol: String, textCol: String,
                 threshold: Double = 0.8, shingleLen: Int = 3,
                 bands: Int = 8, rowsPerBand: Int = 4, seed: Long = 42L,
                 maxBucketSize: Int = 1000): DataFrame = {
    val cands = minhashLshCandidates(df, idCol, textCol, shingleLen, bands,
      rowsPerBand, seed, maxBucketSize)
    val verified = jaccardVerify(df, cands, idCol, textCol, threshold)
    dupClusters(df, idCol, verified.select("id_a", "id_b"))
      .withColumn("kept", col("cluster_id") === col(idCol))
  }

  /** Incremental fuzzy dedup — [[fuzzyDedup]]'s continuous-ingestion
    * counterpart and the near-dup sibling of [[incremental]]: a new batch
    * is checked against the SEEN corpus's persisted banded-signature index
    * ([[bandedSignatures]], maintained incrementally — the corpus is never
    * re-shingled), then within itself. Composition of the audited pieces:
    * [[minhashIncrementalCandidates]] (batch×index candidates, one
    * (band,bucket) shuffle, seen-side hub cap) → [[jaccardVerify]] (exact,
    * candidate-linear; token access touches only candidate seen docs) →
    * survivors run [[fuzzyDedup]] among themselves.
    *
    * Precedence is production-correct: a batch doc near-duplicating the
    * ACCEPTED corpus drops in favor of the seen doc (dup_of = lowest
    * verified seen id) before within-batch clustering — the accepted
    * corpus always wins, mirroring [[graft.operators.Curate.funnelIncremental]]'s
    * asymmetry. Emits one row per batch doc: (idCol, dup_of, kept) — for
    * within-batch clusters dup_of is the min-id cluster representative
    * (singletons keep themselves). Batch and seen ids must be disjoint
    * (they key one union frame during verification).
    *
    * Recall = the LSH band/row curve, exactly [[fuzzyDedup]]'s (measure a
    * knob change with `Features.candidateQuality` first); verification
    * guarantees zero false merges. The batch's signatures compute twice
    * (index probe + within-batch pass) — at 100 TB the batch is the small
    * side, so this costs a batch-sized projection, not a corpus pass. */
  def fuzzyDedupIncremental(batch: DataFrame, seenDocs: DataFrame,
                            seenBanded: DataFrame, idCol: String, textCol: String,
                            threshold: Double = 0.8, shingleLen: Int = 3,
                            bands: Int = 8, rowsPerBand: Int = 4, seed: Long = 42L,
                            maxBucketSize: Int = 1000): DataFrame = {
    val candsSeen = minhashIncrementalCandidates(batch, seenBanded, idCol, textCol,
        shingleLen, bands, rowsPerBand, seed, maxBucketSize)
      .select(col("batch_id").as("id_a"), col("seen_id").as("id_b"))
      // the candidate set gates BOTH the verification work and (via the
      // semi-join below) which seen docs get tokenized at all — and it is
      // consumed twice; materialize once
      .localCheckpoint()
    // verification must only ever tokenize CANDIDATE seen docs: jaccardVerify
    // re-derives doc token sets and sizes from the frame it is handed, so
    // handing it the full seen corpus would re-shingle 100 TB per batch (the
    // contract violation the round-6 advisory caught). The semi-join keeps
    // the verify input batch + candidate-bounded.
    val candSeenDocs = seenDocs.select(col(idCol), col(textCol))
      .join(candsSeen.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val both = batch.select(col(idCol), col(textCol))
      .unionByName(candSeenDocs)
    // both frames below are BATCH-bounded (the small side by definition)
    // and sit on top of the probe+verify DAG, which downstream references
    // — the within-batch signature pass, its verification, the cluster
    // nodes, and the output union — would otherwise re-evaluate per action
    val dupOfSeen = jaccardVerify(both, candsSeen, idCol, textCol, threshold)
      .groupBy(col("id_a").as(idCol))
      .agg(min(col("id_b")).as("dup_of"))
      .localCheckpoint()
    val rest = batch.join(dupOfSeen.select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    val within = fuzzyDedup(rest, idCol, textCol, threshold, shingleLen,
      bands, rowsPerBand, seed, maxBucketSize)
    dupOfSeen.select(col(idCol).cast("long").as(idCol), col("dup_of"),
        lit(false).as("kept"))
      .unionByName(within.select(col(idCol).cast("long").as(idCol),
        col("cluster_id").as("dup_of"), col("kept")))
  }

  /** Advance the banded-signature index with a curated batch's SURVIVORS —
    * the maintenance step between [[fuzzyDedupIncremental]] runs (band only
    * the accepted newcomers; the corpus is never re-shingled). Persist the
    * result as the next run's `seenBanded`. */
  def advanceBandedIndex(seenBanded: DataFrame, survivors: DataFrame,
                         idCol: String, textCol: String, shingleLen: Int = 3,
                         bands: Int = 8, rowsPerBand: Int = 4,
                         seed: Long = 42L): DataFrame =
    seenBanded.unionByName(bandedSignatures(survivors, idCol, textCol,
      shingleLen, bands, rowsPerBand, seed))

  /** Seed a [[fuzzyDedupBatch]] state pair from an external corpus (the
    * one-time historical backfill): the banded index lands in `indexDir`
    * and the text in `seenDir`, both as the [[graft.etl.BatchSnapshots]]
    * seed partition `batch_id=-1`. */
  def seedTextIndex(seen: DataFrame, indexDir: String, seenDir: String,
                    idCol: String, textCol: String): Unit = {
    BatchSnapshots.seed(bandedSignatures(seen, idCol, textCol), indexDir,
      "batch_id")
    BatchSnapshots.seed(seen.select(col(idCol), col(textCol)), seenDir,
      "batch_id")
  }

  /** foreachBatch sink: STREAMING fuzzy (MinHash-banded) dedup with
    * parquet-persisted state advancing between micro-batches — the text
    * twin of [[graft.operators.Multimodal.mediaDedupBatch]], lifting the
    * q138 chain to a `writeStream` citizen:
    *
    *   docs.writeStream.foreachBatch(
    *     Dedup.fuzzyDedupBatch(idxDir, seenDir, repDir, "id", "text") _)
    *       .start()
    *
    * Per micro-batch: probe via [[fuzzyDedupIncremental]] (banded index
    * candidates → exact Jaccard verify against candidate seen TEXT only →
    * within-batch [[fuzzyDedup]]), land the per-doc report
    * (id, dup_of, kept, batch_id) in `reportDir`, and ADVANCE both state
    * dirs by landing the survivors' band rows in `indexDir` and their
    * text in `seenDir` — O(batch) appends; the accepted corpus is never
    * rewritten or re-shingled.
    *
    * Delivery: replay-idempotent — all three dirs are in the
    * [[graft.etl.BatchSnapshots]] append form under `batch_id`. Seed
    * external history with [[seedTextIndex]]; compact with
    * [[compactTextIndex]]. */
  def fuzzyDedupBatch(indexDir: String, seenDir: String, reportDir: String,
                      idCol: String, textCol: String, threshold: Double = 0.8)
                     (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // one lineage cut feeds probe + report + both advances (the q146 rule)
    val b = batch.localCheckpoint()
    def below(dir: String, empty: DataFrame): DataFrame =
      BatchSnapshots.allBelow(spark, dir, batchId, "batch_id", empty,
        "seedTextIndex")
    val seen = below(seenDir, b.limit(0).select(col(idCol), col(textCol)))
    val idx = below(indexDir, bandedSignatures(b.limit(0), idCol, textCol))
    // batch-bounded, consumed by the report write AND the survivor joins
    val rep = fuzzyDedupIncremental(b, seen, idx, idCol, textCol, threshold)
      .localCheckpoint()
    BatchSnapshots.land(rep, reportDir, batchId, "batch_id")
    val survivors = b.join(rep.filter(col("kept")).select(idCol), Seq(idCol), "left_semi")
    BatchSnapshots.land(bandedSignatures(survivors, idCol, textCol), indexDir,
      batchId, "batch_id")
    BatchSnapshots.land(survivors.select(col(idCol), col(textCol)), seenDir,
      batchId, "batch_id")
  }

  /** Fold a [[fuzzyDedupBatch]] state dir's per-batch partitions strictly
    * below the replay barrier into `batch_id=-1` — apply to BOTH
    * `indexDir` and `seenDir` at the same barrier
    * ([[graft.etl.BatchSnapshots.compactBatchPartitions]]). */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       upToBatchId: Long): Unit =
    BatchSnapshots.compactBatchPartitions(spark, dir, upToBatchId)

  /** 60-bit SimHash over whitespace tokens. The per-bit vote is inherently
    * scalar-loop-shaped, so it runs as a typed map (one pass, no shuffle);
    * everything downstream stays relational.
    *
    * 60 bits, not 64: the token hash packs four 15-bit polynomial hashes
    * (`PortableHash.tokenHash60`), keeping the fingerprint positive and
    * every intermediate inside signed int64 — which is what lets the q30
    * oracle rebuild identical fingerprints in DuckDB (a 64-bit packing
    * overflows the top chunk there). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), Text.tokens(col(textCol)).as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks0) =>
        val toks = if (toks0 == null) Seq.empty[String] else toks0 // null text
        val hashes = toks.map(graft.functions.PortableHash.tokenHash60)
        var sig = 0L
        var bit = 0
        while (bit < 60) {
          var vote = 0
          hashes.foreach(h => vote += (if (((h >>> bit) & 1L) == 1L) 1 else -1))
          if (vote > 0) sig |= (1L << bit)
          bit += 1
        }
        (id, sig)
      }
      .toDF("id", "simhash")
  }

  /** Near-dup pairs by SimHash: pigeonhole on 15-bit chunks (hamming ≤ 3
    * guarantees ≥1 equal chunk of 4), verify with bit_count(xor).
    *
    * The 4-chunk pigeonhole is only COMPLETE for hamming ≤ 3: at 4+ bit
    * flips every chunk can differ, the pair never becomes a candidate, and
    * the final hamming filter silently loses it — so a larger `maxHamming`
    * is rejected rather than quietly under-recalling (more chunks, not a
    * looser filter, is the correct scale-up). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk pigeonhole guarantee (<= 3); " +
        "re-chunk the 60-bit signature into maxHamming+1 pieces instead")
    val sigs = simhash(df, idCol, textCol)
    val chunked = sigs.select(col("id"), col("simhash"), posexplode(
        array((0 until 4).map(i =>
          shiftrightunsigned(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL))): _*))
      .as(Seq("chunk_idx", "chunk")))
    chunked.as("a").join(chunked.as("b"), Seq("chunk_idx", "chunk"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The 15-bit pigeonhole chunks of a (id, simhash) frame — the stored /
    * probed form of the SimHash index: 4 rows per doc keyed (chunk_idx,
    * chunk), 24 bytes of payload. */
  private def simhashChunks(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("simhash"), posexplode(
        array((0 until 4).map(i =>
          shiftrightunsigned(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL))): _*))
      .as(Seq("chunk_idx", "chunk")))

  /** The persisted SimHash index of a seen corpus: chunked signatures
    * (chunk_idx, chunk, id, simhash). Build once, persist, probe every
    * batch with [[simhashIncrementalPairs]], advance on accepted survivors
    * with [[advanceSimhashIndex]] — the incremental protocol of
    * [[buildRepeatedSpanIndex]] / [[advanceBandedIndex]], completing the
    * family for the SimHash modality. 32 bytes × 4 rows per seen doc: a
    * 10¹⁰-doc corpus indexes in ~1.3 TB, partitioned by (chunk_idx, chunk). */
  def buildSimhashIndex(seen: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashChunks(simhash(seen, idCol, textCol))

  /** Batch-vs-seen SimHash near-dup pairs WITHOUT touching seen text: the
    * batch's chunked signatures probe the persisted index on (chunk_idx,
    * chunk) — complete for hamming ≤ 3 by the 4-chunk pigeonhole, same
    * guarantee (and the same loud rejection above 3) as [[simhashPairs]].
    *
    * Scale shape: the batch side (4 rows/doc) BROADCASTS; the index
    * streams through the join with no exchange and no per-batch re-sort —
    * per-batch cost is one index scan regardless of history size, the
    * [[repeatedSpansIncremental]] probe direction (the BENCH_INDEXSCALE
    * lesson: joining the other way re-shuffles the index every batch).
    * Seen docs are never re-tokenized — their signatures live in the
    * index. Emits (batch_id, seen_id, hamming). */
  def simhashIncrementalPairs(batch: DataFrame, seenIndex: DataFrame,
                              idCol: String, textCol: String,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk pigeonhole guarantee (<= 3); " +
        "re-chunk the 60-bit signature into maxHamming+1 pieces instead")
    val batchChunks = simhashChunks(simhash(batch, idCol, textCol))
      .select(col("id").as("batch_id"), col("simhash").as("__bsig"),
        col("chunk_idx"), col("chunk"))
    seenIndex.join(broadcast(batchChunks), Seq("chunk_idx", "chunk"))
      .select(col("batch_id"), col("id").as("seen_id"),
        bit_count(col("__bsig").bitwiseXOR(col("simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Advance the SimHash index: append the accepted batch survivors'
    * chunked signatures. Pure union — the existing index rows are never
    * read, so chaining batches costs O(batch) per advance. */
  def advanceSimhashIndex(seenIndex: DataFrame, survivors: DataFrame,
                          idCol: String, textCol: String): DataFrame =
    seenIndex.unionByName(buildSimhashIndex(survivors, idCol, textCol))

  /** Content-defined chunk dedup: split each document into variable-size
    * chunks at token positions where the token's polynomial hash is 0 mod
    * `avgChunk` (the content-defined-chunking boundary rule of LBFS /
    * rsync lineage: boundaries move WITH the content, so an insertion only
    * reshapes its own chunk, unlike fixed windows), then report every chunk
    * text appearing in at least `minDocs` documents with its keeper (min
    * id) — sub-document exact dedup for pretraining corpora where whole
    * documents differ but passages repeat.
    *
    * The chunker is ONE projection — an `aggregate` fold over the token
    * array carrying (completed chunks, current chunk), linear per document,
    * no shuffle and no per-token explode (a posexplode + window form
    * shuffles every TOKEN of a 100 TB corpus; this moves each document
    * once). The only shuffle is the final groupBy on the chunk text, which
    * partial-aggregates map-side. Hash is the engine-portable poly-31 mod
    * 1e9+7 ([[graft.functions.PortableHash.poly]]), so the oracle rebuilds
    * chunk boundaries bit-for-bit. */
  /** Base-31 instance of the shared poly-hash SQL definition
    * ([[graft.functions.PortableHash.polySql]]) — winnowing k-gram hash and
    * CDC chunk-boundary hash both compile from it. */
  private def polyHashSql(v: String): String =
    graft.functions.PortableHash.polySql(v, 31L)

  /** The chunking fold: token array `__w` → array of chunk strings. */
  private def chunkFold(avgChunk: Int): String = {
    val grow = "CASE WHEN st.cur = '' THEN t ELSE concat(st.cur, ' ', t) END"
    s"""aggregate(
       |  __w,
       |  named_struct('done', cast(array() as array<string>), 'cur', ''),
       |  (st, t) -> CASE WHEN ${polyHashSql("t")} % $avgChunk = 0
       |    THEN named_struct('done', array_append(st.done, $grow), 'cur', '')
       |    ELSE named_struct('done', st.done, 'cur', $grow)
       |  END,
       |  st -> CASE WHEN st.cur = '' THEN st.done
       |             ELSE array_append(st.done, st.cur) END
       |)""".stripMargin
  }

  /** The CDC chunker itself: (id, pos, chunk) rows, `pos` = 0-based chunk
    * index within the document (chunks concatenated in pos order rebuild
    * the tokenized text — the DedupSpec reconstruction property). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                avgChunk: Int = 8): DataFrame =
    df.select(col(idCol).as("id"), graft.functions.Text.tokens(col(textCol)).as("__w"))
      .select(col("id"), posexplode(expr(chunkFold(avgChunk))).as(Seq("pos", "chunk")))

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 avgChunk: Int = 8, minDocs: Long = 2L): DataFrame =
    df.select(col(idCol).as("id"), graft.functions.Text.tokens(col(textCol)).as("__w"))
      // array_distinct BEFORE the explode: (id, chunk) rows are then unique,
      // so count(1) = distinct docs — one corpus shuffle instead of the
      // two-phase distinct aggregate (PlanShapeSpec pins it)
      .select(col("id"), explode(array_distinct(expr(chunkFold(avgChunk)))).as("chunk"))
      .filter(col("chunk") =!= "")
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keeper"))
      .filter(col("n_docs") >= minDocs)

  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): polynomial rolling hash over every word `k`-gram, slide a
    * window of `w` hashes, keep each window's minimum, emit the distinct
    * selected hashes per document. Any shared run of ≥ `w + k - 1` words
    * between two documents is guaranteed to share a fingerprint — the
    * standard substring-level near-dup/plagiarism signature.
    *
    * Entirely higher-order array functions in one projection (codegen, no
    * UDF, no shuffle before the final explode); cost is linear in document
    * length. The hash is plain positional polynomial mod 1e9+7 — engine-
    * portable (the DuckDB oracle reproduces it), and documents shorter than
    * `w + k - 1` words emit no rows, mirroring MOSS.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    df.select(col(idCol), Text.tokens(col(textCol)).as("__w"))
      .withColumn("__kg",
        when(size(col("__w")) >= k,
          expr(s"transform(sequence(1, size(__w) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(__w, i, $k)))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("__h", expr(s"transform(__kg, g -> ${polyHashSql("g")})"))
      .withColumn("__m",
        when(size(col("__h")) >= w,
          expr(s"transform(sequence(1, size(__h) - ${w - 1}), " +
            s"j -> array_min(slice(__h, j, $w)))"))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .select(col(idCol), explode(array_distinct(col("__m"))).as("fp"))
  }

  /** Per-document duplicate-span fraction — the "how much of this document
    * exists elsewhere in the corpus" score that corpus-cleaning pipelines
    * threshold on (a whole-doc fingerprint misses partial copies; this
    * catches a page whose first half is boilerplate shared by thousands).
    *
    * Each document is cut into consecutive non-overlapping `spanTokens`-token
    * spans ([[Packing.slidingChunks]] with stride = chunkSize); a span counts
    * as duplicated when it appears in >= 2 DISTINCT documents (a span
    * repeated only inside one doc is self-repetition, q55's metric, not
    * duplication). The fraction is over a doc's DISTINCT spans.
    *
    * Scale shape — hot-fingerprint (viral span) resilient BY CONSTRUCTION,
    * no join on the fingerprint anywhere. An earlier form joined the span
    * doc-frequency back onto the span rows; a span shared by every document
    * then funneled the whole corpus's rows into one sort-merge partition,
    * and AQE could NOT split it because the (fp) exchange was reused by the
    * frequency aggregate (OptimizeSkewedJoin skips reused stages — found by
    * DedupSkewSpec's 20000×-skew fixture). This form uses the unique-span
    * identity instead: a span is duplicated iff its doc-frequency ≥ 2, so
    *   n_dup_spans(doc) = n_spans(doc) − #{spans of doc with df == 1},
    * and a df==1 span's single owner is recoverable IN the frequency
    * aggregate as `min(id)`. Every shuffle is then either two-phase
    * countDistinct (the viral fingerprint spreads across reducers keyed by
    * (fp, doc); phase 2 merges bounded per-partition partials) or keyed by
    * doc (bounded by one document's span count). DedupSkewSpec pins the
    * plan shape and exactness on the viral fixture.
    *
    * Emits (id, n_spans, n_dup_spans, dup_frac, is_dup) with
    * `is_dup = dup_frac >= flagAt`.
    */
  /** Exact repeated-substring spans at ARBITRARY length — the Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better")
    * substring-level dedup, re-expressed relationally. A token position is
    * inside some corpus-repeated substring of length ≥ `minLen` IFF it is
    * covered by a length-`minLen` token window that occurs ≥ 2 times in the
    * corpus (⇒: each `minLen`-window of a twice-occurring string itself
    * occurs twice; ⇐: a repeated window IS a repeated substring) — so the
    * `minLen`-gram cover is EXACT, not an approximation, and suffix arrays
    * are not needed for the cover semantics. Self-repeats count (a doc
    * pasted twice into one page is duplication too — Lee et al.'s
    * convention). Overlapping covered windows merge into MAXIMAL spans
    * (gaps-and-islands), which is what "remove every substring of length
    * ≥ L that appears more than once" removes.
    *
    * Emits one row per input doc: (idCol, n_tokens, n_spans,
    * n_repeated_tokens, repeated_frac 4dp, cleaned_text) where cleaned_text
    * is the doc with every repeated span's tokens deleted (space-joined).
    *
    * Scale shape — the anchor-gram aggregate is the only corpus-wide
    * shuffle, and NOTHING joins on the gram: a viral gram (site-wide
    * boilerplate) would funnel all its occurrences into one join partition,
    * so instead the [[dupSpanFraction]] df==1 identity applies — a UNIQUE
    * gram has exactly one occurrence, recoverable inside the count
    * aggregate as min(id, pos); repeated occurrences are then
    * `grams ANTI-JOIN unique-occurrences` keyed on (id, pos) — a uniform
    * key, and the gram itself never shuffles again (the anti-join ships 2
    * longs per row). The count aggregate partial-merges map-side; interval
    * merging windows per doc (bounded by one doc's length). The aggregate
    * keys on the [[anchorGrams]] HASH PAIR (16 bytes) rather than the
    * ~`minLen`·word-width gram string — the exchange-narrowing fold the
    * 100 TB profile demands, with collisions only ever ADDING coverage,
    * identically in the replaying oracle. */
  /** Anchor-gram frame shared by the repeated-span operators:
    * (idCol, p, gh1, gh2) — each `minLen`-token window keyed by TWO
    * independent polynomial hashes of the gram string (bases 31 and 131
    * mod 1e9+7 — [[polyTok]] per token, then an 8-long fold per gram). The
    * hash pair is what the count aggregate exchanges and the index stores:
    * 16 fixed bytes instead of a ~`minLen`·word-width string (Profile on
    * q127 at sf0.1: 14.84 MB → 11.39 MB total shuffle write at equal wall
    * time; the fixture's tokens are short — production web text widens the
    * string key and the gap several-fold, and the STORED q134 index
    * shrinks the same way). A pair collision between distinct grams
    * (~2⁻⁶⁰) can only MERGE two anchor groups — repeated-ness is a
    * count ≥ 2 test, so a collision only ever ADDS coverage, and both
    * engines (the oracle replays the identical fold) collide identically.
    * `hashGrams = false` keeps the raw-string key (the A/B measurement
    * path) under the DISTINCT column name `gram` — an index built in one
    * mode and probed in the other then fails loudly at analysis
    * ("gh1 not found") instead of silently null-joining a string against
    * a bigint and reporting every batch span as fresh (the round-7
    * advisory). */
  /** Polynomial hash of ONE token as a Column fold — the lambda-level twin
    * of [[graft.functions.PortableHash.polySql]] (same recurrence, same
    * codepoint basis), usable inside a `transform` where polySql's
    * string-named expr cannot reach the bound variable. */
  private def polyTok(t: Column, base: Long): Column =
    aggregate(sequence(lit(1), length(t)), lit(0L),
      (acc, i) => (acc * lit(base) + ascii(t.substr(i, lit(1))))
        % lit(graft.functions.PortableHash.PolyMod))

  private def anchorGrams(df: DataFrame, idCol: String, textCol: String,
                          minLen: Int, hashGrams: Boolean): DataFrame = {
    if (!hashGrams) {
      // raw-string keys (the A/B measurement path): bind the tokenization
      // once per row (the shingles lesson); docs with fewer than minLen
      // tokens contribute NO anchor grams
      val gramArr = element_at(transform(array(Text.tokens(col(textCol))), toks =>
        when(size(toks) >= minLen,
          transform(sequence(lit(0), size(toks) - minLen),
            i => concat_ws(" ", slice(toks, i + 1, lit(minLen)))))
          .otherwise(expr("cast(array() as array<string>)"))), 1)
      return df.select(col(idCol), posexplode(gramArr).as(Seq("p", "g")))
        .select(col(idCol), col("p"), col("g").as("gram"))
    }
    // hash TOKENS once each (two independent poly bases), PROJECTED so the
    // arrays are attributes (the q98 lesson: a computed array referenced
    // inside a later lambda re-evaluates per reference; a projected column
    // materializes once) — then each gram hash is an 8-long fold over the
    // slice, never a per-gram char scan (a first cut hashed the gram
    // STRING per gram: 2× the char work × minLen re-reads, measured 10.0 s
    // vs this form's 4.5 s on the q127 fixture at sf0.1 — the string-key
    // path's own wall time, with 23% less shuffle write)
    val tokHashed = df.select(col(idCol),
      transform(Text.tokens(col(textCol)), t => polyTok(t, 31L)).as("__t1"),
      transform(Text.tokens(col(textCol)), t => polyTok(t, 131L)).as("__t2"))
    val n = size(col("__t1"))
    val gramPairs = when(n >= minLen,
      transform(sequence(lit(0), n - minLen), i => struct(
        aggregate(slice(col("__t1"), i + 1, lit(minLen)), lit(0L),
          (acc, x) => (acc * 1000003L + x) % 1000000007L).as("gh1"),
        aggregate(slice(col("__t2"), i + 1, lit(minLen)), lit(0L),
          (acc, x) => (acc * 999983L + x) % 1000000007L).as("gh2"))))
      .otherwise(expr("cast(array() as array<struct<gh1:bigint,gh2:bigint>>)"))
    tokHashed.select(col(idCol), posexplode(gramPairs).as(Seq("p", "g")))
      .select(col(idCol), col("p"), col("g.gh1").as("gh1"), col("g.gh2").as("gh2"))
  }

  /** Gram-key column set per [[anchorGrams]] mode — the mode stamp: hashed
    * indexes carry (gh1, gh2), raw-string ones carry (gram), so a
    * build/probe mode mismatch is an analysis error, never a silent
    * string-vs-bigint cast join. */
  private def gramKeys(hashGrams: Boolean): Seq[String] =
    if (hashGrams) Seq("gh1", "gh2") else Seq("gram")

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 8, hashGrams: Boolean = true): DataFrame = {
    val grams = anchorGrams(df, idCol, textCol, minLen, hashGrams)
    // unique grams (corpus count == 1) carry their single occurrence out of
    // the aggregate itself — no gram-keyed join anywhere
    val uniqOcc = grams.groupBy(gramKeys(hashGrams).map(col): _*)
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol), col("p"))).as("__o"))
      .filter(col("__c") === 1)
      .select(col(s"__o.$idCol").as(idCol), col("__o.p").as("p"))
    val rep = grams.select(col(idCol), col("p"))
      .join(uniqOcc, Seq(idCol, "p"), "left_anti")
    spanReport(df, idCol, textCol, rep, minLen)
  }

  /** Shared back half of the repeated-span operators: repeated anchor
    * occurrences `rep` (idCol, p) → position cover → gaps-and-islands
    * maximal spans → per-doc report with span-removed text. */
  private def spanReport(df: DataFrame, idCol: String, textCol: String,
                         rep: DataFrame, minLen: Int): DataFrame = {
    val cov = rep
      .select(col(idCol), explode(sequence(col("p"), col("p") + lit(minLen - 1))).as("pos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("pos")
    val spans = cov
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").as("s"), max("pos").as("e"))
    val spanAgg = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("n_repeated_tokens"))
    val toks = df.select(col(idCol),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "tok")))
    val cleaned = toks.join(cov, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("cleaned_text"))
    df.select(col(idCol), Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(spanAgg, Seq(idCol), "left")
      .join(cleaned, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated_tokens"), lit(0L)).as("n_repeated_tokens"),
        (graft.functions.Rounding.roundLikeC(
          coalesce(col("n_repeated_tokens"), lit(0L)).cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double"), 4) + lit(0.0))
          .as("repeated_frac"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** The `minLen`-gram existence index [[repeatedSpansIncremental]] probes:
    * distinct anchor-gram HASH PAIRS of the seen corpus, columns
    * (gh1, gh2) — 16 bytes per entry instead of the gram string (the
    * round-6 scaladoc's own 100 TB note, now the implementation: the
    * stored index and every probe exchange narrow identically; a pair
    * collision only ever ADDS coverage, and the replaying oracle collides
    * identically). Existence is all the incremental check needs (for a
    * batch position, union-count ≥ 2 ⇔ gram ∈ seen ∨ batch-count ≥ 2 — the
    * q129 span-stage identity at gram-with-position granularity). */
  def buildRepeatedSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
                             minLen: Int = 8,
                             hashGrams: Boolean = true): DataFrame =
    anchorGrams(corpus, idCol, textCol, minLen, hashGrams)
      .select(gramKeys(hashGrams).map(col): _*)
      .distinct()

  /** Incremental [[repeatedSpans]] — the substring member of the
    * incremental dedup trio (exact [[incremental]], fuzzy
    * [[fuzzyDedupIncremental]], substring here): a batch position is inside
    * repeated material iff its anchor gram exists in the SEEN corpus's
    * gram index OR occurs ≥ 2 times within the batch — exactly the
    * union-corpus [[repeatedSpans]] verdict restricted to batch docs (for
    * a batch occurrence, union-count ≥ 2 ⇔ seen ∨ batch-repeat), without
    * ever re-scanning the corpus. Same report shape as [[repeatedSpans]].
    *
    * Skew shape: batch-unique occurrences come out of the count aggregate
    * (df==1 identity); the only gram-keyed join is gram-UNIQUE rows vs the
    * gram-UNIQUE index — no hot-gram funnel exists; everything after keys
    * on (id, pos). Advance the index with
    * `index.union(buildRepeatedSpanIndex(batchSurvivors)).distinct`. */
  def repeatedSpansIncremental(batch: DataFrame, seenGrams: DataFrame,
                               idCol: String, textCol: String,
                               minLen: Int = 8,
                               hashGrams: Boolean = true): DataFrame = {
    val grams = anchorGrams(batch, idCol, textCol, minLen, hashGrams)
    val keys = gramKeys(hashGrams)
    val uniqInBatch = grams.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol), col("p"))).as("__o"))
      .filter(col("__c") === 1)
    // unique-in-batch AND unseen = the NON-repeated occurrences; both join
    // sides are gram-unique (hash-pair-unique), so no hot gram can funnel a
    // partition — and only 16-byte key pairs ever move. PROBE DIRECTION
    // matters at scale: a plain anti-join sorts/hashes the INDEX side per
    // batch (BENCH_INDEXSCALE measured 1.09 -> 4.52 s across a 25× index —
    // the only non-flat curve in the trio). This form streams the stored
    // index ONCE through a codegen'd broadcast-semi filter against the
    // (tiny) batch key set — no index shuffle, no index sort, cost = one
    // index scan (measured flat-to-1.5× at 25×) — then resolves the
    // anti-join among two batch-bounded frames. The batch gram aggregate
    // deliberately computes twice (broadcast probe + final resolve): both
    // runs are batch-bounded, and an eager localCheckpoint here measured
    // WORSE (it materializes even under actions that prune the span DAG —
    // the r7 auto-isolation pass caught exactly that as a q134 bench
    // regression). Tradeoff is probe-direction-classic: at a TINY index
    // (index ≈ batch, the q134 fixture) the broadcast form pays ~25% extra
    // (Profile full-materialize: 5.9 s vs 4.7 s); at a 25× index it is 3×
    // faster (BENCH_INDEXSCALE: 1.58 s vs 4.52 s) — it serves the
    // production regime (index ≫ batch). A batch whose distinct gram count
    // outgrows a broadcast (~10⁸ keys) needs the shuffled anti-join
    // against a bucketed-stored index instead.
    val seenHits = seenGrams.select(keys.map(col): _*)
      .join(broadcast(uniqInBatch.select(keys.map(col): _*)), keys, "left_semi")
    val fresh = uniqInBatch
      .join(broadcast(seenHits), keys, "left_anti")
      .select(col(s"__o.$idCol").as(idCol), col("__o.p").as("p"))
    val rep = grams.select(col(idCol), col("p"))
      .join(fresh, Seq(idCol, "p"), "left_anti")
    spanReport(batch, idCol, textCol, rep, minLen)
  }

  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
                      spanTokens: Int = 20, flagAt: Double = 0.5): DataFrame = {
    val raw = graft.operators.Packing
      .slidingChunks(df, col(idCol), col(textCol), spanTokens, spanTokens)
      .select(col(idCol), col("chunk_md5").as("fp"))
    val spanStats = raw.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("__ndocs"), min(col(idCol)).as("__anydoc"))
    val uniqPerDoc = spanStats.filter(col("__ndocs") === 1)
      .groupBy(col("__anydoc").as(idCol))
      .agg(count(lit(1)).as("__nuniq"))
    val totals = raw.groupBy(col(idCol))
      .agg(countDistinct(col("fp")).as("n_spans"))
    totals.join(uniqPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        (col("n_spans") - coalesce(col("__nuniq"), lit(0L))).as("n_dup_spans"))
      .withColumn("dup_frac", graft.functions.Rounding.roundLikeC(
        col("n_dup_spans").cast("double") / col("n_spans"), 6))
      .withColumn("is_dup",
        col("n_dup_spans").cast("double") / col("n_spans") >= flagAt)
  }

  /** Gopher Appendix-A2 n-gram repetition metrics (Rae et al. 2021) — the
    * SELF-repetition family [[graft.functions.Text.repetitionFlags]]
    * (duplicate lines, q113) doesn't cover: per document,
    *
    *   - `top{2,3,4}_frac`  — fraction of the document's characters
    *     contained within the single MOST FREQUENT word n-gram:
    *     count × charlen of the gram with the highest occurrence count
    *     (occurrences may overlap — the paper's convention for the top
    *     metric). Count ties break toward the longer gram; the fraction
    *     depends only on (count, charlen), so no further tie-break is
    *     needed. A most-frequent gram occurring once still counts (the
    *     paper's wording puts no count ≥ 2 floor on the top metric).
    *   - `dup{5..10}_frac` — fraction of characters contained within ALL
    *     duplicated n-grams (count ≥ 2), each character counted ONCE:
    *     the exact character COVER of every duplicated gram occurrence
    *     (token chars + interior joining spaces), never double-counted —
    *     so the fraction is ≤ 1 by construction and published Gopher
    *     dup-frac thresholds transfer directly.
    *
    * (Round 7 shipped max(count×charlen) for top and an
    * overlap-overcounting Σ count×charlen for dup — graft-specific ratios
    * whose values could exceed 1.0; the round-8 advisory replaced both
    * with the reference conventions above.) Denominator is
    * `length(text)`. Documents shorter than n tokens score 0.0 for that
    * n. 4dp-rounded, −0.0-guarded.
    *
    * Scale shape: two gram-explode passes (top sizes 2–4 count-only;
    * dup sizes 5–10 carrying the 0-based token position) plus one
    * token-length projection — each keyed with the doc id in every
    * shuffle key, so no in-doc gram is hot across the key space.
    * Duplicated-gram positions ride the count aggregate as a
    * collect_list (bounded by in-doc occurrences — never a corpus-side
    * re-join, the q146 lineage rule); the cover dedups token positions
    * AND occurrence-interior space slots per (id, n) in one distinct
    * (a space counts only when a single occurrence contains it — merged
    * adjacency would overcount the join between abutting spans), then one
    * aggregate sums exact token lengths plus spaces; no per-document
    * window. The metric tables and the 9-way conditional-agg pivot are
    * count-table-sized. */
  def ngramRepetitionReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.Rounding.roundLikeC
    val toks = graft.functions.Text.tokens(col(textCol))
    // a doc shorter than n tokens contributes zero n-grams (sequence()
    // would DESCEND for stop < start, so the guard builds one dummy
    // element and filters it away on the constant-per-row predicate)
    def gramStructs(lo: Int, hi: Int, withPos: Boolean) =
      flatten(transform(sequence(lit(lo), lit(hi)), n => {
        val m = size(col("__toks")) - n + 1
        filter(
          transform(sequence(lit(1), greatest(m, lit(1))), i => {
            val gram = concat_ws(" ", slice(col("__toks"), i, n)).as("gram")
            if (withPos) struct(n.as("n"), (i - 1).as("i"), gram)
            else struct(n.as("n"), gram)
          }),
          _ => m >= 1)
      }))
    // top 2..4: the most frequent gram's count x charlen (ties -> longer)
    val topCnt = df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), explode(gramStructs(2, 4, withPos = false)).as("__g"))
      .select(col(idCol), col("__g.n").as("__n"), col("__g.gram").as("__gram"))
      .groupBy(col(idCol), col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__c"))
    val topMet = topCnt.groupBy(col(idCol), col("__n"))
      .agg(max(struct(col("__c"),
        length(col("__gram")).cast("long").as("__len"))).as("__m"))
      .select(col(idCol), col("__n"),
        (col("__m.__c") * col("__m.__len")).as("__topc"))
    // dup 5..10: exact character cover of all duplicated-gram occurrences
    val dupOcc = df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), explode(gramStructs(5, 10, withPos = true)).as("__g"))
      .select(col(idCol), col("__g.n").as("__n"), col("__g.i").as("__i"),
        col("__g.gram").as("__gram"))
      .groupBy(col(idCol), col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__c"), collect_list(col("__i")).as("__ps"))
      .filter(col("__c") >= 2)
      .select(col(idCol), col("__n"), explode(col("__ps")).as("__i"))
    // one exploded frame carries BOTH cover kinds: k=0 token positions
    // (i..i+n-1), k=1 interior space slots (i..i+n-2 — the space between
    // token s and s+1, emitted only when a SINGLE occurrence contains it;
    // deriving spaces from merged-cover adjacency instead would count the
    // join between two merely-abutting occurrences, e.g. 'a b c d e a b c
    // d e' scoring 19/19 instead of 18/19). distinct() then dedups across
    // overlapping occurrences, and one aggregate sums token chars + spaces.
    val coverAll = dupOcc
      .select(col(idCol), col("__n"), explode(concat(
          transform(sequence(col("__i"), col("__i") + col("__n") - 1),
            p => struct(lit(0).as("k"), p.as("pos"))),
          transform(sequence(col("__i"), col("__i") + col("__n") - 2),
            s => struct(lit(1).as("k"), s.as("pos")))))
        .as("__e"))
      .select(col(idCol), col("__n"), col("__e.k").as("__k"),
        col("__e.pos").as("pos"))
      .distinct()
    val tokLens = df.select(col(idCol),
        posexplode(transform(toks, t => length(t))).as(Seq("pos", "__tl")))
    val dupMet = coverAll.join(tokLens, Seq(idCol, "pos"))
      .groupBy(col(idCol), col("__n"))
      .agg(sum(when(col("__k") === 1, lit(1L))
        .otherwise(col("__tl").cast("long"))).as("__dupc"))
    val topPiv = topMet.groupBy(col(idCol)).agg(
      max(when(col("__n") === 2, col("__topc"))).as("__top2"),
      (3 to 4).map(n =>
        max(when(col("__n") === n, col("__topc"))).as(s"__top$n")): _*)
    val dupPiv = dupMet.groupBy(col(idCol)).agg(
      max(when(col("__n") === 5, col("__dupc"))).as("__dup5"),
      (6 to 10).map(n =>
        max(when(col("__n") === n, col("__dupc"))).as(s"__dup$n")): _*)
    def frac(c: Column) = roundLikeC(
      coalesce(c, lit(0L)).cast("double") / col("__nch").cast("double"), 4) + lit(0.0)
    df.select(col(idCol), length(col(textCol)).cast("long").as("__nch"))
      .join(topPiv, Seq(idCol), "left")
      .join(dupPiv, Seq(idCol), "left")
      .select(col(idCol) +:
        ((2 to 4).map(n => frac(col(s"__top$n")).as(s"top${n}_frac")) ++
         (5 to 10).map(n => frac(col(s"__dup$n")).as(s"dup${n}_frac"))): _*)
  }
}
