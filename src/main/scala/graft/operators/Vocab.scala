package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Token-vocabulary build + dictionary encoding — the id-ification step
  * between tokenization and packing training shards (every pretraining
  * pipeline stores token IDS, not strings; ids also make the packed
  * sequences of q57 byte-stable).
  *
  * Vocabulary ids are dense from 0 in (frequency DESC, token ASC) order —
  * deterministic, and the frequent-token-small-id property is what keeps
  * varint-style downstream encodings compact.
  *
  * Scale shape: the corpus-sized work is a map-side-combinable token count;
  * the rank window then runs over the VOCABULARY (distinct tokens, ~1e5–1e7
  * rows at 100 TB of text), so its single-partition sort is bounded by
  * vocab size no matter the corpus. Encoding broadcasts the vocab by
  * default (a 1e6-row dictionary is a few MB); pass `broadcastVocab =
  * false` to shuffle-join instead when a caller builds a giant vocab.
  */
object Vocab {

  /** (token, n, token_id) — ids dense from 0, ranked by (n DESC, token). */
  def build(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    counts.withColumn("token_id",
      (row_number().over(Window.orderBy(col("n").desc, col("token"))) - 1).cast("long"))
  }

  /** Symbol separator for the BPE fold's string accumulator — a control
    * char that never appears in corpus tokens (tokens come from whitespace
    * splitting, and U+001F is whitespace-adjacent control, not text). */
  private val BpeSep = "\u001F"

  /** One greedy left-to-right application of merge (a, b) → ab over a
    * symbol array, as a pure expression fold. The accumulator is a
    * SEP-delimited string (same element type as the lambda input — which is
    * what lets an external SQL oracle run the IDENTICAL fold via
    * list_reduce): if the accumulated sequence ends with symbol `a` and the
    * next symbol is `b`, append `b` directly (fusing the pair); otherwise
    * append with a separator. Matches the classic BPE regex-free merge:
    * overlapping matches resolve leftmost-first ("aaa" + (a,a) → [aa, a]),
    * and a freshly merged symbol can't re-merge in the same round (that
    * would require `ab == a`, i.e. an empty right side). */
  private def applyMergeExpr(syms: Column, a: String, b: String): Column = {
    val folded = aggregate(syms, lit(""), (acc, x) =>
      when(acc === "", x)
        .when(x === lit(b) && (acc === lit(a) || acc.endsWith(lit(BpeSep + a))),
          concat(acc, x))
        .otherwise(concat(acc, lit(BpeSep), x)))
    split(folded, java.util.regex.Pattern.quote(BpeSep))
  }

  /** Apply an ordered merge list (a [[bpeTrain]] result) to a symbol array
    * column — the encode path: chars in, trained subword segments out. */
  def bpeApply(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (s, (a, b)) => applyMergeExpr(s, a, b) }

  /** Character array of a token (the BPE base alphabet). Spark's
    * `split(w, "")` keeps a trailing "" (Java split with limit -1) — the
    * filter drops it so the alphabet is exactly the word's characters. */
  def charSyms(w: Column): Column =
    filter(split(w, ""), s => s =!= "")

  /** Distributed BPE tokenizer training (Sennrich et al. 2016): `numMerges`
    * merges of "count adjacent symbol pairs, merge the most frequent",
    * executed in BATCHED rounds that are provably identical to the
    * one-merge-per-round sequence. Returns the trained merge table —
    * (merge_rank, left, right, merged, pair_count) — the artifact a
    * tokenizer ships.
    *
    * The scalable shape is the classic one: the corpus is scanned ONCE
    * (a map-side-combinable word count); every training round then runs on
    * the word-frequency table — VOCABULARY-sized, not corpus-sized — so
    * 100 TB of text iterates over a few million rows. Per round: one
    * pair-count aggregate over the vocab (pairs weighted by word counts),
    * one TakeOrderedAndProject top-slice collect (count DESC, then
    * (left, right) lexicographic — binary UTF-8 order in both engines, so
    * ties break identically), and one pure-projection application of every
    * merge accepted this round ([[applyMergeExpr]] folded in rank order);
    * the word table re-materializes via localCheckpoint so the iterated
    * fold doesn't nest the plan arbitrarily deep. Only the bounded
    * top-slice (≤ 4·`maxMergesPerRound` rows) ever reaches the driver.
    *
    * BATCHING RULE (the exact-equivalence guard): walking the pair table
    * in sequential-argmax order (count DESC, pair ASC), accept a prefix of
    * pairs that (1) are pairwise symbol-disjoint — no symbol of a later
    * accepted pair equals a left/right/merged symbol of an earlier one —
    * and (2) each count STRICTLY exceeds every conflicting or unseen
    * pair's count that could seed a competing derived pair — each
    * conflicting entry in the scanned slice bounds only the pairs accepted
    * AFTER the earliest accepted pair it shares a symbol with, and the
    * slice tail's count bounds everything when the slice may be
    * incomplete. Merging a
    * pair only creates/destroys pairs that SHARE one of its symbols, and a
    * created pair's count is bounded by the conflicting pair it derives
    * from — so under (1)+(2) the counts of every later accepted pair are
    * invariant across the earlier merges, no created pair can reach (or
    * tie) them, and the sequential argmax provably selects exactly this
    * prefix in this order (VocabSpec pins batched ≡ sequential; the q109
    * oracle replays the sequential semantics merge by merge). When no
    * prefix beyond the global argmax is safe, the round degrades to the
    * sequential single merge — never to a different result. A production
    * 50k-merge tokenizer train at `maxMergesPerRound = 16` thus runs ~16×
    * fewer driver round-trips/checkpoint materializations — the round-6
    * driver-latency ceiling — at zero semantic drift.
    *
    * Word-internal BPE (no cross-word pairs, no end-of-word marker): each
    * word contributes its own adjacent pairs, which is the standard
    * frequency-dictionary formulation. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               maxMergesPerRound: Int = 16): DataFrame =
    bpeTrainWithRounds(df, textCol, numMerges, maxMergesPerRound)._1

  // -------------------------------------------------------------------
  // Incremental tokenizer training. The ONLY corpus-sized input either
  // trainer consumes is the word-frequency table — a COUNT MONOID: fold
  // per-batch word counts into a persisted state (never re-scanning prior
  // batches) and retrain from the folded table; training itself is
  // vocabulary-sized, so retrain-per-batch costs vocab work, not corpus
  // scans. States from any batching fold to exactly the joint corpus
  // counts, so the trained artifact (merge table / pruned vocabulary) is
  // IDENTICAL to a full retrain — the strongest incremental contract.
  // -------------------------------------------------------------------

  /** The corpus word-frequency table `(w, cnt)` — the trainers'
    * sufficient statistic. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Advance the word-count state with one document batch: a full-outer
    * SUM merge on the word key — one shuffle sized |vocab| + |batch
    * vocab|, never the corpus; an empty batch is the identity. */
  def wordCountsAdvance(state: DataFrame, batch: DataFrame,
                        textCol: String): DataFrame = {
    val b = wordCounts(batch, textCol).withColumnRenamed("cnt", "_bc")
    state.join(b, Seq("w"), "full_outer")
      .select(col("w"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("_bc"), lit(0L)))
          .as("cnt"))
  }

  /** `foreachBatch` sink for the word-count state (the
    * [[graft.etl.BatchSnapshots]] discipline): snapshot-per-batch,
    * replay rewrites identically. Returns `(batch_id, n_words)`. */
  def wordCountsBatch(stateDir: String, textCol: String)
                     (batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val next = graft.etl.BatchSnapshots.advanceAndLand(spark,
        s"$stateDir/state", batchId, Seq("w", "cnt"),
        wordCountsEmptyState(spark))(
      prior => wordCountsAdvance(prior, batch, textCol))
    Seq((batchId, next.count())).toDF("batch_id", "n_words")
  }

  /** Empty word-count state. */
  def wordCountsEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("w", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false))))
  }

  /** The latest persisted [[wordCountsBatch]] snapshot. */
  def wordCountsFrom(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): DataFrame =
    graft.etl.BatchSnapshots.latest(spark, s"$stateDir/state",
      Seq("w", "cnt"), wordCountsEmptyState(spark))

  /** [[bpeTrain]] off a word-count state instead of raw documents —
    * the incremental retrain path. */
  def bpeTrainFromCounts(counts: DataFrame, numMerges: Int,
                         maxMergesPerRound: Int = 16): DataFrame =
    bpeTrainCore(counts, numMerges, maxMergesPerRound)._1

  /** [[bpeTrain]] exposing the executed round count (spec/measurement
    * hook: sequential = `numMerges` rounds; batched ≤ that, ~16× fewer at
    * the default on merge-rich corpora). */
  private[graft] def bpeTrainWithRounds(df: DataFrame, textCol: String,
                                        numMerges: Int,
                                        maxMergesPerRound: Int = 16): (DataFrame, Int) =
    bpeTrainCore(wordCounts(df, textCol), numMerges, maxMergesPerRound)

  /** The training loop proper, off a `(w, cnt)` frame — shared by the
    * from-documents and from-folded-state entry points so the two can
    * never diverge. */
  private def bpeTrainCore(counts: DataFrame, numMerges: Int,
                           maxMergesPerRound: Int): (DataFrame, Int) = {
    require(maxMergesPerRound >= 1, "maxMergesPerRound must be >= 1")
    val spark = counts.sparkSession
    import spark.implicits._
    var words = counts
      .select(charSyms(col("w")).as("syms"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var rounds = 0
    while (done < numMerges) {
      val batchLimit = math.min(maxMergesPerRound, numMerges - done)
      // slice large enough to expose the conflicts that bound acceptance;
      // +1 so a full slice is distinguishable from an exactly-slice-sized
      // pair table (the unseen-pair bound below)
      val sliceN = batchLimit * 4 + 1
      val pairs = words
        .select(col("cnt"), explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("a"),
                element_at(col("syms"), i + 1).as("b"))))
            .otherwise(array())).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
        .groupBy("a", "b").agg(sum(col("cnt")).as("c"))
      val top = pairs.orderBy(col("c").desc, col("a"), col("b"))
        .limit(sliceN).as[(String, String, Long)].collect()
      require(top.nonEmpty,
        s"BPE training exhausted all pairs after $done merges — every " +
          s"word is a single symbol; ask for fewer than $numMerges merges")
      // guarded prefix selection (see BATCHING RULE above). The WHOLE
      // slice is scanned for conflicts even after the batch fills: a
      // conflicting pair anywhere in the table bounds which accepted
      // counts are provably stable (an early cut stopped at the batch
      // limit and missed an equal-count conflict right behind it — the
      // merge of (g,r) created (gr,o) tying a stale accepted (o,up), a
      // real divergence CorpusSpec caught). Each conflict is attributed to
      // the EARLIEST accepted pair it shares a symbol with: only merges
      // AFTER that pair can create the derived pairs the conflict bounds,
      // so earlier accepted pairs stay eligible (a single global max
      // bound measured 7 extra rounds on the tie-dense fixture).
      val used = scala.collection.mutable.Map.empty[String, Int] // symbol -> accepting index
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val threats = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < top.length) {
        val (a, b, c) = top(i)
        val ia = used.get(a); val ib = used.get(b)
        if (ia.isDefined || ib.isDefined) {
          val minIdx = math.min(ia.getOrElse(Int.MaxValue), ib.getOrElse(Int.MaxValue))
          if (c > threats(minIdx)) threats(minIdx) = c
        } else if (acc.size < batchLimit) {
          val idx = acc.size
          acc += ((a, b, c)); threats += Long.MinValue
          if (!used.contains(a)) used(a) = idx
          if (!used.contains(b)) used(b) = idx
          if (!used.contains(a + b)) used(a + b) = idx
        }
        i += 1
      }
      // unseen pairs (table beyond the slice) have unknown conflict
      // targets: they bound every position after the first
      val unseenBound = if (top.length >= sliceN) top(sliceN - 1)._3 else Long.MinValue
      val chosen = {
        val keep = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var running = unseenBound
        var j = 0
        var stop = false
        while (j < acc.size && !stop) {
          // the global argmax (j == 0) alone IS the sequential step —
          // always safe, so every round makes progress
          if (j == 0 || acc(j)._3 > running) {
            keep += acc(j)
            if (threats(j) > running) running = threats(j)
          } else stop = true
          j += 1
        }
        keep.toSeq
      }
      chosen.foreach { case (a, b, c) => done += 1; merges += ((done, a, b, c)) }
      words = words
        .select(chosen.foldLeft(col("syms")) { case (s, (a, b, _)) =>
          applyMergeExpr(s, a, b)
        }.as("syms"), col("cnt"))
        .localCheckpoint()
      rounds += 1
    }
    val table = merges.result().toDF("merge_rank", "left", "right", "pair_count")
      .select(col("merge_rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_count"))
    (table, rounds)
  }

  // -------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — the PRUNING-based
  // alternative to BPE's merge-based training (Kudo 2018): seed a large
  // candidate vocabulary from frequent substrings of the word-frequency
  // table, then iteratively DROP the pieces that contribute least, keeping
  // the single-character floor so every word stays segmentable.
  // -------------------------------------------------------------------

  /** Greedy leftmost-longest segmentation of the distinct-word frame `words`
    * (column `w`) under `vocab` (column `piece`) — the WordPiece inference
    * rule, chosen over Viterbi because it is exactly replayable as a pure
    * fold in any engine (float-free: every decision is a substring
    * membership test). Returns `(w, segs array<string>)`.
    *
    * Shape: candidate matches are relational — (position × length) explode
    * over the VOCABULARY-sized word table, one broadcast semi-join against
    * the piece set, a per-position MAX — and the walk itself is one
    * expression fold over the word's positions carrying (next-match
    * position | segments) in a string accumulator (the [[applyMergeExpr]]
    * discipline), skipping positions inside an already-matched piece.
    * Single characters are always in a trained vocab, so `bestLen`
    * defaults to 1 and the walk never sticks. */
  def unigramSegment(words: DataFrame, vocab: DataFrame,
                     maxPieceLen: Int): DataFrame = {
    // The vocabulary is BOUNDED by this operator family's contract (a
    // trained piece set: seed + alphabet, ~1e5-1e6 at production scale,
    // dozens here) -- hold it driver-side and segment in ONE codegen
    // projection (segsExpr): no position/length explode, no broadcast
    // semi-join, no per-word aggregate, ZERO shuffles where the relational
    // form ran two groupBys and two joins per call (guide §1.2: fix the
    // algorithm before the stages). The cap guards the contract: an
    // unbounded "vocab" falls back to the relational form instead of
    // building a multi-million-literal expression.
    val cap = 100000
    val pieceRows = vocab.select("piece").limit(cap + 1).collect()
    if (pieceRows.length > cap)
      return unigramSegmentRelational(words, vocab, maxPieceLen)
    val pieces = pieceRows.map(_.getString(0)).toSeq
    words.select(col("w"), segsExpr(col("w"), pieces, maxPieceLen).as("segs"))
  }

  /** Greedy leftmost-longest segmentation of `w` under a DRIVER-HELD piece
    * list, as one pure expression: per-position best match length via
    * `isin` set membership (an InSet hash probe per length class), then the
    * same position/segments fold the relational form always ran. The bls
    * array and the fold are each wrapped in the single-element-transform
    * barrier (the [[graft.operators.Dedup.shingles]] idiom): a lambda
    * variable cannot be inlined into, so CollapseProject can never
    * re-evaluate the O(len * vocab-probe) array once per fold step. */
  private[graft] def segsExpr(w: Column, pieces: Seq[String],
                              maxPieceLen: Int): Column = {
    // length classes in CODE POINTS, the unit of Spark's `length`/`substr`:
    // a UTF-16 length would file a supplementary-plane piece under a class
    // its substr slice never has, so it could never match
    val byLen: Map[Int, Seq[String]] = pieces.filter(_ != null).distinct
      .groupBy(p => p.codePointCount(0, p.length))
      .filter { case (l, _) => l >= 2 && l <= maxPieceLen }
    def bestLen(p: Column): Column =
      (2 to maxPieceLen).foldLeft(lit(1): Column) { (acc, l) =>
        byLen.get(l) match {
          case None => acc
          case Some(ps) =>
            when((p + lit(l - 1) <= length(w)) &&
              w.substr(p, lit(l)).isin(ps: _*), lit(l)).otherwise(acc)
        }
      }
    val blsArr = transform(sequence(lit(1), length(w)), p => bestLen(p))
    val Carrier = "\u001d"
    def part(acc: Column, i: Int): Column =
      call_function("split_part", acc, lit(Carrier), lit(i))
    element_at(transform(array(blsArr), bls => {
      val fold = aggregate(
        transform(sequence(lit(1), length(w)), i => i.cast("string")),
        lit("1" + Carrier),
        (acc, x) => {
          val pos = part(acc, 1).cast("int")
          val segs = part(acc, 2)
          val bl = element_at(bls, pos)
          val piece = w.substr(pos, bl)
          when(x.cast("int") =!= pos, acc)
            .otherwise(concat((pos + bl).cast("string"), lit(Carrier),
              when(segs === lit(""), piece)
                .otherwise(concat(segs, lit(BpeSep), piece))))
        })
      split(part(fold, 2), java.util.regex.Pattern.quote(BpeSep))
    }), 1)
  }

  /** The pre-r14 relational segmentation -- kept verbatim as the fallback
    * for a vocab too large to hold driver-side (outside the trained-piece
    * contract, but the operator stays total). */
  private[graft] def unigramSegmentRelational(words: DataFrame, vocab: DataFrame,
                                       maxPieceLen: Int): DataFrame = {
    val poss = words.select(col("w"),
      explode(sequence(lit(1), length(col("w")))).as("__p"))
    val best = poss
      .select(col("w"), col("__p"),
        explode(sequence(lit(2), lit(maxPieceLen))).as("__l"))
      .filter(col("__p") + col("__l") - 1 <= length(col("w")))
      .withColumn("piece", col("w").substr(col("__p"), col("__l")))
      .join(broadcast(vocab.select("piece")), Seq("piece"), "left_semi")
      .groupBy("w", "__p").agg(max(col("__l")).as("__bl"))
    val bls = poss.join(best, Seq("w", "__p"), "left")
      .select(col("w"), col("__p"), coalesce(col("__bl"), lit(1)).as("__bl"))
      .groupBy("w")
      .agg(transform(sort_array(collect_list(struct(col("__p"), col("__bl")))),
        s => s.getField("__bl")).as("__bls"))
    // the pos/segs carrier delimiter is a CONTROL char (U+001D), same
    // argument as BpeSep: tokens come from whitespace splitting and can
    // contain any printable char — a '|' in a word would corrupt the
    // carrier in both engines
    val Carrier = "\u001d"
    def part(acc: Column, i: Int): Column =
      call_function("split_part", acc, lit(Carrier), lit(i))
    val fold = aggregate(
      transform(sequence(lit(1), length(col("w"))), i => i.cast("string")),
      lit("1" + Carrier),
      (acc, x) => {
        val pos = part(acc, 1).cast("int")
        val segs = part(acc, 2)
        val bl = element_at(col("__bls"), pos)
        val piece = col("w").substr(pos, bl)
        when(x.cast("int") =!= pos, acc)
          .otherwise(concat((pos + bl).cast("string"), lit(Carrier),
            when(segs === lit(""), piece)
              .otherwise(concat(segs, lit(BpeSep), piece))))
      })
    words.select("w").join(bls, "w")
      .select(col("w"),
        split(part(fold, 2), java.util.regex.Pattern.quote(BpeSep)).as("segs"))
  }

  /** Unigram-LM tokenizer training: seed with the `seedSize` most frequent
    * multi-character substrings (length 2..`maxPieceLen`, occurrence-
    * weighted by word count, ties (freq DESC, piece ASC)) plus EVERY
    * single character (the never-pruned segmentability floor), then run
    * `rounds` pruning rounds: segment the word table under the current
    * vocabulary, count each piece's corpus usage (exact integer,
    * word-count-weighted — the unigram model's sufficient statistic), and
    * drop the `pruneN` multi-char pieces whose removal costs the least
    * likelihood, ties (usage ASC, length DESC, piece ASC). Returns the
    * shipped vocabulary `(piece, piece_len, usage)` with usage recomputed
    * under the final vocabulary.
    *
    * Scale: like [[bpeTrain]], the corpus is scanned ONCE (the word
    * count); every round runs on the VOCABULARY-sized word table — at
    * 100 TB of text that is a few million rows per round, each round one
    * broadcast semi-join + one fold projection + one piece-keyed
    * aggregate, re-pinned per round (localCheckpoint) so the loop's plan
    * never nests. Only the pruneN pruned piece strings reach the driver
    * per round. The q109 oracle-replay discipline holds: every round is a
    * vocabulary-sized CTE in the q211 oracle. */
  def unigramTrain(df: DataFrame, textCol: String, seedSize: Int = 60,
                   maxPieceLen: Int = 4, pruneN: Int = 12,
                   rounds: Int = 3): DataFrame =
    unigramTrainFromCounts(wordCounts(df, textCol), seedSize, maxPieceLen,
      pruneN, rounds)

  /** [[unigramTrain]] off a word-count state instead of raw documents —
    * the incremental retrain path (the [[wordCountsAdvance]] monoid makes
    * the folded table equal the joint corpus counts, so the pruned
    * vocabulary is identical to a full retrain). */
  def unigramTrainFromCounts(counts: DataFrame, seedSize: Int = 60,
                             maxPieceLen: Int = 4, pruneN: Int = 12,
                             rounds: Int = 3): DataFrame = {
    require(seedSize > pruneN * rounds,
      s"seedSize $seedSize must exceed pruneN*rounds = ${pruneN * rounds}")
    val spark = counts.sparkSession
    import spark.implicits._
    val words = counts.localCheckpoint()
    val subs = words
      .select(explode(flatten(transform(sequence(lit(1), length(col("w"))), p =>
        filter(transform(sequence(lit(2), lit(maxPieceLen)), l =>
          when(p + l - 1 <= length(col("w")), col("w").substr(p, l))),
          x => x.isNotNull)))).as("piece"),
        col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("freq"))
    val topMulti = subs.orderBy(col("freq").desc, col("piece"))
      .limit(seedSize).select("piece")
    val chars = words.select(explode(charSyms(col("w"))).as("piece")).distinct()
    // The vocabulary is BOUNDED (seedSize + alphabet) and its pruned slice
    // already crosses the driver once per round — hold the piece list
    // driver-side and rebuild the vocab frame as a LOCAL RELATION per
    // round: the per-round `filter(...).localCheckpoint()` job disappears
    // and the segmentation's broadcast semi-join builds from a local
    // relation (no distributed build stage). Content is identical — the
    // driver list is exactly what the filter chain maintained.
    var pieces: Seq[String] =
      topMulti.unionByName(chars).collect().map(_.getString(0)).toSeq
    // usage under the driver-held piece list: [[segsExpr]] segments in one
    // codegen projection over the word table (cnt carried through — the
    // relational form re-joined words to re-attach it), so each round is
    // exactly ONE piece-keyed aggregate + its pruned-slice collect. The
    // r13 LocalRelation attempt failed because the segmentation still ran
    // explode+join+two-aggregate plans per round; with the projection form
    // the per-round job count drops to 1.
    def usageUnder(ps: Seq[String]): DataFrame =
      words.select(explode(segsExpr(col("w"), ps, maxPieceLen)).as("piece"),
          col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("usage"))
    for (_ <- 1 to rounds) {
      val vocab = pieces.toDF("piece")
      val scored = vocab.join(usageUnder(pieces), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("usage"), lit(0L)).as("usage"))
      val pruned = scored.filter(length(col("piece")) >= 2)
        .orderBy(col("usage").asc, length(col("piece")).desc, col("piece").asc)
        .limit(pruneN)
        .select("piece").collect().map(_.getString(0)).toSet
      pieces = pieces.filterNot(pruned)
    }
    val vocab = pieces.toDF("piece")
    vocab.join(usageUnder(pieces), Seq("piece"), "left")
      .select(col("piece"), length(col("piece")).as("piece_len"),
        coalesce(col("usage"), lit(0L)).as("usage"))
  }

  /** Encode documents against `vocab` (a [[build]] result): one
    * (id, pos, token_id) row per token, pos 0-based within the document.
    * Unknown tokens encode as `oovId` (left join — an inner join would
    * silently DROP positions and shift every later token left). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, oovId: Long = -1L,
             broadcastVocab: Boolean = true): DataFrame = {
    val ex = docs.select(col(idCol),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "token")))
    val v0 = vocab.select(col("token"), col("token_id"))
    val v = if (broadcastVocab) broadcast(v0) else v0
    ex.join(v, Seq("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(oovId)).as("token_id"))
  }
}
