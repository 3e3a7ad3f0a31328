package graft

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{Dedup, Vocab}

/** Rule-ensemble corpus filtering (q107) and round-5 corpus composites. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private def flagsOf(text: String,
      required: Seq[String] = Text.GopherRequiredWords,
      minWords: Int = 50): Map[String, Any] = {
    val row = Seq(Tuple1(text)).toDF("text")
      .select(Text.gopherFlags(col("text"), requiredWords = required,
        minWords = minWords).as("g"))
      .select(col("g.*")).head()
    row.schema.fieldNames.zip(row.toSeq).toMap
  }

  test("gopherFlags: empty text fails word count with zeroed stats, no NaN/null") {
    val f = flagsOf("")
    assert(f("n_words") === 0)
    assert(f("mean_word_len") === 0.0)
    assert(f("ok_word_count") === false)
    assert(f("keep") === false)
  }

  test("gopherFlags: bullet-dominated text fails the bullet rule only there") {
    // 10 bullet lines of 11 total lines = 0.909 > 0.9
    val bullets = (1 to 10).map(i => s"- item number $i word word").mkString("\n")
    val f = flagsOf("the quick brown fox with all of that have be to and more words here\n" + bullets,
      minWords = 10)
    assert(f("ok_bullet_lines") === false)
    assert(f("ok_word_count") === true)
    assert(f("ok_ellipsis_lines") === true)
    assert(f("keep") === false)
  }

  test("gopherFlags: symbol spam and ellipsis-line rules trip independently") {
    val hashy = flagsOf("the data with of " + ("# " * 20), minWords = 2)
    assert(hashy("ok_symbol_ratio") === false)
    assert(hashy("ok_alpha_words") === false) // 20 of 24 tokens are '#'
    val dots = flagsOf("the data with of\nloading...\nmore...\nstill...", minWords = 2)
    assert(dots("ok_ellipsis_lines") === false) // 3 of 4 lines end with ...
    assert(dots("ok_bullet_lines") === true)
  }

  test("gopherFlags: required-words rule counts distinct matches, case-insensitive") {
    // 'The' and 'with' present (2 distinct hits) -> passes; only 'the' -> fails
    val two = flagsOf("The data with of extra tokens pad pad pad pad", minWords = 2,
      required = Seq("the", "with"))
    assert(two("ok_required_words") === true)
    val one = flagsOf("The data pad pad pad pad pad pad pad pad", minWords = 2,
      required = Seq("the", "with"))
    assert(one("ok_required_words") === false)
  }

  test("repeatedSpans: cross-doc repeats, self-repeats, interval merge, clean removal") {
    // 12 distinct tokens a..l; doc 1 and 2 share tokens c..j (8 tokens = one
    // full 8-gram) at different offsets; doc 3 is doc-internal: a 9-token
    // run pasted twice; doc 4 shares nothing.
    val shared = "c d e f g h i j"                       // the repeated 8-gram
    val docs = Seq(
      (1L, s"a b $shared k l"),                          // repeat at pos 2..9
      (2L, s"x y z $shared"),                            // repeat at pos 3..10
      (3L, "p q r s t u v w n p q r s t u v w n"),       // 9-token run twice
      (4L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", minLen = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, String)].collect().toSeq
    // doc 1: 12 tokens, one span covering pos 2..9 (8 tokens), cleaned "a b k l"
    assert(got(0) === ((1L, 12L, 1L, 8L, 0.6667, "a b k l")))
    // doc 2: 11 tokens, span at 3..10, cleaned "x y z"
    assert(got(1) === ((2L, 11L, 1L, 8L, 0.7273, "x y z")))
    // doc 3: 18 tokens, the doubled 9-run makes EVERY 8-gram repeated
    // (positions 0..10 start repeated windows; cover = all 18) -> one span,
    // whole doc removed
    assert(got(2) === ((3L, 18L, 1L, 18L, 1.0, "")))
    // doc 4: untouched
    assert(got(3) === ((4L, 9L, 0L, 0L, 0.0,
      "one two three four five six seven eight nine")))
  }

  test("repeatedSpans: raw-string gram keys (hashGrams=false) match the hashed default; mode mismatch fails loudly") {
    val shared = "c d e f g h i j"
    val docs = Seq(
      (1L, s"a b $shared k l"),
      (2L, s"x y z $shared"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val hashed = Dedup.repeatedSpans(docs, "doc_id", "text", minLen = 8,
      hashGrams = true).orderBy("doc_id").collect().toSeq
    val raw = Dedup.repeatedSpans(docs, "doc_id", "text", minLen = 8,
      hashGrams = false).orderBy("doc_id").collect().toSeq
    assert(hashed === raw)
    // the r7 advisory: an index built raw and probed hashed used to
    // string-vs-bigint null-join and report every span as fresh — with the
    // mode-stamped column names the mismatch is an ANALYSIS error
    val rawIdx = Dedup.buildRepeatedSpanIndex(docs, "doc_id", "text",
      minLen = 8, hashGrams = false)
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.repeatedSpansIncremental(docs, rawIdx, "doc_id", "text",
        minLen = 8, hashGrams = true).collect()
    }
    // matched raw mode still works end-to-end
    val rawInc = Dedup.repeatedSpansIncremental(docs, rawIdx, "doc_id", "text",
      minLen = 8, hashGrams = false)
    assert(rawInc.count() === 3)
  }

  test("repeatedSpans: two disjoint spans in one doc stay separate intervals") {
    val blockA = "a1 a2 a3 a4 a5 a6 a7 a8"
    val blockB = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"$blockA gapone gaptwo $blockB"),
      (2L, s"zz $blockA yy"),
      (3L, s"ww $blockB vv")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", minLen = 8)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long, Double, String)].head()
    assert(got._3 === 2L, s"expected 2 disjoint spans, got $got")
    assert(got._4 === 16L)
    assert(got._6 === "gapone gaptwo")
  }

  test("curriculumOrder: contiguous equal-population stages, in-stage permutation, layout-invariant") {
    import graft.operators.Packing
    val scored = (0L until 97L).map(i => (i, (i % 13).toDouble / 7.0))
      .toDF("doc_id", "score")
    val got = Packing.curriculumOrder(scored, "doc_id", "score", numBuckets = 10)
      .select("doc_id", "difficulty_rank", "bucket", "pos_in_bucket")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(got.size === 97)
    // ranks are a permutation and ordered by (score, id)
    assert(got.map(_._2).sorted === (1L to 97L))
    val byBucket = got.groupBy(_._3)
    // 10 stages, sizes differ by at most 1 (equal-population cut)
    assert(byBucket.keySet === (0 until 10).toSet)
    assert(byBucket.values.map(_.size).max - byBucket.values.map(_.size).min <= 1)
    // stages are CONTIGUOUS in difficulty: every rank in stage b precedes
    // every rank in stage b+1
    (0 until 9).foreach { b =>
      assert(byBucket(b).map(_._2).max < byBucket(b + 1).map(_._2).min,
        s"stage $b overlaps stage ${b + 1}")
    }
    // within a stage, positions are a 1..size permutation
    byBucket.values.foreach(g =>
      assert(g.map(_._4).sorted === (1 to g.size)))
    // layout invariance: a different physical partitioning yields the
    // identical table
    val again = Packing.curriculumOrder(scored.repartition(7), "doc_id", "score", 10)
      .select("doc_id", "difficulty_rank", "bucket", "pos_in_bucket")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(again.sortBy(_._1) === got.sortBy(_._1))
  }

  test("luhn card detection: checksum separates real numbers from card-shaped ids; redaction is conditional") {
    import graft.functions.Pii
    val rows = Seq(
      // 4539 1488 0343 6467 is Luhn-valid; the trailing-8 variant is not
      (1L, "pay with 4539 1488 0343 6467 now"),
      (2L, "order ref 4539148803436468 shipped"),
      (3L, "call 1234 5678 9012 3456 maybe"),     // shape yes, Luhn no
      (4L, "two cards 4539-1488-0343-6467 and 4539 1488 0343 6467"),
      (5L, "short 12345 and words only")
    ).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        size(Pii.cardCandidates(col("text"))).as("nc"),
        size(Pii.luhnValidCards(col("text"))).as("nv"),
        Pii.redactCards(col("text")).as("red"))
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got(0) === ((1L, 1, 1, "pay with <CARD> now")))
    assert(got(1) === ((2L, 1, 0, "order ref 4539148803436468 shipped")))
    assert(got(2) === ((3L, 1, 0, "call 1234 5678 9012 3456 maybe")))
    assert(got(3) === ((4L, 2, 2, "two cards <CARD> and <CARD>")))
    assert(got(4) === ((5L, 0, 0, "short 12345 and words only")))
  }

  test("jaccardVerify scores ONLY the supplied pairs, with q28 rounding") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // clone of 1 -> jaccard 1.0
      (3L, "alpha beta gamma epsilon"), // 3/5 = 0.6 vs 1
      (4L, "zeta eta theta iota")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b") // (1,4) NOT offered
    val got = Dedup.jaccardVerify(docs, pairs, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 1.0), (1L, 3L, 0.6)))
  }

  test("fuzzyDedup: clones cluster to the min id, chain components merge, singletons keep themselves") {
    // docs 1,2 clones; 3 shares 9 of 10 tokens with 2 (0.818 >= 0.8) but
    // fewer with 1 — the chain 1-2-3 must still form ONE cluster labeled 1.
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, base),
      (2L, base),
      (3L, base.replace("w10", "w11")),
      (9L, "totally different words entirely here")).toDF("doc_id", "text")
    // shingleLen 1: token-grain signatures so the designed overlaps drive
    // banding; verification thresholds stay the operator's own
    val got = Dedup.fuzzyDedup(docs, "doc_id", "text", threshold = 0.8,
        shingleLen = 1)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) === ((1L, true)))
    assert(byId(2L) === ((1L, false)))
    assert(byId(9L) === ((9L, true)), "singleton must survive as its own cluster")
    // doc 3 joins the cluster iff LSH surfaced the pair; with 8x4 bands on
    // token shingles the 0.9-overlap pair collides with near-certainty
    assert(byId(3L)._1 === 1L, "near-dup chain member failed to join the cluster")
    assert(got.count(_._3) === 2, "exactly the two representatives survive")
  }

  test("bpeTrain: the textbook low/lower/lowest merges, ties broken by pair order") {
    // pairs round 1: (l,o)=5 and (o,w)=5 tie -> 'l' < 'o' picks (l,o);
    // round 2: (lo,w)=5; round 3: (low,e)=2
    val docs = Seq(Tuple1("low low low lower lowest")).toDF("text")
    val got = Vocab.bpeTrain(docs, "text", numMerges = 3)
      .orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L)))
  }

  test("bpeTrain: overlapping pairs resolve leftmost-first (aaa -> [aa,a] -> [aaa])") {
    val docs = Seq(Tuple1("aaa")).toDF("text")
    val got = Vocab.bpeTrain(docs, "text", numMerges = 2)
      .orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    // round 1: (a,a) appears at positions 1 and 2 but greedy left-to-right
    // counts... both positions count (2) yet only ONE merge applies
    assert(got === Seq((1, "a", "a", "aa", 2L), (2, "aa", "a", "aaa", 1L)))
  }

  test("bpeTrain batched rounds == sequential merges, with fewer driver round-trips") {
    // the round-6 driver-latency fix: a 50k-merge production train cannot
    // pay one Spark job + checkpoint per merge. The guarded batch rule
    // (accept a symbol-disjoint prefix whose counts strictly beat every
    // conflicting/unseen count) must yield the IDENTICAL merge table —
    // here on a merge-rich natural corpus at 32 merges
    val docs = Tables.documents(spark, sf).limit(200)
    val (seqT, seqRounds) =
      graft.operators.Vocab.bpeTrainWithRounds(docs, "text", 32, maxMergesPerRound = 1)
    val (batT, batRounds) =
      graft.operators.Vocab.bpeTrainWithRounds(docs, "text", 32, maxMergesPerRound = 16)
    val a = seqT.orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val b = batT.orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(a === b, "batched BPE diverged from the sequential semantics")
    assert(seqRounds === 32)
    // char-BPE over a small natural corpus is TIE-DENSE (many equal pair
    // counts), the adversarial case for the strict-inequality guard — the
    // reduction here is modest by design; the separated-count corpus below
    // shows the full batching factor
    assert(batRounds < seqRounds,
      s"batching bought nothing: $batRounds rounds vs sequential $seqRounds")

    // conflict-free corpus with strictly separated counts: 16 disjoint
    // 2-char words at distinct frequencies -> all 16 merges are provably
    // safe in ONE round (the ~16x driver-round-trip reduction a production
    // 50k-merge train sees on its separated-count head)
    val pairsTxt = (0 until 16).map { i =>
      val w = s"${('a' + i).toChar}${('A' + i).toChar}"
      Seq.fill(200 - i)(w).mkString(" ")
    }.mkString(" ")
    val sep = Seq(Tuple1(pairsTxt)).toDF("text")
    val (s1, r1) = graft.operators.Vocab.bpeTrainWithRounds(sep, "text", 16, 1)
    val (s16, r16) = graft.operators.Vocab.bpeTrainWithRounds(sep, "text", 16, 16)
    assert(s1.orderBy("merge_rank").collect().toSeq ===
      s16.orderBy("merge_rank").collect().toSeq)
    assert(r1 === 16 && r16 === 1,
      s"separated-count corpus should batch 16 merges into one round, got $r16")
    // and the adversarial all-conflict corpus degrades to sequential,
    // never to a different result
    val chain = Seq(Tuple1("low low low lower lowest")).toDF("text")
    val (c1, _) = graft.operators.Vocab.bpeTrainWithRounds(chain, "text", 3, 1)
    val (c2, _) = graft.operators.Vocab.bpeTrainWithRounds(chain, "text", 3, 16)
    assert(c1.orderBy("merge_rank").collect().toSeq ===
      c2.orderBy("merge_rank").collect().toSeq)
  }

  test("bpeApply segments concatenate back to the original word (lossless)") {
    val docs = Tables.documents(spark, sf).limit(100)
    val merges = Vocab.bpeTrain(docs, "text", numMerges = 5)
      .orderBy("merge_rank")
      .as[(Int, String, String, String, Long)].collect().toSeq
      .map(m => (m._2, m._3))
    val words = docs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w")).distinct()
    val bad = words.select(col("w"),
        concat_ws("", Vocab.bpeApply(Vocab.charSyms(col("w")), merges)).as("rt"))
      .filter(col("w") =!= col("rt")).count()
    assert(bad === 0L, "BPE segmentation lost or reordered characters")
  }

  test("word-count state: monoid fold ≡ one-pass; trainers from folded state ≡ full retrain; sink replay identical") {
    val docs = Tables.documents(spark, sf).limit(300)
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 =!= 0)
    def wset(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val folded = Vocab.wordCountsAdvance(
      Vocab.wordCounts(b1, "text").localCheckpoint(), b2, "text")
      .localCheckpoint()
    assert(wset(folded) == wset(Vocab.wordCounts(docs, "text")))
    // fold-then-train ships the IDENTICAL artifact for both trainers
    def merges(d: org.apache.spark.sql.DataFrame) = d.orderBy("merge_rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(merges(Vocab.bpeTrainFromCounts(folded, 5)) ==
      merges(Vocab.bpeTrain(docs, "text", 5)))
    def vocabSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(vocabSet(Vocab.unigramTrainFromCounts(folded, 20, 4, 4, 2)) ==
      vocabSet(Vocab.unigramTrain(docs, "text", 20, 4, 4, 2)))
    // streaming sink: two batches + replay land the same state
    val dir = java.nio.file.Files.createTempDirectory("graft_wc_sink").toString
    val sink = Vocab.wordCountsBatch(dir, "text") _
    sink(b1, 0L); sink(b2, 1L)
    assert(wset(Vocab.wordCountsFrom(spark, dir)) == wset(folded))
    sink(b2, 1L)
    assert(wset(Vocab.wordCountsFrom(spark, dir)) == wset(folded),
      "replay must rewrite the same snapshot")
  }

  test("unigramSegment: greedy leftmost-longest on a hand-built vocab; lossless; single-char floor") {
    val words = Seq("lowest", "lower", "xyz", "a").toDF("w")
    val vocab = Seq("low", "lowe", "est", "we", "er").toDF("piece")
    val got = Vocab.unigramSegment(words, vocab, maxPieceLen = 4)
      .as[(String, Seq[String])].collect().toMap
    // leftmost-LONGEST: 'lowe' (4) beats 'low' (3) at position 1, which
    // forces 'est'/'er' to be consumed from position 5 onward
    assert(got("lowest") == Seq("lowe", "s", "t"),
      s"greedy must take the longest match first: ${got("lowest")}")
    assert(got("lower") == Seq("lowe", "r"))
    // no vocab piece matches anywhere: the single-char floor segments it
    assert(got("xyz") == Seq("x", "y", "z"))
    assert(got("a") == Seq("a"))
    // a piece outside the Basic Multilingual Plane is two UTF-16 units but
    // one character to Spark's substr: both forms must take it whole
    val astral = Seq("xa\uD83D\uDE00y", "a\uD83D\uDE00").toDF("w")
    val astralVocab = vocab.union(Seq("a\uD83D\uDE00").toDF("piece"))
    def segs(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[String])].collect().toMap
    val fast = segs(Vocab.unigramSegment(astral, astralVocab, 4))
    assert(fast == segs(Vocab.unigramSegmentRelational(astral, astralVocab, 4)))
    assert(fast("xa\uD83D\uDE00y") == Seq("x", "a\uD83D\uDE00", "y"), s"$fast")
    // lossless on the corpus fixture under a trained vocab
    val docs = Tables.documents(spark, sf).limit(100)
    val trained = Vocab.unigramTrain(docs, "text",
      seedSize = 20, maxPieceLen = 4, pruneN = 4, rounds = 2)
    val corpusW = docs
      .select(explode(Text.tokens(col("text"))).as("w")).distinct()
    val bad = Vocab.unigramSegment(corpusW, trained.select("piece"), 4)
      .select(col("w"), concat_ws("", col("segs")).as("rt"))
      .filter(col("w") =!= col("rt")).count()
    assert(bad === 0L, "unigram segmentation lost or reordered characters")
  }

  test("unigramTrain: pruning drops exactly pruneN multi-char pieces per round, chars never prune") {
    val docs = Tables.documents(spark, sf).limit(200)
    val words = docs.select(explode(Text.tokens(col("text"))).as("w")).distinct()
    val nChars = words
      .select(explode(Vocab.charSyms(col("w"))).as("c")).distinct().count()
    val seedSize = 20; val pruneN = 4; val rounds = 3
    val vocab = Vocab.unigramTrain(docs, "text", seedSize, 4, pruneN, rounds)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val multi = vocab.filter(_._2 >= 2)
    val single = vocab.filter(_._2 == 1)
    assert(multi.length == seedSize - pruneN * rounds,
      s"expected ${seedSize - pruneN * rounds} multi-char pieces, got ${multi.length}")
    assert(single.length == nChars, "the single-char floor must never prune")
    // usage is the word-count-weighted corpus statistic: every piece that
    // survives with usage 0 must be multi-char (a char can be shadowed by
    // longer matches, but chars stay for segmentability)
    assert(vocab.filter(v => v._3 > 0).nonEmpty)
  }

  test("bigramNll: hand-computed interpolation; short docs emit 0 bigrams") {
    // corpus tokens: a b a -> N=3, c(a)=2, c(b)=1; doc 1 has one bigram
    // (a,b): p = 0.75*(1/2) + 0.25*(1/3)
    val docs = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val got = graft.operators.LmScore.bigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Double)].collect().toSeq
    val nll = -math.log(0.75 * (1.0 / 2.0) + 0.25 * (1.0 / 3.0))
    val expected = math.round(nll * 10000.0).toDouble / 10000.0
    assert(got === Seq((1L, 1, expected), (2L, 0, 0.0)))
  }

  test("knTrigramNll: hand-computed KN interpolation; short docs emit 0 trigrams") {
    // corpus trigrams: (a,b,c) and (a,b,d) — each once.
    // tc: both c123=1; cx(a,b): c12=2, n12dot=2; bt: (b,c)=1, (b,d)=1;
    // w2s(b): ctx2=2, n2dot=2; w3s: n_dot3=1 each; n_tot=2.
    // p1 = 1/2; p2 = (1-.75)/2 + (.75*2/2)*(1/2) = 0.5;
    // p3 = (1-.75)/2 + (.75*2/2)*0.5 = 0.5 -> nll = ln 2 per trigram.
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y")).toDF("doc_id", "text")
    val got = graft.operators.LmScore.knTrigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Double)].collect().toSeq
    val expected = math.round(math.log(2.0) * 10000.0).toDouble / 10000.0
    assert(got === Seq((1L, 1, expected), (2L, 1, expected), (3L, 0, 0.0)))
  }

  test("knTrigramNll: a unique trigram in a one-path corpus is certain (nll 0)") {
    // single doc "x y z": every level's mass concentrates -> p3 = 1.0
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val got = graft.operators.LmScore.knTrigramNll(docs, "doc_id", "text")
      .as[(Long, Int, Double)].head()
    assert(got === ((1L, 1, 0.0)))
  }

  test("knTrigramNll: continuation TYPES, not frequency, drive the backoff (the Francisco effect)") {
    // 'francisco' occurs 5 times but only ever after 'san'; 'common' occurs
    // 5 times after 5 DIFFERENT words. Two probe docs put each in an
    // identical novel context (q r _): every top/mid-level count is
    // symmetric between them, so only the continuation-type unigram
    // N1+(·w) differs — francisco 2 (san, r) vs common 6. A
    // frequency-based unigram would tie them; KN must score the
    // francisco probe strictly worse.
    val sanDocs = (1L to 5L).map(i => (i, s"u$i san francisco"))
    val commonDocs = (6L to 10L).map(i => (i, s"v$i w$i common"))
    val probes = Seq((101L, "q r francisco"), (102L, "q r common"))
    val docs = (sanDocs ++ commonDocs ++ probes).toDF("doc_id", "text")
    val kn = graft.operators.LmScore.knTrigramNll(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(kn(101L) > kn(102L),
      s"francisco probe ${kn(101L)} must exceed common probe ${kn(102L)}")
  }

  test("bigramNll: scrambled word order scores worse than the corpus-typical order") {
    // ten copies of the same sentence + one with identical UNIGRAMS but
    // scrambled transitions — only a bigram model separates them
    val common = (1L to 10L).map(i => (i, "the cat sat on the mat"))
    val scrambled = Seq((99L, "mat the on sat cat the"))
    val docs = (common ++ scrambled).toDF("doc_id", "text")
    val scores = graft.operators.LmScore.bigramNll(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scores(99L) > scores(1L),
      s"scrambled ${scores(99L)} should exceed typical ${scores(1L)}")
  }

  test("Jsonl.writeShards: one file per shard, lossless round-trip, verified manifest, byte-stable re-export") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val m1 = graft.sources.Jsonl.writeShards(docs, dir, col("doc_id"), numShards = 4)
      .as[(Long, Long)].collect().toMap
    // manifest covers all 4 shards and sums to the corpus
    assert(m1.keySet === Set(0L, 1L, 2L, 3L))
    assert(m1.values.sum === docs.count())
    // exactly one data file per shard directory
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$dir/shard=$s")
        .listFiles().filter(_.getName.endsWith(".json"))
      assert(files.length === 1, s"shard $s has ${files.length} files")
    }
    // round-trip preserves every row
    val back = graft.sources.Jsonl.read(spark, dir)
      .select("doc_id", "text", "lang")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // re-export is byte-identical per shard (deterministic membership AND order)
    def shardBytes(d: String): Map[Int, String] =
      (0 until 4).map { s =>
        val f = new java.io.File(s"$d/shard=$s")
          .listFiles().filter(_.getName.endsWith(".json")).head
        s -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }.toMap
    val first = shardBytes(dir)
    graft.sources.Jsonl.writeShards(docs.repartition(11), dir, col("doc_id"), 4)
    assert(shardBytes(dir) === first,
      "re-export from a different layout must be byte-identical")
    // persisted manifest matches the returned one
    val m2 = graft.sources.Jsonl.manifest(spark, dir)
      .select(col("shard").cast("long"), col("n_rows").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(m2 === m1)
  }

  test("LangId: disjoint-alphabet languages classify perfectly; short text ties to first lang") {
    val train = Seq(
      ("aa", "abc cab bca abc"), ("aa", "cab abc bac"),
      ("mm", "mno onm nom mno"), ("mm", "onm mno mon"),
      ("xx", "xyz zyx yxz xyz"), ("xx", "zyx xyz xzy")).toDF("lang", "text")
    val profiles = graft.operators.LangId.trainProfiles(train, "lang", "text", topK = 10)
    val test0 = Seq(
      (1L, "abc bca"), (2L, "mno nom"), (3L, "xyz yxz"),
      (4L, "zz")).toDF("doc_id", "text") // 2 chars -> no trigrams -> tie
    val got = graft.operators.LangId.predict(test0, "doc_id", "text", profiles)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got.map(r => r._1 -> r._2) ===
      Seq(1L -> "aa", 2L -> "mm", 3L -> "xx", 4L -> "aa"))
    assert(got(3)._3 === 0L, "tie case must report zero hits")
  }

  test("LangId.charTrigrams: distinct, normalized, empty under 3 chars") {
    val got = Seq(Tuple1("AB  ab")).toDF("t")
      .select(graft.operators.LangId.charTrigrams(col("t")))
      .as[Seq[String]].head()
    // normalize -> "ab ab": trigrams "ab ", "b a", " ab" (distinct keeps 3)
    assert(got === Seq("ab ", "b a", " ab"))
    val short = Seq(Tuple1("ab")).toDF("t")
      .select(graft.operators.LangId.charTrigrams(col("t")))
      .as[Seq[String]].head()
    assert(short === Seq.empty)
  }

  test("BPE fertility arithmetic: segments per word weighted by occurrences") {
    val docs = Seq(("s0", "low low lower")).toDF("source", "text")
    val merges = graft.operators.Vocab.bpeTrain(docs, "text", numMerges = 2)
      .orderBy("merge_rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // merges: (l,o) then (lo,w) -> low = 1 segment, lower = 3
    val srcw = docs.select(col("source"),
      explode(graft.functions.Text.tokens(col("text"))).as("w"))
    val segs = srcw.select("w").distinct()
      .select(col("w"), size(graft.operators.Vocab.bpeApply(
        graft.operators.Vocab.charSyms(col("w")), merges)).as("nseg"))
      .as[(String, Int)].collect().toMap
    assert(segs === Map("low" -> 1, "lower" -> 3))
  }

  test("repetitionFlags: duplicate lines and their characters are fractioned exactly") {
    // 4 lines: "aaaa" twice (dup), "bb", "c" -> dup_line_frac = 1/4;
    // chars: 4+4+2+1 = 11 total, distinct 4+2+1 = 7 -> char frac 4/11
    val f = Seq(Tuple1("aaaa\nbb\naaaa\nc")).toDF("text")
      .select(Text.repetitionFlags(col("text")).as("r")).select(col("r.*")).head()
    assert(f.getAs[Int]("n_lines") === 4)
    assert(f.getAs[Double]("dup_line_frac") === 0.25)
    assert(f.getAs[Double]("dup_line_char_frac") ===
      math.round(4.0 / 11.0 * 10000.0) / 10000.0)
    assert(f.getAs[Boolean]("ok_dup_lines") === true)  // 0.25 <= 0.3
    assert(f.getAs[Boolean]("ok_dup_chars") === false) // 0.3636 > 0.2
    val clean = Seq(Tuple1("one\ntwo\nthree")).toDF("text")
      .select(Text.repetitionFlags(col("text")).as("r")).select(col("r.*")).head()
    assert(clean.getAs[Double]("dup_line_frac") === 0.0)
    assert(clean.getAs[Boolean]("ok_dup_chars") === true)
  }

  test("sq8Quantize: codes hit ±127 at the extremes; reconstruction error bounded; zero vector safe") {
    val df = Seq(
      (1L, Seq(2.0f, -2.0f, 1.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.sq8Quantize(df, "vec_id", "embedding")
      .orderBy("vec_id", "dim_idx")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val v1 = got.filter(_._1 == 1L)
    assert(v1.map(_._3) === Seq(127L, -127L, 64L, 0L)) // round(1*127/2)=64
    assert(v1.forall(_._4 === 2.0))
    val v2 = got.filter(_._1 == 2L)
    assert(v2.forall(r => r._3 === 0L && r._4 === 0.0), "zero vector must not NaN")
    // reconstruction: |x - code*scale/127| <= scale/254 on real embeddings
    val e = Tables.embeddings(spark, sf).limit(100)
    val bad = graft.operators.Similarity.sq8Quantize(e, "vec_id", "embedding")
      .join(e.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim_idx", "x"))),
        Seq("vec_id", "dim_idx"))
      .filter(abs(col("x") - col("code") * col("scale") / lit(127.0)) >
        col("scale") / lit(254.0) + lit(1e-12))
      .count()
    assert(bad === 0L, "SQ8 reconstruction error exceeded scale/254")
  }

  test("streaming corpus ingestion: file stream -> in-batch dedup -> incremental dedup vs landed corpus -> quality gate -> append sink") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = java.nio.file.Files.createTempDirectory("corpus-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("corpus-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("corpus-ck").toString

    // corpus + full clone set (every text arrives at least twice, usually in
    // DIFFERENT micro-batches) spread over several files
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(200)
    val corpus = base.unionByName(
      base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    corpus.repartition(5).write.mode("overwrite").parquet(srcDir)
    assert(new java.io.File(srcDir).list().count(_.endsWith(".parquet")) > 1)

    def gate(df: org.apache.spark.sql.DataFrame) = {
      val flags = Text.gopherFlags(col("text"),
        requiredWords = Seq("the", "a"), minWords = 30, minRequiredHits = 1)
      df.withColumn("__keep", flags.getField("keep")).filter(col("__keep"))
        .drop("__keep")
    }

    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // in-batch survivors first (incremental() only screens vs SEEN),
        // then the exact anti-join against what already landed
        val inBatch = Dedup.exact(batch, "text", keepOrder = Seq(col("doc_id")))
          .drop("fingerprint")
        val landed = new java.io.File(outDir).list()
          .exists(_.endsWith(".parquet"))
        val fresh =
          if (!landed) inBatch.withColumn("fingerprint",
            Text.fingerprint(col("text")))
          else Dedup.incremental(inBatch, spark.read.parquet(outDir), "text")
        gate(fresh).write.mode("append").parquet(outDir)
        ()
      }.start()
    assert(q.awaitTermination(180000), "AvailableNow must drain and stop")

    val got = spark.read.parquet(outDir)
    // every landed doc passed the gate, and fingerprints are unique
    assert(got.groupBy("fingerprint").count().filter(col("count") > 1).isEmpty,
      "a duplicate text survived across micro-batches")
    val expectedFps = gate(corpus)
      .select(Text.fingerprint(col("text")).as("fp")).distinct()
    val gotFps = got.select(col("fingerprint").as("fp")).distinct()
    assert(gotFps.exceptAll(expectedFps).isEmpty, "a gated-out or alien doc landed")
    assert(expectedFps.exceptAll(gotFps).isEmpty, "a passing text never landed")
  }

  test("Pii counts: emails and phones found exactly, redaction removes what counting found") {
    val text = "mail a@b.com and c.d+x@e.org, call 555-123-4567 or line 12345678 now"
    val row = Seq(Tuple1(text)).toDF("t").select(
      graft.functions.Pii.emailCount(col("t")).as("e"),
      graft.functions.Pii.phoneCount(col("t")).as("p"),
      graft.functions.Pii.redactPhones(
        graft.functions.Pii.redactEmails(col("t"))).as("clean")).head()
    assert(row.getAs[Int]("e") === 2)
    assert(row.getAs[Int]("p") === 2)
    val clean = row.getAs[String]("clean")
    assert(graft.functions.Pii.emailCount(lit(clean)) != null) // expression builds
    assert(!clean.contains("a@b.com") && !clean.contains("555-123-4567")
      && !clean.contains("12345678"), clean)
  }

  test("corpusDiff: added/removed/changed/unchanged with token deltas") {
    val v1 = Seq(
      (1L, "same text here"),
      (2L, "will be removed"),
      (3L, "old words two")).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "same   TEXT here"), // normalization-equal -> unchanged
      (3L, "new words three four"), // changed, +1 token
      (4L, "fresh doc")).toDF("doc_id", "text")
    val got = graft.operators.Curate.corpusDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "unchanged", 0L),
      (2L, "removed", -3L),
      (3L, "changed", 1L),
      (4L, "added", 2L)))
  }

  test("domainQualityGate: verdict follows the DOMAIN mean, not the doc score") {
    import graft.operators.Curate
    // spamhost mean = (0.9 + 0.1 + 0.1)/3 = 0.3667 < 0.5 -> ALL dropped,
    // including the 0.9 doc; cleanhost mean = (0.6 + 0.7)/2 = 0.65 -> kept
    val scored = Seq(
      (1L, "spamhost", 0.9000), (2L, "spamhost", 0.1000), (3L, "spamhost", 0.1000),
      (4L, "cleanhost", 0.6000), (5L, "cleanhost", 0.7000)
    ).toDF("doc_id", "source", "quality")
    val got = Curate.domainQualityGate(scored, "doc_id", "source", "quality", 0.5)
      .orderBy("doc_id")
      .select("doc_id", "kept", "domain_mean_quality")
      .as[(Long, Boolean, Double)].collect().toSeq
    assert(got === Seq((1L, false, 0.3667), (2L, false, 0.3667),
      (3L, false, 0.3667), (4L, true, 0.65), (5L, true, 0.65)))
  }

  test("domainQualityGate: exact-threshold mean keeps (>= in decimal, no float drift)") {
    import graft.operators.Curate
    // mean is exactly 0.825: (0.8000 + 0.8500)/2 — a divided-double gate
    // could flip either way; the decimal gate must keep it
    val scored = Seq((1L, "edge", 0.8000), (2L, "edge", 0.8500))
      .toDF("doc_id", "source", "quality")
    val kept = Curate.domainQualityGate(scored, "doc_id", "source", "quality", 0.825)
      .select("kept").as[Boolean].collect()
    assert(kept.forall(identity))
    // and one basis point below drops
    val scored2 = Seq((1L, "edge", 0.7999), (2L, "edge", 0.8500))
      .toDF("doc_id", "source", "quality")
    val kept2 = Curate.domainQualityGate(scored2, "doc_id", "source", "quality", 0.825)
      .select("kept").as[Boolean].collect()
    assert(kept2.forall(!_))
  }

  test("domainQualityGate: shuffle-join path (broadcastStats=false) is identical") {
    import graft.operators.Curate
    val scored = graft.Tables.documents(spark, sf).select(
      col("doc_id"), col("source"),
      graft.functions.Text.qualityScore(col("text"),
        graft.analytics.TextQueries.Stopwords).as("quality"))
    val a = Curate.domainQualityGate(scored, "doc_id", "source", "quality", 0.825)
      .orderBy("doc_id").collect().toSeq
    val b = Curate.domainQualityGate(scored, "doc_id", "source", "quality", 0.825,
        broadcastStats = false)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("tokenDriftReport: hand-computed TV, type movement, drifted-token argmax") {
    import graft.operators.Curate
    // source a: v1 {x:2, y:1} n1=3; v2 {x:1, y:2, z:1} n2=4
    //   num(x)=|2*4-1*3|=5, num(y)=|1*4-2*3|=2, num(z)=|0-1*3|=3
    //   TV = (5+2+3)/(2*3*4) = 10/24 = 0.416667; top token x
    // source b: identical snapshots -> TV 0, tie on num=0 -> min tok "p"
    // source c: v1 {m, n} n1=2; v2 {m} n2=1 -> num(m)=|1-2|=1, num(n)=1
    //   TV = 2/(2*2*1) = 0.5; types_gone=1; tie -> "m"
    val v1 = Seq(("a", "x x y"), ("b", "p q"), ("c", "m n")).toDF("src", "text")
    val v2 = Seq(("a", "x y y z"), ("b", "p q"), ("c", "m")).toDF("src", "text")
    val got = Curate.tokenDriftReport(v1, v2, "src", "text")
      .orderBy("source").collect()
    assert(got.length === 3)
    val a = got(0)
    assert(a.getAs[Long]("n_tokens_v1") === 3L && a.getAs[Long]("n_tokens_v2") === 4L)
    assert(a.getAs[Long]("types_v1") === 2L && a.getAs[Long]("types_v2") === 3L)
    assert(a.getAs[Long]("types_shared") === 2L && a.getAs[Long]("types_new") === 1L)
    assert(a.getAs[Long]("types_gone") === 0L)
    assert(a.getAs[Double]("tv_distance") === 0.416667)
    assert(a.getAs[String]("top_drift_token") === "x")
    val b = got(1)
    assert(b.getAs[Double]("tv_distance") === 0.0)
    assert(b.getAs[String]("top_drift_token") === "p")
    val c = got(2)
    assert(c.getAs[Double]("tv_distance") === 0.5)
    assert(c.getAs[Long]("types_gone") === 1L)
    assert(c.getAs[String]("top_drift_token") === "m")
  }

  test("ngramRepetitionReport: hand-computed Gopher A2 fractions") {
    import graft.operators.Dedup
    // doc 1 "a b a b c": nch=9; 2-grams {a b:2, b a:1, b c:1} -> most
    //   frequent "a b": 2*3/9 = 0.6667; top3: all count 1, len 5 ->
    //   1*5/9 = 0.5556; no dup 5-gram -> 0
    // doc 2 "x y z x y z x y z": nch=17; top2: "x y"/"y z" count 3,
    //   3*3/17 = 0.5294; dup5: "x y z x y" at pos {0,3} and "y z x y z"
    //   at {1,4} cover token positions 0..8 entirely -> exact char cover
    //   = 9 token chars + 8 interior spaces = 17/17 = 1.0 (the
    //   non-double-counting reference convention: never above 1);
    //   dup6: "x y z x y z" at {0,3} covers 0..8 -> 1.0;
    //   dup7: all three 7-grams distinct -> 0.0
    val df = Seq((1L, "a b a b c"), (2L, "x y z x y z x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramRepetitionReport(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d1 = got(0)
    assert(d1.getAs[Double]("top2_frac") === 0.6667)
    assert(d1.getAs[Double]("top3_frac") === 0.5556)
    assert(d1.getAs[Double]("dup5_frac") === 0.0)
    val d2 = got(1)
    assert(d2.getAs[Double]("top2_frac") === 0.5294)
    assert(d2.getAs[Double]("dup5_frac") === 1.0)
    assert(d2.getAs[Double]("dup6_frac") === 1.0)
    assert(d2.getAs[Double]("dup7_frac") === 0.0)
    // a doc shorter than n tokens scores 0.0 for that n, not null
    assert(d1.getAs[Double]("dup10_frac") === 0.0)
  }

  test("ngramRepetitionReport: top picks MOST FREQUENT (not max count*len); dup frac never exceeds 1") {
    import graft.operators.Dedup
    // "aa bb aa bb choochoochoolong tail" (nch 33): most frequent 2-gram
    //   "aa bb" count 2 len 5 -> 10; "choochoochoolong tail" count 1
    //   len 21 -> 21 would win under the old max-PRODUCT form. The
    //   reference convention picks the most frequent: 10/33 = 0.303.
    val df = Seq((1L, "aa bb aa bb choochoochoolong tail")).toDF("doc_id", "text")
    // nch = 33; 10/33 = 0.3030...
    val got = Dedup.ngramRepetitionReport(df, "doc_id", "text").collect().head
    assert(got.getAs[Double]("top2_frac") === 0.303)
    // dup cover bound: pathological full-repetition doc stays at 1.0
    val rep = Seq((2L, Seq.fill(40)("tok").mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.ngramRepetitionReport(rep, "doc_id", "text").collect().head
    (5 to 10).foreach { n =>
      val f = r.getAs[Double](s"dup${n}_frac")
      assert(f <= 1.0 && f === 1.0, s"dup${n}_frac=$f")
    }
    // ABUTTING (non-overlapping) occurrences: the joining space between
    // them is inside NO occurrence and must not count — 'a b c d e a b c
    // d e' has dup5 cover 10 token chars + 8 interior spaces of 19 chars,
    // not 19/19 (the round-8 advisory's merged-adjacency overcount)
    val abut = Seq((3L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val a = Dedup.ngramRepetitionReport(abut, "doc_id", "text").collect().head
    assert(a.getAs[Double]("dup5_frac") === 0.9474, // 18/19
      s"abutting spans must not claim the joining space: ${a.getAs[Double]("dup5_frac")}")
  }

  test("c4Clean: every line rule and document rule fires on its designed case") {
    import graft.operators.Curate
    val docs = Seq(
      (1L, "good line one with five words.\nsecond fine line with many words.\nthird good line with enough words."),
      (2L, "good line one with five words.\nshort."),
      (3L, "this page uses Lorem Ipsum filler everywhere today.\na.\nb.\nc."),
      (4L, "code block { x } here today.\nmore lines follow here today ok."),
      (5L, "slurword content in this line today yes.\nmore here."),
      (6L, "enable javascript now in this long line.\nsecond fine line with many words.\nthird good line with enough words.\nfourth decent line with several words."),
      (7L, "badge words in this line here today.\nsecond fine line with many words.\nthird good line with enough words."))
      .toDF("doc_id", "text")
    val got = Curate.c4Clean(docs, "doc_id", "text", Seq("slurword", "bad"))
      .orderBy("doc_id").collect()
    def r(i: Int) = got(i).getAs[String]("reason")
    assert(r(0) === "ok" && got(0).getAs[Boolean]("kept"))
    assert(r(1) === "too_few_lines")
    assert(r(2) === "lorem_ipsum")
    assert(r(3) === "brace")
    assert(r(4) === "blocklist")
    // the javascript LINE drops but the document survives on the other 3
    assert(r(5) === "ok" && got(5).getAs[Int]("lines_kept") === 3 &&
      got(5).getAs[Int]("lines_total") === 4)
    // token-exact blocklist: 'badge' does not trip 'bad' (scunthorpe-safe)
    assert(r(6) === "ok")
    // cleaned_md5 pins the surviving lines exactly
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(("good line one with five words.\nsecond fine line with many words." +
        "\nthird good line with enough words.").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(0).getAs[String]("cleaned_md5") === expect)
  }

  test("chatRender: loss spans index exactly the assistant content in the rendered string") {
    import graft.operators.Packing
    val turns = Seq(
      (0L, 0L, "system", "sys prompt"), (0L, 1L, "user", "hello"),
      (0L, 2L, "assistant", "hi there"), (0L, 3L, "user", "thanks"),
      (1L, 0L, "system", "s2"), (1L, 1L, "assistant", "a2"))
      .toDF("conv_id", "turn_idx", "role", "content")
    val got = Packing.chatRender(turns, "conv_id", "turn_idx", "role", "content")
      .orderBy("conv_id", "turn_idx").collect()
    assert(got.length === 2) // one row per assistant turn
    // reconstruct each conversation the same way and SLICE with the spans
    def render(rows: Seq[(String, String)]): String =
      rows.map { case (r, c) => s"<|im_start|>$r\n$c<|im_end|>\n" }.mkString
    val conv0 = render(Seq("system" -> "sys prompt", "user" -> "hello",
      "assistant" -> "hi there", "user" -> "thanks"))
    val r0 = got(0)
    assert(conv0.substring(r0.getAs[Long]("loss_start").toInt - 1,
      r0.getAs[Long]("loss_end").toInt) === "hi there")
    assert(r0.getAs[Long]("conv_len") === conv0.length.toLong)
    assert(r0.getAs[Long]("n_turns") === 4L)
    val conv1 = render(Seq("system" -> "s2", "assistant" -> "a2"))
    val r1 = got(1)
    assert(conv1.substring(r1.getAs[Long]("loss_start").toInt - 1,
      r1.getAs[Long]("loss_end").toInt) === "a2")
    // md5 ties the span to the exact rendered string
    assert(r0.getAs[String]("conv_md5") !== r1.getAs[String]("conv_md5"))
  }

  test("perplexityGate: ordered tertiles, threshold guarantees, kept = not-tail") {
    import graft.operators.Curate
    val got = Curate.perplexityGate(Tables.documents(spark, sf),
        "doc_id", "text", "lang")
      .select(col("lang"), col("avg_nll"), col("pp_bucket"), col("kept"))
      .as[(String, Double, String, Boolean)].collect()
    assert(got.map(_._3).toSet === Set("head", "middle", "tail"))
    // kept is exactly the not-tail predicate
    assert(got.forall(r => r._4 === (r._3 != "tail")))
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val byB = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      // buckets are value-ordered: every head score <= every middle score
      // <= every tail score (ties share a bucket, so strict < not required)
      for (h <- byB.get("head"); m <- byB.get("middle"))
        assert(h.max <= m.min, s"$lang head/middle overlap")
      for (m <- byB.get("middle"); t <- byB.get("tail"))
        assert(m.max <= t.min, s"$lang middle/tail overlap")
      // the head threshold clears a third of the population by definition
      val n = rows.length
      assert(byB.getOrElse("head", Array.empty[Double]).length * 3 >= n,
        s"$lang head holds under a third")
    }
  }

  test("datasetFingerprint: order-invariant, edit-sensitive, normalization-stable") {
    import graft.operators.Curate
    val df = Seq((1L, "s", "alpha beta gamma"), (2L, "s", "delta epsilon"),
      (3L, "t", "zeta eta")).toDF("id", "src", "text")
    def manifest(d: org.apache.spark.sql.DataFrame) =
      Curate.datasetFingerprint(d, "text", "src")
        .orderBy("source").collect().map(_.toString).toSeq
    val base = manifest(df)
    // layout independence: any repartition/order reproduces the manifest
    assert(manifest(df.repartition(7)) === base)
    assert(manifest(df.orderBy(col("id").desc)) === base)
    // whitespace renormalization is identity (the fingerprint normalizes)
    assert(manifest(df.withColumn("text",
      regexp_replace(col("text"), " ", "   "))).map(_.split(",")(4)) ===
      base.map(_.split(",")(4)))
    // a one-doc edit moves ONLY its source's hash
    val edited = manifest(df.withColumn("text",
      when(col("id") === 1L, lit("alpha beta CHANGED")).otherwise(col("text"))))
    assert(edited(0) !== base(0))
    assert(edited(1) === base(1))
    // dropping a doc moves the count and the hash
    val dropped = manifest(df.filter(col("id") =!= 2L))
    assert(dropped(0) !== base(0))
  }

  test("leakageSafeSplit: no near-dup pair ever straddles the split; rate is sane") {
    import graft.operators.{Dedup, Packing}
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 200)
      .select("doc_id", "text")
    val corpus = base.unionByName(
      base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.8)
    val got = Packing.leakageSafeSplit(corpus, "doc_id", pairs, evalFraction = 0.25)
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .as[(Long, Long, String)].collect()
    val splitOf = got.map(r => r._1 -> r._3).toMap
    // every planted clone lands on its original's side — the whole point
    (0L until 200L).filter(splitOf.contains).foreach { id =>
      assert(splitOf(id) === splitOf(id + 1000000L),
        s"doc $id and its clone straddle the split")
    }
    // clusters are split atomically and only into the two labels
    assert(got.groupBy(_._2).values.forall(c => c.map(_._3).toSet.size === 1))
    assert(got.map(_._3).toSet.subsetOf(Set("train", "eval")))
    // hash-rate sanity: eval holds SOME clusters but a minority
    val evalClusters = got.filter(_._3 == "eval").map(_._2).toSet.size
    val allClusters = got.map(_._2).toSet.size
    assert(evalClusters > 0 && evalClusters < allClusters / 2,
      s"$evalClusters of $allClusters clusters in eval")
  }

  test("sourceOverlapMatrix: hand-computed Jaccard, zero-overlap pairs present") {
    import graft.operators.Curate
    // A: {"a b c", "b c d"}; B: {"b c d", "c d e"} -> J(A,B) = 1/3
    // C: {"x y z"} disjoint -> J(A,C) = J(B,C) = 0, rows still emitted
    val df = Seq(("A", "a b c d"), ("B", "b c d e"), ("C", "x y z"))
      .toDF("source", "text")
    val got = Curate.sourceOverlapMatrix(df, "source", "text")
      .orderBy("source_a", "source_b").collect()
    assert(got.length === 3)
    val ab = got(0)
    assert(ab.getAs[Long]("n_a") === 2L && ab.getAs[Long]("n_b") === 2L)
    assert(ab.getAs[Long]("n_common") === 1L)
    assert(ab.getAs[Double]("jaccard") === 0.333333)
    assert(got(1).getAs[Long]("n_common") === 0L &&
      got(1).getAs[Double]("jaccard") === 0.0)
    assert(got(2).getAs[Long]("n_common") === 0L)
  }

  test("sourceOverlapMatrix: gram-set pair form (high-S path) is row-identical to the self-join") {
    import graft.operators.Curate
    val docs = Tables.documents(spark, sf).select("source", "text")
    val a = Curate.sourceOverlapMatrix(docs, "source", "text")
      .orderBy("source_a", "source_b").collect().toSeq
    val b = Curate.sourceOverlapMatrix(docs, "source", "text",
        pairsFromGramSets = true)
      .orderBy("source_a", "source_b").collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("epochMix: whole epochs exact, fractional rate bounded, drop/default honored, zero-shuffle") {
    import graft.operators.Packing
    val df = (1L to 400L).map(i =>
      (i, if (i <= 100) "w3" else if (i <= 200) "f" else if (i <= 300) "z" else "d"))
      .toDF("id", "src")
    val mixed = Packing.epochMix(df, col("id"), col("src"),
      Map("w3" -> 3.0, "f" -> 0.5, "z" -> 0.0))
    val bySrc = mixed.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("w3") === 300L, s"3.0 epochs = exactly 3 copies per doc: $bySrc")
    assert(!bySrc.contains("z"), s"0.0 epochs drops the source: $bySrc")
    assert(bySrc("d") === 100L, s"unlisted source gets the 1.0 default: $bySrc")
    assert(bySrc("f") >= 30L && bySrc("f") <= 70L,
      s"0.5 epochs keeps ~half (hash-rate, not quota): $bySrc")
    // per-doc copy indices are dense 0..n-1
    val w3copies = mixed.filter(col("src") === "w3" && col("id") === 7L)
      .select("copy_idx").as[Long].collect().sorted.toSeq
    assert(w3copies === Seq(0L, 1L, 2L))
    // deterministic: the same schedule re-derives the same rows
    assert(mixed.collect().toSeq.sortBy(_.toString) ===
      Packing.epochMix(df, col("id"), col("src"),
        Map("w3" -> 3.0, "f" -> 0.5, "z" -> 0.0)).collect().toSeq.sortBy(_.toString))
    // the operator itself is a pure projection — no exchange anywhere
    assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"),
      mixed.queryExecution.executedPlan.toString.take(2000))
  }

  test("temperatureMix: quotas sum to total and sqrt-flatten the distribution") {
    // strata: big=400 docs, small=30 -> natural shares 97/7 at total 104;
    // sqrt: 20/5.48 -> ~82/~22 -> small gets ~3x its natural share (and the
    // stratum is large enough to FILL its quota — an unfillable quota
    // samples fewer, the documented weightedMix behavior)
    val df = ((1L to 400L).map(i => (i, "big")) ++
      (1001L to 1030L).map(i => (i, "small"))).toDF("id", "s")
    val got = graft.operators.Packing.temperatureMix(df, col("id"), col("s"), total = 104)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(got.values.sum === 104L, s"quotas must sum exactly to total: $got")
    assert(got("small") > 10L, s"sqrt scaling must over-sample the small stratum: $got")
    assert(got("big") > got("small"), "monotonicity: bigger stratum keeps a bigger quota")
    // deterministic membership across layouts
    val a = graft.operators.Packing.temperatureMix(df, col("id"), col("s"), 104)
      .select("id").as[Long].collect().sorted.toSeq
    val b = graft.operators.Packing.temperatureMix(df.repartition(7), col("id"), col("s"), 104)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("spanCorrupt: structure, conservation, and sentinel numbering") {
    val docs = Tables.documents(spark, sf).limit(100)
    val got = graft.operators.Packing.spanCorrupt(docs, col("doc_id"), col("text"))
    val joined = got.join(docs.select("doc_id", "text"), "doc_id")
      .as[(Long, Int, Int, String, String, String)].collect()
    joined.foreach { case (id, nBlocks, nMasked, input, target, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      assert(nBlocks === (toks.length + 2) / 3, s"doc $id block count")
      // sentinels number 0..n_masked-1 in both input and target
      val sentinelsIn = "<extra_id_(\\d+)>".r.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      val sentinelsTgt = "<extra_id_(\\d+)>".r.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(sentinelsIn === (0 until nMasked), s"doc $id input sentinels: $sentinelsIn")
      assert(sentinelsTgt === (0 until nMasked), s"doc $id target sentinels")
      // conservation: input words (minus sentinels) + target words (minus
      // sentinels) = original tokens, order preserved within each side
      val sentinel = "<extra_id_\\d+>".r
      val inWords = sentinel.replaceAllIn(input, "").trim.split("\\s+").filter(_.nonEmpty)
      val tgtWords = sentinel.replaceAllIn(target, "").trim.split("\\s+").filter(_.nonEmpty)
      assert(inWords.length + tgtWords.length === toks.length,
        s"doc $id lost/duplicated tokens: ${inWords.length}+${tgtWords.length} vs ${toks.length}")
      assert((inWords ++ tgtWords).sorted.toSeq === toks.sorted.toSeq, s"doc $id token multiset drift")
    }
    // masks must actually fire somewhere on 100 docs
    assert(joined.map(_._3).sum > 0, "no block ever masked — mask rule broken")
  }

  test("hardNegatives: only cross-label vectors, and each is the hardest available") {
    // 2D toy: query label 0 at (1,0); same-label twin at (0.99,0.1) must be
    // EXCLUDED even though it is the global nearest; hardest cross-label is
    // (0.9,0.2), then (0,1)
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.1f), 0), // same label: never a negative
      (2L, Seq(0.9f, 0.2f), 1),
      (3L, Seq(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.hardNegatives(
        df, df.filter(col("vec_id") === 0L), "vec_id", "embedding", "label", k = 2)
      .orderBy(col("score").desc)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(got.map(_._2) === Seq(2L, 3L), s"got $got")
    assert(got.map(_._3) === Seq(1, 2))
    assert(got.head._4 > got(1)._4, "hardest negative must rank first")
  }

  test("Jsonl.writeShardsByBytes: byte budget honored (+1-row spill), contiguous shards, lossless") {
    val dir = java.nio.file.Files.createTempDirectory("jsonlb").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val budget = 16384L
    val manifest = graft.sources.Jsonl.writeShardsByBytes(docs, dir, col("doc_id"), budget)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(manifest.size > 2, s"fixture should span several shards: $manifest")
    // contiguous numbering from 0
    assert(manifest.map(_._1) === (0L until manifest.size))
    // every shard within budget + one-row spill (largest line bounds the spill)
    val maxLine = docs
      .select((octet_length(to_json(struct(col("doc_id"), col("text")))) + 1).cast("long"))
      .as[Long].collect().max
    manifest.foreach { case (s0, _, bytes) =>
      assert(bytes <= budget + maxLine, s"shard $s0 overshot: $bytes > $budget + $maxLine")
    }
    // all shards but the last are FULL (>= budget - one row)
    manifest.dropRight(1).foreach { case (s0, _, bytes) =>
      assert(bytes >= budget - maxLine, s"shard $s0 underfilled: $bytes")
    }
    // lossless round-trip
    val back = graft.sources.Jsonl.read(spark, dir).select("doc_id", "text")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("contaminationFraction: graded verdicts from full dump to clean") {
    val eval0 = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // full dump: 1.0
      (2L, "alpha beta gamma NEW words here padding x"), // 1 of 6 grams hit
      (3L, "totally clean text with fresh tokens")       // 0.0
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(train, eval0, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got(0) === ((1L, 4L, 4L, 1.0)))
    assert(got(1)._3 === 1L && got(1)._4 === 0.1667) // 1/6 rounded
    assert(got(2) === ((3L, 4L, 0L, 0.0)))
  }

  test("fuzzyDedup hub-bucket cap: viral exact clones NEED exact-dedup-first (documented foot-gun)") {
    // 60 identical docs: every band bucket holds all 60; with a cap of 20
    // the buckets DROP, no candidates form, and every clone survives as its
    // own cluster — which is exactly why the curation funnel runs exact
    // dedup BEFORE fuzzy dedup. With the default cap (1000) they collapse.
    val docs = (1L to 60L).map(i => (i, "the exact same viral text repeated"))
      .toDF("doc_id", "text")
    val capped = Dedup.fuzzyDedup(docs, "doc_id", "text", threshold = 0.8,
        maxBucketSize = 20)
      .filter(col("kept")).count()
    assert(capped === 60L, "capped hub buckets must drop -> no merges")
    val uncapped = Dedup.fuzzyDedup(docs, "doc_id", "text", threshold = 0.8)
      .filter(col("kept")).count()
    assert(uncapped === 1L, "default cap admits the clone bucket -> one survivor")
  }

  test("applyDelta: sequential maintenance equals full recompute; zero groups drop; self-delta is identity") {
    import graft.operators.Aggregates
    val rows = Seq(
      ("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.0)).toDF("k", "m")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(
        sum(col("m").cast("decimal(38,2)")).as("m"), count(lit(1)).as("n_rows"))
    val state0 = aggOf(rows)
    // delta: retract ALL of c (group must vanish), retract one a and
    // reinsert corrected, insert new d
    val minus = Seq(("c", 7.0), ("a", 10.0)).toDF("k", "m")
    val plus = Seq(("a", 11.5), ("d", 3.0)).toDF("k", "m")
    val got = Aggregates.applyDelta(state0, plus, minus, Seq("k"), Seq("m"))
      .orderBy("k")
      .select(col("k"), col("m").cast("double"), col("n_rows"))
      .as[(String, Double, Long)].collect().toSeq
    // full recompute over the effective multiset
    val eff = Seq(("a", 20.0), ("a", 11.5), ("b", 5.0), ("d", 3.0)).toDF("k", "m")
    val want = aggOf(eff).orderBy("k")
      .select(col("k"), col("m").cast("double"), col("n_rows"))
      .as[(String, Double, Long)].collect().toSeq
    assert(got === want)
    assert(!got.exists(_._1 == "c"), "fully-retracted group must disappear")
    // (plus = X, minus = X) is the identity
    val id = Aggregates.applyDelta(state0, rows.limit(2), rows.limit(2),
        Seq("k"), Seq("m"))
      .orderBy("k").select(col("k"), col("m").cast("double"), col("n_rows"))
      .as[(String, Double, Long)].collect().toSeq
    val base = state0.orderBy("k")
      .select(col("k"), col("m").cast("double"), col("n_rows"))
      .as[(String, Double, Long)].collect().toSeq
    assert(id === base)
  }

  test("aHash64: constant tile hashes to zero; brightness shift is an exact invariant; structure flips bits") {
    import graft.operators.Multimodal
    // constant image: no pixel strictly exceeds the mean -> all-zero hash
    assert(Multimodal.aHash64(Array.fill(64)(100)) === ((0L, 0L)))
    // half-dark, half-bright: exactly the bright half's bits set
    val split = Array.tabulate(64)(i => if (i < 32) 0 else 200)
    val (hi, lo) = Multimodal.aHash64(split)
    assert(lo === 0L && hi === -1L >>> 32, s"bright half must set bits 32-63: $hi/$lo")
    // uniform brightness shift: (p+c)*64 > s+64c <=> p*64 > s -> identical hash
    val img = Array.tabulate(64)(i => (i * 37) % 256)
    val shifted = img.map(_ + 10)
    assert(Multimodal.aHash64(img) === Multimodal.aHash64(shifted))
    // a structural change flips the mutated pixel's own bit: index 0 is 0
    // (below mean, bit clear); at 255 its 255*64 far exceeds the +255 sum
    // shift, so bit 0 must set
    val mutated = img.clone(); mutated(0) = 255
    assert(Multimodal.aHash64(mutated) !== Multimodal.aHash64(img))
  }

  test("energyHash16: loud frames set bits; integer gain is an exact invariant") {
    import graft.operators.Multimodal
    // frames 0-14 silent, frame 15 loud -> only bit 15
    val oneLoud = Array.tabulate(128)(i => if (i >= 120) 1000 else 0)
    assert(Multimodal.energyHash16(oneLoud) === (1L << 15))
    // constant energy everywhere: no frame strictly exceeds the mean -> 0
    assert(Multimodal.energyHash16(Array.fill(128)(500)) === 0L)
    // gain invariance: v -> 3v scales every energy by 9, both sides alike
    val sig = Array.tabulate(128)(i => ((i * 131) % 2001) - 1000)
    assert(Multimodal.energyHash16(sig) === Multimodal.energyHash16(sig.map(_ * 3)))
    assert(Multimodal.energyHash16(sig) !== 0L, "fixture should have structure")
  }

  test("media incremental index: pigeonhole-complete hamming pairs, chained advance, loud over-threshold rejection") {
    import graft.operators.Multimodal
    // hand-built 32+32-bit signatures: seen {A, B}; batch doc 10 = A exactly
    // (hamming 0), doc 11 = A with 3 bits flipped across both halves
    // (hamming 3 — must still be found via SOME shared chunk), doc 12 = A
    // with 4 bits flipped (hamming 4 — correctly NOT reported at max 3)
    val aHi = 0x12345678L; val aLo = 0x0BCDEF01L
    val seen = Seq((1L, aHi, aLo), (2L, 0x7FFFFFFFL, 0x7FFFFFFFL))
      .toDF("doc_id", "hi", "lo")
    val batch = Seq(
      (10L, aHi, aLo),
      (11L, aHi ^ 1L, aLo ^ 3L),              // 1 + 2 bits = hamming 3
      (12L, aHi ^ 3L, aLo ^ 3L))              // 2 + 2 bits = hamming 4
      .toDF("doc_id", "hi", "lo")
    val idx = Multimodal.buildMediaIndex(seen, "doc_id", "hi", "lo", 32, 32, "img")
    val got = Multimodal.mediaIncrementalPairs(batch, idx, "doc_id", "hi", "lo",
        32, 32, "img").orderBy("batch_id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === Seq((10L, 1L, 0), (11L, 1L, 3)))
    // advance: survivors' signatures join the index; a later twin matches
    val surv = Seq((12L, aHi ^ 3L, aLo ^ 3L)).toDF("doc_id", "hi", "lo")
    val idx2 = Multimodal.advanceMediaIndex(idx, surv, "doc_id", "hi", "lo",
      32, 32, "img")
    val b2 = Seq((20L, aHi ^ 3L, aLo ^ 3L)).toDF("doc_id", "hi", "lo")
    val got2 = Multimodal.mediaIncrementalPairs(b2, idx2, "doc_id", "hi", "lo",
        32, 32, "img").orderBy("seen_id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got2 === Seq((20L, 1L, 4), (20L, 12L, 0)).filter(_._3 <= 3),
      s"twin must match the ADVANCED entry at hamming 0: $got2")
    // a different modality tag never cross-matches
    val wavIdx = Multimodal.buildMediaIndex(seen, "doc_id", "hi", "lo", 32, 32, "wav")
    assert(Multimodal.mediaIncrementalPairs(batch, wavIdx, "doc_id", "hi", "lo",
      32, 32, "img").count() === 0L)
    // beyond the 4-chunk guarantee: rejected loudly, never silent under-recall
    intercept[IllegalArgumentException] {
      Multimodal.mediaIncrementalPairs(batch, idx, "doc_id", "hi", "lo",
        32, 32, "img", maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      Multimodal.buildMediaIndex(seen, "doc_id", "hi", "lo", 33, 32, "img")
    }
    // the NUMERIC id contract refuses per row, never silently nulls: a
    // non-parsing string id fails the ANSI cast loudly; a NULL id (which
    // ANSI passes through) hits the in-row guard — either way nothing can
    // match no probe and fill the stored index with null ids (the
    // gramKeys loud-rejection posture)
    val badIds = Seq(("img_1", 5L, 9L)).toDF("doc_id", "hi", "lo")
    val castErr = intercept[Exception] {
      Multimodal.buildMediaIndex(badIds, "doc_id", "hi", "lo", 32, 32, "img").collect()
    }
    assert(castErr.getMessage.contains("CAST_INVALID_INPUT") ||
      castErr.getMessage.contains("must be numeric"), castErr.getMessage)
    val nullIds = Seq((None: Option[Long], 5L, 9L)).toDF("doc_id", "hi", "lo")
    val nullErr = intercept[Exception] {
      Multimodal.buildMediaIndex(nullIds, "doc_id", "hi", "lo", 32, 32, "img").collect()
    }
    assert(nullErr.getMessage.contains("must be numeric"), nullErr.getMessage)
    // numeric STRINGS still parse — the contract is the value, not the type
    val okIds = Multimodal.buildMediaIndex(
      Seq(("7", 5L, 9L)).toDF("doc_id", "hi", "lo"),
      "doc_id", "hi", "lo", 32, 32, "img")
    assert(okIds.select("id").distinct().as[Long].collect().toSeq === Seq(7L))
  }

  test("mediaPairs: self-pairs with exact hamming; maxBucket drops viral chunks, not quiet pairs") {
    import graft.operators.Multimodal
    // 10 identical signatures (one viral hash) + one hamming-1 neighbor pair
    val viral = (1L to 10L).map(i => (i, 0x0F0F0F0FL, 0x33CC33CCL))
    val quiet = Seq((20L, 0x12345678L, 0x01010101L),
                    (21L, 0x12345678L, 0x01010100L)) // lo differs in 1 bit
    val df = (viral ++ quiet).toDF("doc_id", "hi", "lo")
    val got = Multimodal.mediaPairs(df, "doc_id", "hi", "lo", 32, 32,
      maxHamming = 1).collect()
    assert(got.length === 45 + 1, s"C(10,2) viral + 1 quiet pair: ${got.length}")
    // cap at 8: the viral hash's buckets (10 entries each) drop; the quiet
    // pair (bucket size 2-ish) survives untouched
    val capped = Multimodal.mediaPairs(df, "doc_id", "hi", "lo", 32, 32,
        maxHamming = 1, maxBucket = Some(8L))
      .as[(Long, Long, Int)].collect().toSeq
    assert(capped === Seq((20L, 21L, 1)))
  }

  test("mediaPairs dedupExactFirst: star pairs bound viral exact-dup cost, closure unchanged") {
    import graft.operators.{Dedup, Multimodal}
    // heavy exact-dup fixture: one viral signature with 200 copies, a
    // hamming-1 neighbor of it, and a quiet unrelated pair
    val viral = (1L to 200L).map(i => (i, 0x0F0F0F0FL, 0x33CC33CCL))
    val near = Seq((300L, 0x0F0F0F0FL, 0x33CC33CDL)) // hamming 1 off viral
    val quiet = Seq((400L, 0x12345678L, 0x01010101L),
                    (401L, 0x12345678L, 0x01010100L))
    val df = (viral ++ near ++ quiet).toDF("doc_id", "hi", "lo")
    val full = Multimodal.mediaPairs(df, "doc_id", "hi", "lo", 32, 32,
      maxHamming = 1)
    val folded = Multimodal.mediaPairs(df, "doc_id", "hi", "lo", 32, 32,
      maxHamming = 1, dedupExactFirst = true)
    // output volume: C(200,2) + 200 + 1 + 1 unfolded vs 199 stars + 3
    // signature-level pairs folded — the viral class costs k-1, not k^2/2
    assert(full.count() === (200L * 199 / 2) + 200L + 1L)
    assert(folded.count() === 199L + 1L + 1L)
    // the star keeps every member attached to its representative at 0
    assert(folded.filter(col("hamming") === 0 && col("id_a") === 1L).count() === 199L)
    // closure equivalence: identical dupClusters components either way
    def clusters(pairs: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Dedup.dupClusters(df.select("doc_id"), "doc_id", pairs)
        .select("doc_id", "cluster_id").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(clusters(folded) === clusters(full))
  }

  test("q170 UniMax: the one-window closed form equals the paper's sequential loop") {
    // ground truth = UniMax's own algorithm (ascending sizes, alloc =
    // min(cap, remaining / sources_left)), run as a driver-side fold over
    // the same per-source token totals the query aggregates
    val got = graft.analytics.PrepQueries.queries("q170_unimax_mix")(spark, sf)
      .as[(String, Long, Long, Boolean, Double, Double)].collect().toSeq
    assert(got.size > 2)
    val caps = got.map(r => (r._1, r._3)).sortBy(r => (r._2, r._1))
    val budget = got.map(_._2).sum * 21 / 20
    var remaining = budget.toDouble
    var left = caps.size
    val seqAlloc = scala.collection.mutable.Map[String, Double]()
    caps.foreach { case (src, cap) =>
      val a = math.min(cap.toDouble, remaining / left)
      seqAlloc(src) = a; remaining -= a; left -= 1
    }
    got.foreach { case (src, _, cap, capped, alloc, _) =>
      val expect = seqAlloc(src)
      // the query's alloc is 4dp-rounded; compare at the rounding grain
      assert(math.abs(alloc - expect) < 5.1e-5,
        s"$src: closed-form $alloc != sequential $expect")
      assert(capped === (math.abs(expect - cap.toDouble) < 1e-9),
        s"$src capped flag disagrees with the loop")
    }
    // invariants: budget is spent exactly (mixed regime), every alloc
    // respects its cap, all uncapped allocs share one waterline
    assert(math.abs(got.map(_._5).sum - budget.toDouble) < 1.0)
    got.foreach { case (src, _, cap, _, alloc, _) =>
      assert(alloc <= cap + 1e-9, s"$src alloc $alloc over cap $cap") }
    val levels = got.filter(!_._4).map(_._5).distinct
    assert(levels.size === 1, s"uncapped sources must share one level: $levels")
    assert(got.exists(_._4) && got.exists(!_._4), "fixture must mix regimes")
  }

  test("q168 sample-level dedup: verdict is the OR of per-modality probes; planted clones flag their modality") {
    val got = graft.analytics.PrepQueries.queries("q168_sample_dedup")(spark, sf)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, t, i, a, d, n) =>
      assert(d === (t || i || a), s"is_dup must be the OR at $id")
      assert(n === Seq(t, i, a).count(identity).toLong, s"n_mod must count flags at $id")
    }
    // every planted text clone (+1000000 ids) flags its modality
    val clones = got.filter(_._1 >= 1000000L)
    assert(clones.nonEmpty && clones.forall(_._2), "text clones must flag text_dup")
    // cross-modality disagreement is real: a text dup with a fresh image,
    // and an image dup with fresh text — the member-swap case the joint
    // verdict exists for
    assert(got.exists(r => r._2 && !r._3), "need a text-dup/fresh-image sample")
    assert(got.exists(r => r._3 && !r._2), "need an image-dup/fresh-text sample")
  }

  test("q159 training order: per-shard manifest conserves stage populations end-to-end") {
    import graft.operators.Packing
    val report = SparkEntry.queries("q159_training_order")(spark, sf).collect()
    // the epoch-expanded corpus is the ground truth every later stage must
    // conserve: rows, tokens, bytes — a lost or doubled (doc, copy) at any
    // stage (shuffle join, pack cut, shard spread) breaks one of these sums
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      graft.functions.Text.tokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_bytes"))
    val mixed = Packing.epochMix(docs, col("doc_id"), col("source"),
      graft.analytics.CorpusQueries.EpochMixEpochs)
    val exp: (Long, Long, Long) = mixed
      .agg(count(lit(1)), sum("n_tokens"), sum("n_bytes"))
      .as[(Long, Long, Long)].head()
    val (expRows, expToks, expBytes) = exp
    assert(report.map(_.getAs[Long]("n_rows")).sum === expRows)
    assert(report.map(_.getAs[Long]("n_tokens")).sum === expToks)
    assert(report.map(_.getAs[Long]("n_bytes")).sum === expBytes)
    // packs land on every shard and respect the 512-token capacity on
    // average (a pack can exceed 512 only by its LAST doc's spill)
    assert(report.length === 8, s"all 8 shards must appear: ${report.length}")
    val nPacks = report.map(_.getAs[Long]("n_packs")).sum
    assert(nPacks >= expToks / 512,
      s"pack count $nPacks below the token-budget floor ${expToks / 512}")
  }

  test("media index: pigeonhole recall COMPLETE for hamming <= 3 over 300 random signatures") {
    import graft.operators.Multimodal
    // the 4-chunk guarantee as a randomized property: batch item i is
    // seen item i with k = i % 4 random bit flips across the 64-bit
    // signature — EVERY planted pair must come back with its exact
    // hamming, and every reported pair's hamming must be correct and <= 3
    val rnd = new scala.util.Random(11)
    def sig(): (Long, Long) =
      (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL)
    val seen = (0 until 300).map { i => val (h, l) = sig(); (i.toLong, h, l) }
    val batch = seen.map { case (i, h, l) =>
      val k = (i % 4).toInt
      var (bh, bl) = (h, l)
      val flips = scala.collection.mutable.Set.empty[Int]
      while (flips.size < k) flips += rnd.nextInt(64)
      flips.foreach { b =>
        if (b < 32) bl ^= 1L << b else bh ^= 1L << (b - 32)
      }
      (i + 1000L, bh, bl, k)
    }
    val idx = Multimodal.buildMediaIndex(seen.toDF("doc_id", "hi", "lo"),
      "doc_id", "hi", "lo", 32, 32, "img")
    val pairs = Multimodal.mediaIncrementalPairs(
        batch.map(t => (t._1, t._2, t._3)).toDF("doc_id", "hi", "lo"), idx,
        "doc_id", "hi", "lo", 32, 32, "img")
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    batch.foreach { case (bid, _, _, k) =>
      assert(byPair.get((bid, bid - 1000L)).contains(k),
        s"planted pair ($bid, ${bid - 1000L}) at hamming $k missing or wrong: ${byPair.get((bid, bid - 1000L))}")
    }
    // soundness: every reported hamming matches the driver-side bit count
    val seenSig = seen.map(t => t._1 -> (t._2, t._3)).toMap
    val batchSig = batch.map(t => t._1 -> (t._2, t._3)).toMap
    pairs.foreach { case (b, s, h) =>
      val (bh, bl) = batchSig(b); val (sh, sl) = seenSig(s)
      val expect = java.lang.Long.bitCount(bh ^ sh) + java.lang.Long.bitCount(bl ^ sl)
      assert(h === expect && h <= 3, s"pair ($b,$s): reported $h, actual $expect")
    }
  }

  test("fimTransform: PSM reassembles to the original token stream; cuts ordered and in range") {
    val docs = Tables.documents(spark, sf).limit(100)
    val got = graft.operators.Packing.fimTransform(docs, col("doc_id"), col("text"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .as[(Long, Int, Int, Int, String, String)].collect()
    got.foreach { case (id, n, c1, c2, psm, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      assert(n === toks.length)
      assert(0 <= c1 && c1 <= c2 && c2 <= n, s"doc $id cuts $c1/$c2 of $n")
      val m = "(?s)^<PRE> (.*) <SUF> (.*) <MID> (.*)$".r
      psm match {
        case m(pre, suf, mid) =>
          def ws(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
          assert(ws(pre) === toks.take(c1), s"doc $id prefix")
          assert(ws(mid) === toks.slice(c1, c2), s"doc $id middle")
          assert(ws(suf) === toks.drop(c2), s"doc $id suffix")
        case _ => fail(s"doc $id psm shape: ${psm.take(80)}")
      }
    }
    // cut diversity: not all docs split at the same point
    assert(got.map(r => (r._3, r._4)).distinct.length > 10)
  }

  test("MinHash calibration inputs: identical docs estimate 1.0 with zero error; est tracks exact") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    val twins = docs.select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(twins)
    val cands = Dedup.minhashLshCandidates(corpus, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32)
    val est = cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / 32.0).as("est"))
      .as[(Long, Long, Double)].collect()
    val identical = est.filter { case (a, b, _) => b - a == 5000L }
    assert(identical.length === 100, "every identical twin pair must be an LSH candidate")
    assert(identical.forall(_._3 === 1.0), "identical docs must estimate exactly 1.0")
  }

  test("gopherFlags: mean word length bounds") {
    val short = flagsOf("a b c d e f g h i j", minWords = 2) // mean 1 < 3
    assert(short("ok_mean_word_len") === false)
    val long = flagsOf("internationalization considerations parallelization " +
      "distributed computation infrastructure", minWords = 2) // mean > 10
    assert(long("ok_mean_word_len") === false)
  }
}
