package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Pii, Text}
import graft.operators.{Classify, Curate, Dedup, LangId, Vocab}

/** Corpus-curation composites: the pretraining-data DAG stages beyond the
  * individual operators — rule-ensemble quality filtering (q107, q113),
  * the end-to-end fuzzy-dedup DAG (q108), tokenizer training and its
  * evaluation (q109, q112), corpus LM scoring (q110), trained language ID
  * (q111), PII and diversity audits (q115, q118), versioning (q116),
  * mixture construction (q117), example-prep transforms (q119, q125),
  * contamination grading (q121), and estimator calibration (q126).
  * (The reference stack's quality gates are Great-Expectations suites over
  * business rows — `scripts/test/great_expectations_checks.py` — this module
  * is the document-corpus twin of that idea: declarative per-row rule
  * ensembles and composed cleaning DAGs with auditable verdicts.)
  */
object CorpusQueries {

  /** The fixture texts are clean synthetic prose, so the rule-ensemble
    * queries dirty them DETERMINISTICALLY in both engines (the q96/q99
    * fixture pattern): by doc_id mod 5 — bullet-heavy (0), ellipsis-heavy
    * (1), symbol-spam (2), numeric-token-diluted (3), untouched (4).
    *
    * Charset assumption (the q98 caveat, shared by every whitespace-split
    * oracle here): Java's `\s` and RE2's `\s` differ on `\x0B`, and Java's
    * `.` excludes more line separators than RE2's — parity holds because
    * the fixture corpus (and these injected tails) contain neither `\x0B`
    * nor U+0085/U+2028/U+2029 nor CRLF. A corpus with those characters
    * needs the explicit negated-class forms (see `Text.charEntropy`). */
  /** q147's repeat schedule: whole epochs, a fractional epoch, a drop, and
    * the implicit 1.0 default for the other 16 sources. */
  private[graft] val EpochMixEpochs =
    Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0, "src3" -> 3.0)

  private val BulletTail =
    "\n- one\n- two\n- three\n- four\n* five\n* six\n* seven\n• eight\n• nine\n- ten"
  private val EllipsisTail = "\nwait for it...\nstill loading...\nalmost there..."
  private val HashTail = " # # # # # # # # # # # #"
  private val DigitTail = " 12345 67890 99999 88888 77777 66666 55555 44444" +
    " 33333 22222 11111 10101 20202 30303 40404"

  private[analytics] def messyDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 5 === 0, lit(BulletTail))
        .when(col("doc_id") % 5 === 1, lit(EllipsisTail))
        .when(col("doc_id") % 5 === 2, lit(HashTail))
        .when(col("doc_id") % 5 === 3, lit(DigitTail))
        .otherwise(lit(""))).as("text"))

  /** Required-word set for the fixture corpus: the synthetic vocabulary
    * contains "the" and "a" but none of Gopher's other function words, so
    * the paper's set would fail every document identically; this set keeps
    * the rule discriminating while preserving its shape. */
  private val FixtureRequired = Seq("the", "a", "and", "of")

  /** Planted-repeat fixture for q127: a 13-token block appended to doc_id
    * % 7 == 0, prepended to % 7 == 1 (cross-doc repeats at both ends), and
    * % 7 == 2 docs pasted twice (whole-doc self-repeat — every 8-gram of
    * the doubled text occurs ≥ 2×). Deterministic in both engines (the
    * messyDocs pattern). */
  private val PlantedBlock = "galaxies rotate quietly beneath the ancient" +
    " observatory while twelve astronomers chart convergent orbits"

  private[analytics] def plantedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + PlantedBlock)))
        .when(col("doc_id") % 7 === 1, concat(lit(PlantedBlock + " "), col("text")))
        .when(col("doc_id") % 7 === 2, concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Domain-level quality gating (the C4/RefinedWeb pattern): every doc
    // carries its SOURCE's aggregate-quality verdict — kept iff the domain
    // mean quality clears 0.825, compared in exact decimal arithmetic
    // (Σq·10⁴ ≥ 8250·n), never the divided double.
    "q142_domain_quality_gate" -> { (s, dir) =>
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        Text.qualityScore(col("text"), TextQueries.Stopwords).as("quality"))
      Curate.domainQualityGate(scored, "doc_id", "source", "quality",
          minMean = 0.825)
        .orderBy("doc_id")
    },

    // Exact arbitrary-length repeated-substring spans (Lee et al. 2022
    // substring dedup, relational form): 8-gram anchor cover → maximal
    // merged spans → per-doc span stats + span-removed text. The oracle
    // replays the anchor counts, the df==1 identity, the gaps-and-islands
    // merge, and the position-ordered reassembly.
    "q127_repeated_spans" -> { (s, dir) =>
      Dedup.repeatedSpans(plantedDocs(s, dir), "doc_id", "text", minLen = 8)
        .orderBy("doc_id")
    },

    // Incremental curation funnel: a new crawl batch curated against the
    // FROZEN index of the seen corpus (fingerprints, span set, per-lang
    // quality floor, eval slice) — the corpus is never recomputed. Batch
    // fixture plants exact clones of seen docs (b1 vs index), within-batch
    // clones (b1 min-id), and 40-token prefixes of seen docs (b2 span
    // dedup); natural eval 3-gram overlaps drive b4.
    "q129_incremental_funnel" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 350).select("doc_id", "text", "lang")
      val batch = d.filter(col("doc_id") >= 350).select("doc_id", "text", "lang")
        .unionByName(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
        .unionByName(d.filter(col("doc_id") >= 350 && col("doc_id") < 360)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), col("lang")))
        .unionByName(d.filter(col("doc_id") >= 20 && col("doc_id") < 40)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 40)).as("text"),
            col("lang")))
      val idx = Curate.buildIndex(seen, "doc_id", "text", "lang",
        TextQueries.Stopwords, evalPred = col("doc_id") % 50 === 0)
        .materialized()
      Curate.funnelIncrementalPersisted(batch, "doc_id", "text", "lang",
          TextQueries.Stopwords, idx)
        .funnel.counts.orderBy("stage")
    },

    // Streaming/chained incremental curation (the round-6 spec-only
    // composition, promoted to the oracle gate): two micro-batches through
    // funnelIncrementalPersisted with the index ADVANCING between them —
    // batch 2 plants exact clones of BATCH-1 docs and 40-token prefixes of
    // batch-1 docs, both catchable only via the advanced fingerprint/span
    // indexes; thresholds and the eval slice stay frozen at the seed index
    // (the operator's contract). Output = per-batch stage counts; the
    // oracle replays the full two-batch sequential composition CTE chain.
    "q137_streaming_curation" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 300).select("doc_id", "text", "lang")
      val batchA = d.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select("doc_id", "text", "lang")
        .unionByName(d.filter(col("doc_id") < 15)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
      val batchB = d.filter(col("doc_id") >= 400).select("doc_id", "text", "lang")
        .unionByName(d.filter(col("doc_id") >= 300 && col("doc_id") < 320)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), col("lang")))
        .unionByName(d.filter(col("doc_id") >= 320 && col("doc_id") < 330)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 40)).as("text"),
            col("lang")))
      val idx0 = Curate.buildIndex(seen, "doc_id", "text", "lang",
        TextQueries.Stopwords, evalPred = col("doc_id") % 50 === 0)
        .materialized()
      val r1 = Curate.funnelIncrementalPersisted(batchA, "doc_id", "text", "lang",
        TextQueries.Stopwords, idx0)
      val idx1 = r1.updatedIndex.materialized()
      val r2 = Curate.funnelIncrementalPersisted(batchB, "doc_id", "text", "lang",
        TextQueries.Stopwords, idx1)
      r1.funnel.counts.select(lit(1).as("batch"), col("stage"), col("n_docs"))
        .unionByName(r2.funnel.counts
          .select(lit(2).as("batch"), col("stage"), col("n_docs")))
        .orderBy("batch", "stage")
    },

    // Chained incremental fuzzy dedup (the q137 pattern for the fuzzy
    // member of the trio): two crawl batches through fuzzyDedupIncremental
    // with the banded index ADVANCING on batch-1 survivors between them —
    // batch 2 plants near-dups of batch-1 FRESH docs, catchable only via
    // the advanced bands (their originals were never in the seed index).
    // The oracle replays both batches sequentially: one shared signature/
    // banding chain over all docs, per-batch probe/verify/closure blocks,
    // and the survivor-banded index union in between.
    "q138_streaming_fuzzy_dedup" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 250).select("doc_id", "text")
      val batchA = d.filter(col("doc_id") >= 250 && col("doc_id") < 350)
          .select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" nearly duplicated tail tokens")).as("text")))
      val batchB = d.filter(col("doc_id") >= 350).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 280)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" almost duplicated trailing tokens")).as("text")))
        .unionByName(d.filter(col("doc_id") >= 30 && col("doc_id") < 60)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" nearly duplicated tail tokens")).as("text")))
      val idx0 = Dedup.bandedSignatures(seen, "doc_id", "text").localCheckpoint()
      val r1 = Dedup.fuzzyDedupIncremental(batchA, seen, idx0, "doc_id", "text",
        threshold = 0.8).localCheckpoint()
      val survA = batchA.join(r1.filter(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val idx1 = Dedup.advanceBandedIndex(idx0, survA, "doc_id", "text")
        .localCheckpoint()
      val seen1 = seen.unionByName(survA)
      val r2 = Dedup.fuzzyDedupIncremental(batchB, seen1, idx1, "doc_id", "text",
        threshold = 0.8)
      r1.select(lit(1).as("batch"), col("doc_id"), col("dup_of"), col("kept"))
        .unionByName(r2.select(lit(2).as("batch"), col("doc_id"),
          col("dup_of"), col("kept")))
        .orderBy("batch", "doc_id")
    },

    // Chained incremental repeated-substring dedup (the trio's third
    // chained member): two batches through repeatedSpansIncremental with
    // the gram-hash index advancing on batch-1 SURVIVORS (repeated_frac
    // < 0.5) between them — batch 2 plants 16-token prefixes of batch-1
    // survivor texts, covered only via the advanced index.
    "q139_streaming_repeated_spans" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 250).select("doc_id", "text")
      val batchA = d.filter(col("doc_id") >= 250 && col("doc_id") < 350)
          .select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
      val batchB = d.filter(col("doc_id") >= 350).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") >= 260 && col("doc_id") < 290)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(concat_ws(" ", slice(Text.tokens(col("text")), 1, 16)),
              lit(" qfresha"), col("doc_id").cast("string"),
              lit(" qfreshb"), col("doc_id").cast("string"),
              lit(" qfreshc"), col("doc_id").cast("string")).as("text")))
      val idx0 = Dedup.buildRepeatedSpanIndex(seen, "doc_id", "text")
        .localCheckpoint()
      val r1 = Dedup.repeatedSpansIncremental(batchA, idx0, "doc_id", "text")
        .localCheckpoint()
      val survA = batchA.join(
        r1.filter(col("repeated_frac") < 0.5).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val idx1 = idx0
        .unionByName(Dedup.buildRepeatedSpanIndex(survA, "doc_id", "text"))
        .distinct().localCheckpoint()
      val r2 = Dedup.repeatedSpansIncremental(batchB, idx1, "doc_id", "text")
      r1.select(lit(1).as("batch"), col("doc_id"), col("n_tokens"),
          col("n_spans"), col("n_repeated_tokens"), col("repeated_frac"),
          col("cleaned_text"))
        .unionByName(r2.select(lit(2).as("batch"), col("doc_id"),
          col("n_tokens"), col("n_spans"), col("n_repeated_tokens"),
          col("repeated_frac"), col("cleaned_text")))
        .orderBy("batch", "doc_id")
    },

    // Incremental repeated-substring dedup: batch positions covered iff
    // their anchor gram exists in the SEEN corpus's gram index OR repeats
    // within the batch — union semantics restricted to the batch, corpus
    // never re-scanned. Fixture plants seen-prefix heads (cross-corpus
    // substrings) and doubled batch docs (self-repeats).
    "q134_repeated_spans_incremental" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 350).select("doc_id", "text")
      val batch = d.filter(col("doc_id") >= 350).select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(concat_ws(" ", slice(Text.tokens(col("text")), 1, 16)),
              lit(" zfresha"), col("doc_id").cast("string"),
              lit(" zfreshb"), col("doc_id").cast("string"),
              lit(" zfreshc"), col("doc_id").cast("string")).as("text")))
        .unionByName(d.filter(col("doc_id") >= 350 && col("doc_id") < 360)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
      val index = Dedup.buildRepeatedSpanIndex(seen, "doc_id", "text")
      Dedup.repeatedSpansIncremental(batch, index, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Luhn-validated card-number scrubbing: shape-matching runs checked by
    // the ISO 7812 checksum; only VALID numbers redact (order ids and
    // tracking numbers that merely look card-shaped survive) — conditional
    // redaction a bare regexp_replace cannot express. Integer fold, exact
    // replay.
    "q133_card_redaction" -> { (s, dir) =>
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" card 4539 1488 0343 6467 on file"))
            .when(col("doc_id") % 4 === 1, lit(" ref 1234 5678 9012 3456 order"))
            .when(col("doc_id") % 4 === 2, lit(" id 4539148803436468 x"))
            .otherwise(lit(""))).as("text"))
      dirty.select(col("doc_id"),
          size(Pii.cardCandidates(col("text"))).as("n_candidates"),
          size(Pii.luhnValidCards(col("text"))).as("n_valid"),
          Pii.redactCards(col("text")).as("redacted"))
        .orderBy("doc_id")
    },

    // Incremental fuzzy dedup: a crawl batch probed against the seen
    // corpus's PERSISTED banded-signature index (q72's candidates), exact
    // Jaccard verification (q28's arithmetic), accepted-corpus-wins
    // precedence, then within-batch fuzzy dedup (q108's DAG) among the
    // survivors. Batch fixture: near-dup clones of seen docs (tail
    // appended), fresh docs, and within-batch near-dup pairs.
    "q132_fuzzy_dedup_incremental" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val seen = d.filter(col("doc_id") < 300).select("doc_id", "text")
      val batch = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" nearly duplicated tail tokens")).as("text"))
        .unionByName(d.filter(col("doc_id") >= 300 && col("doc_id") < 350)
          .select("doc_id", "text"))
        .unionByName(d.filter(col("doc_id") >= 300 && col("doc_id") < 320)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" nearly duplicated tail tokens")).as("text")))
      val index = Dedup.bandedSignatures(seen, "doc_id", "text")
      Dedup.fuzzyDedupIncremental(batch, seen, index, "doc_id", "text",
          threshold = 0.8)
        .orderBy("doc_id")
    },

    // Trained binary Naive Bayes quality classifier (the fastText-shaped
    // learned gate): labels derive from the messyDocs dirtying rule
    // (doc_id % 5 != 4 = dirtied = positive), trained on the doc_id % 3 == 0
    // slice, scoring every doc. Integer counts + position-ordered ln folds —
    // the oracle replays train AND predict bit-for-bit.
    "q128_naive_bayes" -> { (s, dir) =>
      val labeled = messyDocs(s, dir)
        .withColumn("is_dirty", col("doc_id") % 5 =!= 4)
      Classify.naiveBayes(labeled, "doc_id", "text", "is_dirty",
          col("doc_id") % 3 === 0)
        .orderBy("doc_id")
    },

    // q128's incremental twin: the NB model state (per-token class counts
    // + doc priors) is a pure MONOID of integer sums, so labeled slices
    // fold in by addition — advance ≡ joint retrain exactly, under any
    // batching. The labeled train slice splits in two; the WHOLE corpus
    // scores from the state after each fold; the oracle re-trains both
    // phases from raw text.
    "q203_incremental_nb" -> { (s, dir) =>
      import graft.operators.Classify
      val labeled = messyDocs(s, dir)
        .withColumn("is_dirty", col("doc_id") % 5 =!= 4)
      val train = labeled.filter(col("doc_id") % 3 === 0)
      val (c1r, d1r) = Classify.nbTrainCounts(
        train.filter(col("doc_id") % 2 === 0), "text", "is_dirty")
      val (c1, d1) = (c1r.localCheckpoint(), d1r.localCheckpoint())
      val (c2r, d2r) = Classify.nbCountsAdvance(c1, d1,
        train.filter(col("doc_id") % 2 =!= 0), "text", "is_dirty")
      val (c2, d2) = (c2r.localCheckpoint(), d2r.localCheckpoint())
      def ph(c: org.apache.spark.sql.DataFrame,
             d: org.apache.spark.sql.DataFrame, phase: String) =
        Classify.naiveBayesScore(labeled, "doc_id", "text", "is_dirty", c, d)
          .withColumn("phase", lit(phase))
      ph(c1, d1, "1_after_b1").unionByName(ph(c2, d2, "2_after_b2"))
        .select("phase", "doc_id", "label", "pred", "log_odds", "correct")
        .orderBy("phase", "doc_id")
    },

    // Classifier-vs-heuristic gate report: precision/recall/F1 of the q128
    // Naive Bayes and the q107 Gopher rule ensemble against the same labels
    // on the same corpus — the audit that justifies (or blocks) swapping a
    // heuristic gate for a trained one.
    "q131_classifier_report" -> { (s, dir) =>
      val labeled = messyDocs(s, dir)
        .withColumn("is_dirty", col("doc_id") % 5 =!= 4)
      val nb = Classify.naiveBayes(labeled, "doc_id", "text", "is_dirty",
          col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("pred").as("nb_pred"))
      val heur = labeled.select(col("doc_id"), col("is_dirty"),
        (!Text.gopherFlags(col("text"), requiredWords = FixtureRequired)
          .getField("keep")).as("h_pred"))
      Classify.prReport(heur.join(nb, "doc_id"), "is_dirty",
          Seq("gopher_rules" -> col("h_pred"), "naive_bayes" -> col("nb_pred")))
        .orderBy("method")
    },

    // Gopher rule-ensemble quality filter (Rae et al. 2021 Appendix A):
    // per-rule boolean verdicts + the conjunction, one codegen'd projection
    // over the deterministically-dirtied corpus.
    "q107_gopher_filter" -> { (s, dir) =>
      val flags = Text.gopherFlags(col("text"), requiredWords = FixtureRequired)
      messyDocs(s, dir)
        .select(col("doc_id"), flags.as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy("doc_id")
    },

    // End-to-end fuzzy dedup over the cloned sub-corpus: LSH candidates →
    // exact-Jaccard verify → connected components → min-id survivor. The
    // oracle replays the ENTIRE DAG (the q29 signature pipeline, the q28
    // verification arithmetic, the q50 recursive closure) in one SQL chain.
    "q108_fuzzy_dedup" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val corpus = base.unionByName(base.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.fuzzyDedup(corpus, "doc_id", "text", threshold = 0.8)
        .orderBy("doc_id")
    },

    // MinHash estimator calibration: for every LSH candidate pair, the
    // signature-agreement estimate (matching minima / 32) next to the exact
    // distinct-shingle Jaccard and their absolute error — the diagnostic
    // that justifies trusting signature agreement as a cheap verifier.
    "q126_minhash_calibration" -> { (s, dir) =>
      // natural sub-corpus + 50 designed near-dup twins (appended tail, so
      // est < 1 and exact < 1 vary) — every scale factor produces
      // calibration rows even when the natural corpus has no near-dups
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val docs = base.unionByName(base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" nearly duplicated tail tokens")).as("text")))
      val cands = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
      val matches = size(filter(
        zip_with(col("__sa"), col("__sb"), (x, y) => x === y), b => b))
      val est = graft.functions.Rounding.roundLikeC(
        matches.cast("double") / lit(32.0), 4) + lit(0.0)
      val grams = docs.select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("text"), 3))).as("g"))
      val gsizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val common = cands
        .join(grams.select(col("doc_id").as("id_a"), col("g")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("__c"))
      val exact = graft.functions.Rounding.roundLikeC(
        coalesce(col("__c"), lit(0L)).cast("double") /
          (col("__na") + col("__nb") - coalesce(col("__c"), lit(0L))).cast("double"),
        4) + lit(0.0)
      cands
        .join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
        .join(common, Seq("id_a", "id_b"), "left")
        .join(gsizes.select(col("doc_id").as("id_a"), col("n").as("__na")), "id_a")
        .join(gsizes.select(col("doc_id").as("id_b"), col("n").as("__nb")), "id_b")
        .select(col("id_a"), col("id_b"), est.as("est_jaccard"), exact.as("exact_jaccard"))
        .withColumn("abs_err", graft.functions.Rounding.roundLikeC(
          abs(col("est_jaccard") - col("exact_jaccard")), 4) + lit(0.0))
        .orderBy("id_a", "id_b")
    },

    // Distributed BPE tokenizer training: 8 merge rounds over the corpus
    // word-frequency table; output = the trained merge table. The oracle
    // replays every round — pair counting, (count DESC, pair ASC) argmax,
    // greedy merge fold — as a generated CTE chain.
    "q109_bpe_train" -> { (s, dir) =>
      Vocab.bpeTrain(Tables.documents(s, dir), "text", numMerges = 8)
        .orderBy("merge_rank")
    },

    // Unigram-LM (SentencePiece-style) tokenizer training — the
    // PRUNING-based alternative to q109's merge-based BPE: seed the top-60
    // multi-char substrings of the word-frequency table (plus the
    // single-char floor), then three rounds of likelihood-loss pruning
    // (exact-integer usage counts under greedy leftmost-longest
    // segmentation), 12 pieces per round. Output: the shipped vocabulary
    // with final usage. The oracle replays every round — seeding, the
    // per-position bestLen table, the segmentation fold, usage, the prune
    // cut — as vocabulary-sized CTEs (the q109 discipline).
    "q211_unigram_train" -> { (s, dir) =>
      Vocab.unigramTrain(Tables.documents(s, dir), "text")
        .orderBy(col("usage").desc, col("piece"))
    },

    // Incremental TOKENIZER training — the family's §2.9 member: the only
    // corpus-sized input BPE consumes is the word-frequency table, a
    // count monoid, so the state folds per ingest batch (word-keyed
    // addition — prior batches never re-tokenized) and the trainer
    // re-runs off the folded table at vocabulary cost. Phase 1 trains
    // from batch 1's counts; phase 2 from the folded union — the oracle
    // retrains both phases from raw documents, so equality proves
    // fold-then-train ≡ scan-then-train (the strongest incremental
    // contract: the shipped artifact is IDENTICAL).
    "q213_bpe_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val b1 = docs.filter(col("doc_id") % 3 =!= 0)
      val b2 = docs.filter(col("doc_id") % 3 === 0)
      val c1 = Vocab.wordCounts(b1, "text").localCheckpoint()
      val c2 = Vocab.wordCountsAdvance(c1, b2, "text").localCheckpoint()
      Vocab.bpeTrainFromCounts(c1, 8).withColumn("phase", lit("1_after_b1"))
        .unionByName(Vocab.bpeTrainFromCounts(c2, 8)
          .withColumn("phase", lit("2_after_b2")))
        .select("phase", "merge_rank", "left", "right", "merged",
          "pair_count")
        .orderBy("phase", "merge_rank")
    },

    // Curriculum ordering: KN-trigram difficulty scores cut into 10
    // equal-population stages (composed global rank — no single-partition
    // window), mix2-shuffled within each stage; consume in
    // (bucket, pos_in_bucket) order.
    "q135_curriculum_order" -> { (s, dir) =>
      val scored = graft.operators.LmScore.knTrigramNll(
        Tables.documents(s, dir), "doc_id", "text")
      graft.operators.Packing.curriculumOrder(scored, "doc_id", "avg_nll", 10)
        .select(col("doc_id"), col("avg_nll"), col("difficulty_rank"),
          col("bucket"), col("pos_in_bucket"))
        .orderBy("doc_id")
    },

    // Gopher A2 n-gram repetition metrics over a repetition-dirtied
    // corpus: docs mod 3 repeat a 9-gram phrase twice (dup5..9 fire),
    // docs mod 5 append a token run (top2..4 fire); naturals keep their
    // organic repetition floor.
    "q157_gopher_ngram_repetition" -> { (s, dir) =>
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" the quick brown fox jumps over the lazy dog" +
              " the quick brown fox jumps over the lazy dog")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(" spark spark spark spark")).otherwise(lit(""))).as("text"))
      Dedup.ngramRepetitionReport(dirty, "doc_id", "text")
        .orderBy("doc_id")
    },

    // C4 cleaning rules over a deterministically multi-lined corpus (the
    // raw fixture text has no newlines, so the page layout is synthesized
    // identically in both engines — the q96/q113 dirtying pattern): line
    // punctuation/length/javascript rules + lorem-ipsum/brace/blocklist/
    // too-few-lines document verdicts.
    "q154_c4_rules" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val page = concat(
        substring(col("text"), 1, 80), lit(" extra pad words."),
        when(col("doc_id") % 19 =!= 0,
          lit("\na second good line with enough words." +
            "\nthird informative line with many words.")).otherwise(lit("")),
        lit("\nshort one.\nno terminal punctuation in this line"),
        when(col("doc_id") % 7 === 0,
          lit("\nplease enable javascript for this page.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nconfig { value: 1 } end of block.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nbadword1 appears in this line today.")).otherwise(lit("")))
      graft.operators.Curate.c4Clean(
          d.select(col("doc_id"), page.as("text")), "doc_id", "text",
          blocklist = Seq("badword1"))
        .orderBy("doc_id")
    },

    // SFT chat-template rendering: 4-turn conversations synthesized from
    // consecutive doc ids (system/user/assistant/user), ChatML-rendered;
    // each assistant turn reports its exact loss span + the rendered
    // conversation's md5.
    "q153_chat_render" -> { (s, dir) =>
      val turns = Tables.documents(s, dir).select(
        ((col("doc_id") - col("doc_id") % 4) / 4).cast("long").as("conv_id"),
        (col("doc_id") % 4).as("turn_idx"),
        when(col("doc_id") % 4 === 0, "system")
          .when(col("doc_id") % 4 === 2, "assistant")
          .otherwise("user").as("role"),
        substring(col("text"), 1, 120).as("content"))
      graft.operators.Packing.chatRender(turns, "conv_id", "turn_idx",
          "role", "content")
        .orderBy("conv_id", "turn_idx")
    },

    // CCNet-style LM-perplexity gate: q130's KN scores cut into
    // per-language perplexity tertiles by VALUE thresholds from the
    // bounded histogram (integer cum*3 >= n comparisons); head+middle
    // kept, tail dropped.
    "q152_perplexity_gate" -> { (s, dir) =>
      graft.operators.Curate.perplexityGate(
          Tables.documents(s, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // Kneser–Ney interpolated trigram LM (the q110 upgrade): absolute
    // discount D = 0.75 on trigram counts, continuation-TYPE counts on the
    // lower levels, all derived from one trigram multiset — the oracle
    // replays train + score bit-for-bit.
    "q130_kn_trigram_lm" -> { (s, dir) =>
      graft.operators.LmScore.knTrigramNll(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Interpolated bigram LM quality scoring (the KenLM-shaped upgrade of
    // q78's unigram NLL): per-doc position-ordered NLL fold over
    // p(w2|w1) = 0.75·c12/c1 + 0.25·c2/N.
    "q110_bigram_lm" -> { (s, dir) =>
      graft.operators.LmScore.bigramNll(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Trained character-trigram language ID (Cavnar–Trenkle profiles):
    // top-40 trigram profile per labeled language, classify by profile-hit
    // argmax. Train + predict are pure integer arithmetic — fully replayed
    // by the oracle.
    "q111_langid_trained" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val profiles = LangId.trainProfiles(docs, "lang", "text", topK = 40)
      LangId.predict(docs, "doc_id", "text", profiles)
        .join(docs.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
        .select(col("doc_id"), col("true_lang"), col("pred_lang"), col("hits"),
          (col("pred_lang") === col("true_lang")).as("correct"))
        .orderBy("doc_id")
    },

    // In-document repetition metrics (self-repetition, zero-shuffle):
    // duplicate-line fraction + duplicate-line char fraction over a corpus
    // dirtied with repeated-line tails by doc_id mod 3.
    "q113_repetition_flags" -> { (s, dir) =>
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\nrepeat me\nrepeat me\nrepeat me"))
            .when(col("doc_id") % 3 === 1, lit("\nalpha line\nbeta line"))
            .otherwise(lit(""))).as("text"))
      val flags = Text.repetitionFlags(col("text"))
      dirty.select(col("doc_id"), flags.as("r"))
        .select(col("doc_id"), col("r.*"))
        .orderBy("doc_id")
    },

    // Per-doc contamination fraction vs the eval slice (doc_id % 50 = 0):
    // the graded decontamination verdict — share of each train doc's
    // distinct 3-grams present anywhere in the eval suite.
    "q121_contamination_frac" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.contaminationFraction(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Fill-in-the-middle (PSM) transform for code-model training: two
    // mix2-derived cut points, exact high-bits scaling, one zero-shuffle
    // projection.
    "q125_fim_transform" -> { (s, dir) =>
      graft.operators.Packing.fimTransform(
          Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // T5-style span corruption: deterministic mix2 block masks, sentinel
    // numbering by in-row prefix count — (input, target) example pairs as
    // one zero-shuffle projection.
    "q119_span_corrupt" -> { (s, dir) =>
      graft.operators.Packing.spanCorrupt(
          Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // Epoch-aware mixture expansion (the LLaMA/Pile repeat schedule):
    // src0 repeats 2.5x, src1 downsamples to 0.4, src2 drops, src3 runs 3
    // full epochs, everything else 1.0. Zero-shuffle hash-threshold
    // selection for the fractional epoch (a rate, not a quota).
    "q147_epoch_mix" -> { (s, dir) =>
      graft.operators.Packing.epochMix(
          Tables.documents(s, dir).select("doc_id", "source"),
          col("doc_id"), col("source"), EpochMixEpochs)
        .orderBy("doc_id", "copy_idx")
    },

    // Training-order export capstone — the full §2.13 "mixture to token
    // stream" path in ONE audited composition: epochMix expands the corpus
    // by the repeat schedule (q147), deterministicShuffle permutes the
    // (doc, copy) stream (composite cid = doc_id*4 + copy_idx, so every
    // copy shuffles independently), packSequences cuts the token stream
    // into 512-token training examples along that order, shardAssign
    // spreads packs across 8 output shards — and the report is the
    // per-shard manifest (packs / rows / tokens / bytes) a trainer's
    // loader validates against. Stage populations check end-to-end: Σ
    // n_rows = the epoch-expanded corpus, Σ n_tokens = its token count.
    // Plan: one zero-shuffle epoch expansion, one bucketed-cumsum pack
    // pass (no single-partition window), one pack-table-sized shard
    // window — bounded shuffles, each keyed on its stage's natural key.
    "q159_training_order" -> { (s, dir) =>
      import graft.operators.Packing
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_bytes"))
      val mixed = Packing.epochMix(docs, col("doc_id"), col("source"), EpochMixEpochs)
        .withColumn("cid", col("doc_id") * 4L + col("copy_idx"))
      val order = Packing.deterministicShuffle(mixed.select("cid"), col("cid"),
        seed = 42L)
      val ordered = mixed.join(order, "cid")
      val packed = Packing.packSequences(ordered, col("shuffle_pos"),
        col("n_tokens"), capacity = 512L, idBucketSize = 64L)
      val packs = packed.groupBy(col("pack_id")).agg(
        count(lit(1)).as("pn_rows"), sum("n_tokens").as("pn_tokens"),
        sum("n_bytes").as("pn_bytes"))
      Packing.shardAssign(packs, col("pack_id"), numShards = 8)
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_packs"), sum("pn_rows").as("n_rows"),
          sum("pn_tokens").as("n_tokens"), sum("pn_bytes").as("n_bytes"))
        .orderBy("shard")
    },

    // Temperature-scaled (sqrt, tau=0.5) language mixture: quotas derive
    // from OBSERVED language counts via largest-remainder apportionment —
    // the multilingual re-balancing move, data-driven yet exact.
    "q117_temperature_mix" -> { (s, dir) =>
      graft.operators.Packing.temperatureMix(
          Tables.documents(s, dir).select("doc_id", "lang"),
          col("doc_id"), col("lang"), total = 100)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")
    },

    // N-gram diversity report per source — the diversity-collapse canary
    // (templated/boilerplate sources show high token counts but collapsing
    // distinct-trigram ratios): type-token ratio + distinct-trigram ratio,
    // exact counts, one division each. Trigrams use Dedup.shingles'
    // semantics (docs under 3 tokens contribute their whole text as one
    // gram — the q29 fallback, mirrored in the oracle).
    "q118_diversity_report" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("source"),
        explode(Text.tokens(col("text"))).as("tok"))
      val tokAgg = toks.groupBy("source").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("distinct_tokens"))
      val grams = docs.select(col("source"),
        explode(Dedup.shingles(col("text"), 3)).as("gram"))
      val gramAgg = grams.groupBy("source").agg(
        count(lit(1)).as("n_3grams"),
        countDistinct(col("gram")).as("distinct_3grams"))
      val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
        graft.functions.Rounding.roundLikeC(
          num.cast("double") / den.cast("double"), 4) + lit(0.0)
      nDocs.join(tokAgg, "source").join(gramAgg, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("distinct_tokens"), col("n_3grams"), col("distinct_3grams"),
          ratio(col("distinct_tokens"), col("n_tokens")).as("type_token_ratio"),
          ratio(col("distinct_3grams"), col("n_3grams")).as("trigram_diversity"))
        .orderBy("source")
    },

    // Corpus snapshot diff (crawl-over-crawl versioning): v2 synthesized
    // deterministically from v1 — drops (mod 3), edits (mod 5), additions
    // (mod 7) — then per-doc added/removed/changed/unchanged + token delta.
    // Dataset fingerprint: the per-source reproducibility manifest — doc/
    // token/char totals + the order-invariant content hash (commutative
    // exact-integer sum of the portable poly hash of each normalized md5
    // fingerprint).
    "q151_dataset_fingerprint" -> { (s, dir) =>
      // the manifest keeps the exact DECIMAL hash; the oracle boundary
      // compares it as double (the q122 convention — exact below 2^53,
      // far above any test SF's hash mass)
      graft.operators.Curate.datasetFingerprint(
          Tables.documents(s, dir).select("source", "text"), "text", "source")
        .withColumn("content_hash", col("content_hash").cast("double"))
        .orderBy("source")
    },

    // q151's TIME-TRAVEL twin: the fingerprint names a corpus state;
    // versioned manifests make it recoverable. Two commits (v1 = the
    // on-time slice; v2 = append of the rest — v2 reuses v1's files by
    // reference, never rewriting them), then the q151 fingerprint of each
    // version read back through its pinned manifest. The oracle recomputes
    // both versions' fingerprints from the raw slices — manifest reads
    // must be exactly the data each version committed.
    "q210_snapshot_versions" -> { (s, dir) =>
      val snap = PrepQueries.scratchTempDir("graft_q210_")
      val vs = graft.etl.VersionedSnapshot
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      vs.commit(s, docs.filter(col("doc_id") % 3 =!= 0), snap)
      vs.commitAppend(s, docs.filter(col("doc_id") % 3 === 0), snap)
      Seq(1L, 2L).map { v =>
        graft.operators.Curate.datasetFingerprint(
            vs.readAt(s, snap, v).select("source", "text"), "text", "source")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .withColumn("content_hash", col("content_hash").cast("double"))
        .select("version", "source", "n_docs", "n_tokens", "n_chars",
          "content_hash")
        .orderBy("version", "source")
    },

    // Cross-source overlap matrix: pairwise distinct-trigram Jaccard over
    // every source pair — the between-source leakage/diversity diagnostic
    // (q118 is the within-source axis). All 190 pairs, zero-overlap rows
    // included.
    "q149_source_overlap" -> { (s, dir) =>
      graft.operators.Curate.sourceOverlapMatrix(
          Tables.documents(s, dir).select("source", "text"), "source", "text")
        .orderBy("source_a", "source_b")
    },

    // Distribution drift between snapshots (the retrain-gate monitor):
    // q116's v2 evolution WITH the source column retained; per source the
    // report carries token totals, type movement, the exact-integer-folded
    // total-variation distance, and the most-drifted token.
    "q146_token_drift" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      val v2 = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" updated revision content")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 500000L).as("doc_id"), col("source"),
            concat(lit("new document "), col("doc_id").cast("string"),
              lit(" about spark pipelines")).as("text")))
      graft.operators.Curate.tokenDriftReport(docs, v2, "source", "text")
        .orderBy("source")
    },

    "q116_corpus_diff" -> { (s, dir) =>
      val v1 = Tables.documents(s, dir).select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" updated revision content")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 500000L).as("doc_id"),
            concat(lit("new document "), col("doc_id").cast("string"),
              lit(" about spark pipelines")).as("text")))
      graft.operators.Curate.corpusDiff(v1, v2, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Per-source PII-density audit (the scrub-gate report a corpus release
    // runs BEFORE redaction): email/phone counts per kilotoken by source,
    // over a corpus dirtied with deterministic PII by doc_id mod 7.
    "q115_pii_density" -> { (s, dir) =>
      val dirty = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com for details")))
            .when(col("doc_id") % 7 === 1,
              lit(" call 555-123-4567 or 800-555-1212 today"))
            .when(col("doc_id") % 7 === 2, lit(" account 12345678 ref 98765432"))
            .otherwise(lit(""))).as("text"))
      val perDoc = dirty.select(col("source"),
        graft.functions.Pii.emailCount(col("text")).as("e"),
        graft.functions.Pii.phoneCount(col("text")).as("p"),
        Text.tokenCount(col("text")).cast("long").as("t"))
      def perKt(n: org.apache.spark.sql.Column) =
        graft.functions.Rounding.roundLikeC(
          lit(1000.0) * n.cast("double") / col("n_tokens").cast("double"), 4) + lit(0.0)
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("e")).as("n_emails"), sum(col("p")).as("n_phones"),
          sum(col("t")).as("n_tokens"),
          sum(when(col("e") + col("p") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
        .select(col("source"), col("n_docs"), col("n_emails"), col("n_phones"),
          col("n_tokens"), col("docs_with_pii"),
          perKt(col("n_emails")).as("emails_per_kilotoken"),
          perKt(col("n_phones")).as("phones_per_kilotoken"))
        .orderBy("source")
    },

    // Tokenizer-family fertility comparison (the q112 report shape, one
    // row per tokenizer × source): the q109 BPE merges vs the q211
    // unigram-LM vocabulary segmenting the SAME word table — the eval a
    // team runs before picking a tokenizer (unigram's pruning keeps whole
    // frequent substrings, so its fertility floor differs from BPE's
    // merge-reachable set).
    "q212_unigram_fertility" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val srcw = docs.select(col("source"),
        explode(Text.tokens(col("text"))).as("w"))
      // ONE corpus word-count pass shared by both trainers (bpeTrain and
      // unigramTrain each derived it internally — a second full
      // tokenize+count of the corpus for identical rows), and the distinct
      // word table pinned once for its two segmenter consumers
      val wc = Vocab.wordCounts(docs, "text").localCheckpoint()
      val distinctW = srcw.select("w").distinct().localCheckpoint()
      // The two trainer loops are INDEPENDENT driver-collect chains off the
      // pinned word counts (they only meet in the final union) — overlap
      // them from two driver threads (guide §2.6: actions are sequential
      // only because the driver calls them sequentially), so the query's
      // serial job-floor latency is max(bpe, unigram) instead of the sum.
      // Both results are deterministic; thread scheduling cannot reorder
      // either loop's internal rounds. Pool threads do not inherit the
      // caller's job group, tags and description, so each future sets them
      // again (cancellation and attribution reach its jobs) and clears them
      // after; the zipped await fails fast, so the first failure surfaces
      // at once, not after the other trainer finishes.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val sc = s.sparkContext
      val props = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel", "spark.job.tags")
        .map(k => k -> sc.getLocalProperty(k))
      def inCallerJobGroup[A](body: => A): Future[A] = Future {
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        try body finally props.foreach { case (k, _) => sc.setLocalProperty(k, null) }
      }
      val mergesF = inCallerJobGroup {
        Vocab.bpeTrainFromCounts(wc, numMerges = 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      val uniSegsF = inCallerJobGroup {
        val uniVocab = Vocab.unigramTrainFromCounts(wc).select("piece")
        Vocab.unigramSegment(distinctW, uniVocab, 4)
          .select(col("w"), size(col("segs")).as("nseg"))
      }
      val (merges, uniSegs) =
        Await.result(mergesF.zip(uniSegsF), 30.minutes)
      val bpeSegs = distinctW.select(col("w"),
        size(Vocab.bpeApply(Vocab.charSyms(col("w")), merges)).as("nseg"))
      def fert(segs: org.apache.spark.sql.DataFrame, tag: String) =
        srcw.join(broadcast(segs), "w")
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("n_tokens"))
          .select(lit(tag).as("tokenizer"), col("source"), col("n_words"),
            col("n_tokens"),
            graft.functions.Rounding.roundLikeC(
              col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
              .as("fertility"))
      fert(bpeSegs, "bpe").unionByName(fert(uniSegs, "unigram"))
        .orderBy("tokenizer", "source")
    },

    // Tokenizer fertility report (tokens-per-word by source) with the q109
    // trained merges: vocabulary-level segment counts broadcast over the
    // (source, word) occurrences — the tokenizer-eval metric teams track.
    "q112_bpe_fertility" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = Vocab.bpeTrain(docs, "text", numMerges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val srcw = docs.select(col("source"),
        explode(Text.tokens(col("text"))).as("w"))
      val vocabSegs = srcw.select("w").distinct()
        .select(col("w"),
          size(Vocab.bpeApply(Vocab.charSyms(col("w")), merges)).as("nseg"))
      srcw.join(broadcast(vocabSegs), "w")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("n_tokens"))
        .select(col("source"), col("n_words"), col("n_tokens"),
          graft.functions.Rounding.roundLikeC(
            col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
            .as("fertility"))
        .orderBy("source")
    }
  )

  def rowsOnly: Set[String] = Set.empty

  /** The messyDocs fixture as a DuckDB CTE (shared by q107/q128/q131). */
  private def messySql: String = {
    val bulletSql = BulletTail.replace("\n", "\\n")
    val ellipsisSql = EllipsisTail.replace("\n", "\\n")
    s"""messy AS (
       |  SELECT doc_id, text || CASE
       |    WHEN doc_id % 5 = 0 THEN e'$bulletSql'
       |    WHEN doc_id % 5 = 1 THEN e'$ellipsisSql'
       |    WHEN doc_id % 5 = 2 THEN '$HashTail'
       |    WHEN doc_id % 5 = 3 THEN '$DigitTail'
       |    ELSE '' END AS t
       |  FROM documents)""".stripMargin
  }

  /** The tokenization CTEs shared by every NB chain instantiation:
    * `lab(doc_id, t, y)`, `tk(doc_id, y, w)`, `toks(doc_id, pos, tok)`. */
  private def nbSharedSql: String =
    """lab AS (SELECT doc_id, t, (doc_id % 5) <> 4 AS y FROM messy),
      |tk AS (
      |  SELECT doc_id, y, list_filter(string_split_regex(trim(t), '\s+'), x -> x <> '') AS w
      |  FROM lab),
      |toks AS (
      |  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS tok
      |  FROM tk, unnest(range(1, len(w) + 1)) AS i(i))""".stripMargin

  /** One NB train+score chain over the shared tokenization, name-prefixed
    * so q203 instantiates TWO training slices in one oracle; ends in
    * `<p>sc(doc_id, label, odds)`. */
  private def nbChainSqlOn(p: String, trainWhere: String): String =
    s"""${p}ttoks AS (SELECT y, unnest(w) AS tok FROM tk WHERE $trainWhere),
       |${p}cnt AS (
       |  SELECT tok, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
       |         SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS c_neg
       |  FROM ${p}ttoks GROUP BY tok),
       |${p}ts AS (SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg, COUNT(*) AS v FROM ${p}cnt),
       |${p}ds AS (
       |  SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS d_pos,
       |         SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS d_neg
       |  FROM tk WHERE $trainWhere),
       |${p}lp AS (
       |  SELECT toks.doc_id, toks.pos,
       |         ln((COALESCE(c.c_pos, 0) + 1)::DOUBLE / (s.n_pos + s.v)::DOUBLE) AS lpp,
       |         ln((COALESCE(c.c_neg, 0) + 1)::DOUBLE / (s.n_neg + s.v)::DOUBLE) AS lpn
       |  FROM toks LEFT JOIN ${p}cnt c USING (tok) CROSS JOIN ${p}ts s),
       |${p}ag AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(0.0, list(lpp ORDER BY pos)), (a, x) -> a + x) AS spos,
       |         list_reduce(list_prepend(0.0, list(lpn ORDER BY pos)), (a, x) -> a + x) AS sneg
       |  FROM ${p}lp GROUP BY doc_id),
       |${p}sc AS (
       |  SELECT l.doc_id, l.y AS label,
       |         ln(d.d_pos::DOUBLE / d.d_neg::DOUBLE)
       |           + COALESCE(a.spos, 0.0) - COALESCE(a.sneg, 0.0) AS odds
       |  FROM lab l LEFT JOIN ${p}ag a USING (doc_id) CROSS JOIN ${p}ds d)""".stripMargin

  /** [[Classify.naiveBayes]] replay as a CTE chain ending in `sc(doc_id,
    * label, odds)` — labels from the messyDocs rule, training slice
    * doc_id % 3 == 0, add-one smoothing, position-ordered ln folds.
    * Shared by the q128 prediction table and the q131 report. */
  private def nbChainSql: String =
    nbSharedSql + ",\n" + nbChainSqlOn("", "doc_id % 3 = 0")

  /** The q130 Kneser-Ney train+score CTE chain (WITH ... agg), shared by
    * the q130 prediction table and q135's curriculum ordering. */
  private val KnChainSql: String =
    """WITH docs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, i.i AS pos, toks[i.i] AS w1, toks[i.i+1] AS w2, toks[i.i+2] AS w3
      |  FROM docs, unnest(range(1, len(toks) - 1)) AS i(i)),
      |tc AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri GROUP BY w1, w2, w3),
      |cx AS (SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS n12dot FROM tc GROUP BY w1, w2),
      |bt AS (SELECT w2, w3, COUNT(*) AS t23 FROM tc GROUP BY w2, w3),
      |w2s AS (SELECT w2, SUM(t23) AS ctx2, COUNT(*) AS n2dot FROM bt GROUP BY w2),
      |w3s AS (SELECT w3, COUNT(*) AS n_dot3 FROM bt GROUP BY w3),
      |tot AS (SELECT COUNT(*) AS n_tot FROM bt),
      |nlls AS (
      |  SELECT t.doc_id, t.pos,
      |    -ln(
      |      (tc.c123::DOUBLE - 0.75) / cx.c12::DOUBLE
      |      + (0.75 * cx.n12dot::DOUBLE / cx.c12::DOUBLE) *
      |        ((bt.t23::DOUBLE - 0.75) / w2s.ctx2::DOUBLE
      |         + (0.75 * w2s.n2dot::DOUBLE / w2s.ctx2::DOUBLE) *
      |           (w3s.n_dot3::DOUBLE / tt.n_tot::DOUBLE))
      |    ) AS nll
      |  FROM tri t
      |  JOIN tc USING (w1, w2, w3)
      |  JOIN cx ON cx.w1 = t.w1 AND cx.w2 = t.w2
      |  JOIN bt ON bt.w2 = t.w2 AND bt.w3 = t.w3
      |  JOIN w2s ON w2s.w2 = t.w2
      |  JOIN w3s ON w3s.w3 = t.w3
      |  CROSS JOIN tot tt),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_trigrams,
      |         ROUND(list_reduce(list_prepend(0.0, list(nll ORDER BY pos)),
      |                           (a, x) -> a + x) / COUNT(*), 4) + 0.0 AS avg_nll
      |  FROM nlls GROUP BY doc_id)""".stripMargin

  /** DuckDB twins. String literals with newlines use e'...' escapes. */
  /** One incremental-funnel batch as a DuckDB CTE block (the q129 stage
    * chain, suffixed `_$k`): exact dedup vs `$fpIdx`, span dedup vs
    * `$spIdx` ∪ within-batch repeats, the FROZEN `thr` quality floor, and
    * `evg` decontamination. Emitted without margin bars — interpolated
    * into stripMargin oracles as-is. q137 chains two of these with the
    * advanced index CTEs in between. */
  private def incrBatchCtes(k: String, batch: String, fpIdx: String,
                            spIdx: String): String =
    s"""bfp_$k AS (SELECT doc_id, text, lang, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f FROM $batch),
b1a_$k AS (SELECT doc_id, text, lang, f FROM bfp_$k QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1),
b1_$k AS (SELECT doc_id, text, lang FROM b1a_$k WHERE f NOT IN (SELECT f FROM $fpIdx)),
btw_$k AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM b1_$k),
bsp_$k AS (
  SELECT DISTINCT doc_id, md5(array_to_string(w[ci*20+1 : ci*20+20], ' ')) AS p
  FROM (SELECT doc_id, w, unnest(range(0, ((len(w)-1)//20)+1)) AS ci
        FROM btw_$k WHERE len(w) > 0)),
bdf_$k AS (SELECT p, count(*) AS n FROM bsp_$k GROUP BY p),
fr_$k AS (
  SELECT bsp_$k.doc_id,
         SUM(CASE WHEN bdf_$k.n >= 2 OR bsp_$k.p IN (SELECT p FROM $spIdx) THEN 1 ELSE 0 END)::DOUBLE
           / COUNT(*) AS frac
  FROM bsp_$k JOIN bdf_$k USING (p) GROUP BY bsp_$k.doc_id),
b2_$k AS (
  SELECT b1_$k.* FROM b1_$k LEFT JOIN fr_$k USING (doc_id)
  WHERE fr_$k.frac IS NULL OR fr_$k.frac < 0.5),
bqt_$k AS (
  SELECT doc_id, text, lang, length(text) AS n_chars,
         length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')) AS n_punct,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM b2_$k),
bq_$k AS (
  SELECT doc_id, text, lang,
         ROUND(LEAST(CAST(n_chars AS DOUBLE)/500.0, 1.0)*0.4
               + (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END)*0.4
               + (1.0 - ABS(CASE WHEN len(toks) > 0
                                 THEN CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)/len(toks)
                                 ELSE 0.0 END - 0.1))*0.2, 4) AS q
  FROM bqt_$k),
b3_$k AS (
  SELECT doc_id, text, lang FROM bq_$k LEFT JOIN thr USING (lang)
  WHERE q_min IS NULL OR q >= q_min),
bg_$k AS (
  SELECT DISTINCT doc_id AS id, unnest(list_distinct(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [array_to_string(toks, ' ')] END)) AS gram
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks FROM b3_$k)),
bad_$k AS (SELECT DISTINCT b.id FROM bg_$k b JOIN evg e USING (gram)),
b4_$k AS (SELECT * FROM b3_$k WHERE doc_id NOT IN (SELECT id FROM bad_$k))"""

  /** One incremental repeated-span batch as a DuckDB CTE block (the q134
    * chain, suffixed `_$k`): token hashes → gram-hash pairs → batch-unique
    * occurrences → anti-join vs `$idx` → cover/islands/spans → per-doc
    * report `out_$k`. q139 chains two with the survivor-gram index advance
    * in between. Emitted without margin bars. */
  private def spanBatchCtes(k: String, batch: String, idx: String): String =
    s"""t_$k AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM $batch),
th_$k AS (
  SELECT doc_id,
    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
      (acc, x) -> (acc * 31 + x) % 1000000007)) AS t1,
    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
      (acc, x) -> (acc * 131 + x) % 1000000007)) AS t2
  FROM t_$k),
gh_$k AS (
  SELECT doc_id, i.i - 1 AS p,
         list_reduce(list_prepend(0::BIGINT, t1[i.i : i.i + 7]),
           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS gh1,
         list_reduce(list_prepend(0::BIGINT, t2[i.i : i.i + 7]),
           (acc, x) -> (acc * 999983 + x) % 1000000007) AS gh2
  FROM th_$k, unnest(range(1, len(t1) - 6)) AS i(i)),
uniqb_$k AS (
  SELECT gh1, gh2, min(doc_id) AS doc_id, min(p) AS p
  FROM gh_$k GROUP BY gh1, gh2 HAVING COUNT(*) = 1),
fresh_$k AS (
  SELECT doc_id, p FROM uniqb_$k
  ANTI JOIN $idx USING (gh1, gh2)),
rep_$k AS (SELECT doc_id, p FROM gh_$k ANTI JOIN fresh_$k USING (doc_id, p)),
cov_$k AS (
  SELECT DISTINCT doc_id, p + j.j AS pos
  FROM rep_$k, unnest(range(0, 8)) AS j(j)),
isl_$k AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM cov_$k),
spans_$k AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
  FROM isl_$k GROUP BY doc_id, grp),
sa_$k AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_repeated
  FROM spans_$k GROUP BY doc_id),
toks_$k AS (
  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS tok
  FROM t_$k, unnest(range(1, len(w) + 1)) AS i(i)),
keep_$k AS (SELECT doc_id, pos, tok FROM toks_$k ANTI JOIN cov_$k USING (doc_id, pos)),
cl_$k AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
  FROM keep_$k GROUP BY doc_id),
out_$k AS (
  SELECT t_$k.doc_id, len(t_$k.w)::BIGINT AS n_tokens,
    COALESCE(sa_$k.n_spans, 0)::BIGINT AS n_spans,
    COALESCE(sa_$k.n_repeated, 0)::BIGINT AS n_repeated_tokens,
    ROUND(COALESCE(sa_$k.n_repeated, 0)::DOUBLE / GREATEST(len(t_$k.w), 1), 4) + 0.0 AS repeated_frac,
    COALESCE(cl_$k.cleaned, '') AS cleaned_text
  FROM t_$k LEFT JOIN sa_$k USING (doc_id) LEFT JOIN cl_$k USING (doc_id))"""

  /** One incremental fuzzy-dedup batch as a DuckDB CTE block (the q132
    * chain, suffixed `_$k`), reading the SHARED signature CTEs (`banded`,
    * `toksd`, `sizes` over all docs): probe `$idx` → exact-Jaccard verify
    * → min-seen-id precedence → within-batch closure → `out_$k`
    * (doc_id, dup_of, kept). `$idx` must carry (seen_id, band, bucket),
    * already hub-capped. q138 chains two with the survivor-band advance. */
  private def fuzzyBatchCtes(k: String, srcTag: String, idx: String): String =
    s"""cands_$k AS (
  SELECT DISTINCT b.id AS id_a, s.seen_id AS id_b
  FROM (SELECT id, band, bucket FROM banded WHERE src = '$srcTag') b
  JOIN $idx s USING (band, bucket)),
inter_$k AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cands_$k c
  JOIN toksd a ON a.id = c.id_a
  JOIN toksd b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b),
vseen_$k AS (
  SELECT id_a, id_b FROM inter_$k
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(CAST(n_common AS DOUBLE)/(sa.n + sb.n - n_common), 4) >= 0.8),
dupseen_$k AS (SELECT id_a AS doc_id, MIN(id_b) AS dup_of FROM vseen_$k GROUP BY id_a),
rest_$k AS (
  SELECT id FROM t WHERE src = '$srcTag'
    AND id NOT IN (SELECT doc_id FROM dupseen_$k)),
kept2_$k AS (
  SELECT id, band, bucket FROM (
    SELECT banded.id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
    FROM banded JOIN rest_$k USING (id))
  WHERE bsz BETWEEN 2 AND 1000),
cand2_$k AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept2_$k a JOIN kept2_$k b USING (band, bucket)
  WHERE a.id < b.id),
inter2_$k AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand2_$k c
  JOIN toksd a ON a.id = c.id_a
  JOIN toksd b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b),
pairs2_$k AS (
  SELECT id_a, id_b FROM inter2_$k
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(CAST(n_common AS DOUBLE)/(sa.n + sb.n - n_common), 4) >= 0.8),
edges_$k AS (
  SELECT id_a AS src, id_b AS dst FROM pairs2_$k
  UNION
  SELECT id_b, id_a FROM pairs2_$k),
reach_$k(id, r) AS (
  SELECT id, id FROM rest_$k
  UNION
  SELECT reach_$k.id, e.dst FROM reach_$k JOIN edges_$k e ON reach_$k.r = e.src),
within_$k AS (
  SELECT id AS doc_id, MIN(r) AS dup_of, MIN(r) = id AS kept
  FROM reach_$k GROUP BY id),
out_$k AS (
  SELECT doc_id, dup_of, FALSE AS kept FROM dupseen_$k
  UNION ALL SELECT doc_id, dup_of, kept FROM within_$k)"""

  def oracleSql: Map[String, String] = Map(

    // q142: q25's quality formula per doc, per-source DECIMAL stats (the
    // q100 parity convention), gate compared on the exact scaled sum.
    "q142_domain_quality_gate" ->
      """WITH t AS (
        |  SELECT doc_id, source, length(text) AS n_chars,
        |         length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS n_punct,
        |         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END AS pr,
        |         CASE WHEN len(toks) > 0
        |              THEN CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)/len(toks)
        |              ELSE 0.0 END AS sr,
        |         n_chars
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source,
        |         ROUND(LEAST(CAST(n_chars AS DOUBLE)/500.0, 1.0)*0.4
        |               + (1.0 - pr)*0.4 + (1.0 - ABS(sr - 0.1))*0.2, 4) AS quality
        |  FROM r),
        |s AS (
        |  SELECT source, COUNT(*) AS domain_docs,
        |         SUM(CAST(quality AS DECIMAL(18,4))) AS qsum
        |  FROM q GROUP BY source)
        |SELECT q.doc_id, q.source, q.quality, s.domain_docs,
        |       ROUND(CAST(s.qsum AS DOUBLE) / s.domain_docs, 4) AS domain_mean_quality,
        |       s.qsum * 10000 >= 8250 * s.domain_docs AS kept
        |FROM q JOIN s USING (source)
        |ORDER BY doc_id""".stripMargin,

    // q134: the q127 chain with the seen-gram index CTE — covered iff
    // gram ∈ seen index OR batch count ≥ 2 (df==1 identity inverted).
    "q134_repeated_spans_incremental" ->
      """WITH seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 350),
        |st AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM seen),
        |sth AS (
        |  SELECT list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
        |           list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)) AS t1,
        |         list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
        |           list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
        |           (acc, x) -> (acc * 131 + x) % 1000000007)) AS t2
        |  FROM st),
        |sidx AS (
        |  SELECT DISTINCT
        |         list_reduce(list_prepend(0::BIGINT, t1[i.i : i.i + 7]),
        |           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS gh1,
        |         list_reduce(list_prepend(0::BIGINT, t2[i.i : i.i + 7]),
        |           (acc, x) -> (acc * 999983 + x) % 1000000007) AS gh2
        |  FROM sth, unnest(range(1, len(t1) - 6)) AS i(i)),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 350
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         array_to_string(w[1:16], ' ')
        |           || ' zfresha' || doc_id || ' zfreshb' || doc_id || ' zfreshc' || doc_id
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |        FROM documents WHERE doc_id < 30)
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' ' || text
        |  FROM documents WHERE doc_id >= 350 AND doc_id < 360),
        |t AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM batch),
        |th AS (
        |  SELECT doc_id,
        |    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
        |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS t1,
        |    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
        |      (acc, x) -> (acc * 131 + x) % 1000000007)) AS t2
        |  FROM t),
        |gh AS (
        |  SELECT doc_id, i.i - 1 AS p,
        |         list_reduce(list_prepend(0::BIGINT, t1[i.i : i.i + 7]),
        |           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS gh1,
        |         list_reduce(list_prepend(0::BIGINT, t2[i.i : i.i + 7]),
        |           (acc, x) -> (acc * 999983 + x) % 1000000007) AS gh2
        |  FROM th, unnest(range(1, len(t1) - 6)) AS i(i)),
        |uniqb AS (
        |  SELECT gh1, gh2, min(doc_id) AS doc_id, min(p) AS p
        |  FROM gh GROUP BY gh1, gh2 HAVING COUNT(*) = 1),
        |fresh AS (
        |  SELECT doc_id, p FROM uniqb
        |  ANTI JOIN sidx USING (gh1, gh2)),
        |rep AS (SELECT doc_id, p FROM gh ANTI JOIN fresh USING (doc_id, p)),
        |cov AS (
        |  SELECT DISTINCT doc_id, p + j.j AS pos
        |  FROM rep, unnest(range(0, 8)) AS j(j)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM cov),
        |spans AS (
        |  SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
        |  FROM isl GROUP BY doc_id, grp),
        |sa AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_repeated
        |  FROM spans GROUP BY doc_id),
        |toks AS (
        |  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS tok
        |  FROM t, unnest(range(1, len(w) + 1)) AS i(i)),
        |keep AS (SELECT doc_id, pos, tok FROM toks ANTI JOIN cov USING (doc_id, pos)),
        |cl AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
        |  COALESCE(sa.n_spans, 0)::BIGINT AS n_spans,
        |  COALESCE(sa.n_repeated, 0)::BIGINT AS n_repeated_tokens,
        |  ROUND(COALESCE(sa.n_repeated, 0)::DOUBLE / GREATEST(len(t.w), 1), 4) + 0.0 AS repeated_frac,
        |  COALESCE(cl.cleaned, '') AS cleaned_text
        |FROM t LEFT JOIN sa USING (doc_id) LEFT JOIN cl USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // q133: candidate extraction (identical greedy single-branch pattern in
    // both regex engines), the Luhn fold over range-indexed reversed digits,
    // and the occurrence-order replace fold.
    "q133_card_redaction" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || CASE
        |    WHEN doc_id % 4 = 0 THEN ' card 4539 1488 0343 6467 on file'
        |    WHEN doc_id % 4 = 1 THEN ' ref 1234 5678 9012 3456 order'
        |    WHEN doc_id % 4 = 2 THEN ' id 4539148803436468 x'
        |    ELSE '' END AS text
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}') AS cands
        |  FROM dirty),
        |v AS (
        |  SELECT doc_id, text, cands,
        |    list_filter(cands, s ->
        |      list_reduce(list_prepend(0,
        |        list_transform(range(1, length(regexp_replace(s, '[^0-9]', '', 'g')) + 1),
        |          i -> CASE WHEN i % 2 = 0
        |                    THEN CASE WHEN 2*(ascii(substr(reverse(regexp_replace(s, '[^0-9]', '', 'g')), i, 1)) - 48) > 9
        |                              THEN 2*(ascii(substr(reverse(regexp_replace(s, '[^0-9]', '', 'g')), i, 1)) - 48) - 9
        |                              ELSE 2*(ascii(substr(reverse(regexp_replace(s, '[^0-9]', '', 'g')), i, 1)) - 48) END
        |                    ELSE ascii(substr(reverse(regexp_replace(s, '[^0-9]', '', 'g')), i, 1)) - 48 END)),
        |        (a, x) -> a + x) % 10 = 0) AS valid
        |  FROM cand)
        |SELECT doc_id,
        |  len(cands)::INT AS n_candidates,
        |  len(valid)::INT AS n_valid,
        |  list_reduce(list_prepend(text, valid), (acc, card) -> replace(acc, card, '<CARD>')) AS redacted
        |FROM v ORDER BY doc_id""".stripMargin,

    // q132: q72's signature/banding chain over seen ∪ batch, the seen-side
    // hub-cap window over SEEN rows only, q28's verification arithmetic,
    // min-seen-id precedence, then q108's within-batch chain (bucket gate
    // over REST rows only) with the recursive closure.
    "q132_fuzzy_dedup_incremental" ->
      """WITH RECURSIVE seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text || ' nearly duplicated tail tokens' AS text
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 350
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' nearly duplicated tail tokens'
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 320),
        |allc AS (
        |  SELECT doc_id, text, TRUE AS is_seen FROM seen
        |  UNION ALL SELECT doc_id, text, FALSE FROM batch),
        |t AS (
        |  SELECT doc_id AS id, is_seen,
        |         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM allc),
        |sh AS (
        |  SELECT id, is_seen, CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t),
        |hv AS (
        |  SELECT id, is_seen, list_transform(sh, g -> list_reduce(
        |      list_prepend(0::BIGINT, list_transform(range(1, length(g)+1), i -> ascii(substr(g,i,1))::BIGINT)),
        |      (acc,x) -> (acc*31+x) % 1000000007)) AS hv
        |  FROM sh),
        |fams AS (
        |  SELECT j,
        |    ((((42*131 + 2*j) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 + 1 AS a,
        |    ((((42*131 + 2*j + 1) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 AS b
        |  FROM (SELECT unnest(range(32)) AS j)),
        |mins AS (
        |  SELECT hv.id, hv.is_seen, f.j, MIN((f.a * h.h + f.b) % 4294967311) AS mn
        |  FROM hv, unnest(hv.hv) AS h(h), fams f
        |  GROUP BY hv.id, hv.is_seen, f.j),
        |sigs AS (
        |  SELECT id, is_seen, list(mn ORDER BY j) AS sig FROM mins GROUP BY id, is_seen),
        |banded AS (
        |  SELECT id, is_seen, b.band,
        |         list_reduce(list_prepend(0::BIGINT, sig[b.band*4+1 : b.band*4+4]),
        |                     (acc,x) -> (acc*31+x) % 1000000007) AS bucket
        |  FROM sigs, (SELECT unnest(range(8)) AS band) b),
        |seenb AS (
        |  SELECT id AS seen_id, band, bucket FROM (
        |    SELECT id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
        |    FROM banded WHERE is_seen)
        |  WHERE bsz <= 1000),
        |cands AS (
        |  SELECT DISTINCT b.id AS id_a, s.seen_id AS id_b
        |  FROM (SELECT id, band, bucket FROM banded WHERE NOT is_seen) b
        |  JOIN seenb s USING (band, bucket)),
        |toksd AS (SELECT DISTINCT id, unnest(toks) AS tok FROM t),
        |sizes AS (SELECT id, COUNT(*) AS n FROM toksd GROUP BY id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        |  FROM cands c
        |  JOIN toksd a ON a.id = c.id_a
        |  JOIN toksd b ON b.id = c.id_b AND b.tok = a.tok
        |  GROUP BY c.id_a, c.id_b),
        |vseen AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b
        |  WHERE ROUND(CAST(n_common AS DOUBLE)/(sa.n + sb.n - n_common), 4) >= 0.8),
        |dupseen AS (SELECT id_a AS doc_id, MIN(id_b) AS dup_of FROM vseen GROUP BY id_a),
        |rest AS (
        |  SELECT id FROM t WHERE NOT is_seen
        |    AND id NOT IN (SELECT doc_id FROM dupseen)),
        |kept2 AS (
        |  SELECT id, band, bucket FROM (
        |    SELECT banded.id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
        |    FROM banded JOIN rest USING (id))
        |  WHERE bsz BETWEEN 2 AND 1000),
        |cand2 AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM kept2 a JOIN kept2 b USING (band, bucket)
        |  WHERE a.id < b.id),
        |inter2 AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        |  FROM cand2 c
        |  JOIN toksd a ON a.id = c.id_a
        |  JOIN toksd b ON b.id = c.id_b AND b.tok = a.tok
        |  GROUP BY c.id_a, c.id_b),
        |pairs2 AS (
        |  SELECT id_a, id_b FROM inter2
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b
        |  WHERE ROUND(CAST(n_common AS DOUBLE)/(sa.n + sb.n - n_common), 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs2
        |  UNION
        |  SELECT id_b, id_a FROM pairs2),
        |reach(id, r) AS (
        |  SELECT id, id FROM rest
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |within AS (
        |  SELECT id AS doc_id, MIN(r) AS dup_of, MIN(r) = id AS kept
        |  FROM reach GROUP BY id)
        |SELECT * FROM (
        |  SELECT doc_id, dup_of, FALSE AS kept FROM dupseen
        |  UNION ALL SELECT doc_id, dup_of, kept FROM within)
        |ORDER BY doc_id""".stripMargin,

    // q138: the q132 chain run TWICE with the banded index advancing on
    // batch-A SURVIVORS — shared signature/banding/token CTEs over all
    // docs (per-id values are batch-independent), per-batch probe/verify/
    // closure blocks from fuzzyBatchCtes, hub-cap recomputed over the
    // advanced index exactly as the operator does per call.
    "q138_streaming_fuzzy_dedup" ->
      s"""WITH RECURSIVE seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         |batch_a AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' nearly duplicated tail tokens'
         |  FROM documents WHERE doc_id < 30),
         |batch_b AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 350
         |  UNION ALL
         |  SELECT doc_id + 2000000, text || ' almost duplicated trailing tokens'
         |  FROM documents WHERE doc_id >= 250 AND doc_id < 280
         |  UNION ALL
         |  SELECT doc_id + 3000000, text || ' nearly duplicated tail tokens'
         |  FROM documents WHERE doc_id >= 30 AND doc_id < 60),
         |allc AS (
         |  SELECT doc_id, text, 's' AS src FROM seen
         |  UNION ALL SELECT doc_id, text, 'a' FROM batch_a
         |  UNION ALL SELECT doc_id, text, 'b' FROM batch_b),
         |t AS (
         |  SELECT doc_id AS id, src,
         |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
         |  FROM allc),
         |sh AS (
         |  SELECT id, src, CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [array_to_string(toks, ' ')] END AS sh
         |  FROM t),
         |hv AS (
         |  SELECT id, src, list_transform(sh, g -> list_reduce(
         |      list_prepend(0::BIGINT, list_transform(range(1, length(g)+1), i -> ascii(substr(g,i,1))::BIGINT)),
         |      (acc,x) -> (acc*31+x) % 1000000007)) AS hv
         |  FROM sh),
         |fams AS (
         |  SELECT j,
         |    ((((42*131 + 2*j) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 + 1 AS a,
         |    ((((42*131 + 2*j + 1) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 AS b
         |  FROM (SELECT unnest(range(32)) AS j)),
         |mins AS (
         |  SELECT hv.id, hv.src, f.j, MIN((f.a * h.h + f.b) % 4294967311) AS mn
         |  FROM hv, unnest(hv.hv) AS h(h), fams f
         |  GROUP BY hv.id, hv.src, f.j),
         |sigs AS (
         |  SELECT id, src, list(mn ORDER BY j) AS sig FROM mins GROUP BY id, src),
         |banded AS (
         |  SELECT id, src, b.band,
         |         list_reduce(list_prepend(0::BIGINT, sig[b.band*4+1 : b.band*4+4]),
         |                     (acc,x) -> (acc*31+x) % 1000000007) AS bucket
         |  FROM sigs, (SELECT unnest(range(8)) AS band) b),
         |toksd AS (SELECT DISTINCT id, unnest(toks) AS tok FROM t),
         |sizes AS (SELECT id, COUNT(*) AS n FROM toksd GROUP BY id),
         |idx_a AS (
         |  SELECT id AS seen_id, band, bucket FROM (
         |    SELECT id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
         |    FROM banded WHERE src = 's')
         |  WHERE bsz <= 1000),
         |${fuzzyBatchCtes("a", "a", "idx_a")},
         |surv_a AS (SELECT doc_id AS id FROM out_a WHERE kept),
         |idxsrc_b AS (
         |  SELECT id, band, bucket FROM banded WHERE src = 's'
         |  UNION ALL
         |  SELECT banded.id, band, bucket FROM banded JOIN surv_a USING (id)
         |  WHERE src = 'a'),
         |idx_b AS (
         |  SELECT id AS seen_id, band, bucket FROM (
         |    SELECT id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
         |    FROM idxsrc_b)
         |  WHERE bsz <= 1000),
         |${fuzzyBatchCtes("b", "b", "idx_b")}
         |SELECT * FROM (
         |  SELECT 1 AS batch, doc_id, dup_of, kept FROM out_a
         |  UNION ALL SELECT 2, doc_id, dup_of, kept FROM out_b)
         |ORDER BY batch, doc_id""".stripMargin,

    // q139: the q134 chain run TWICE with the gram-hash index advancing on
    // batch-A survivors (repeated_frac < 0.5) — batch B's 16-token prefix
    // plants are covered only via the advanced index.
    "q139_streaming_repeated_spans" ->
      s"""WITH seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         |st AS (
         |  SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
         |  FROM seen),
         |sth AS (
         |  SELECT list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
         |           list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
         |           (acc, x) -> (acc * 31 + x) % 1000000007)) AS t1,
         |         list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
         |           list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
         |           (acc, x) -> (acc * 131 + x) % 1000000007)) AS t2
         |  FROM st),
         |sidx_a AS (
         |  SELECT DISTINCT
         |         list_reduce(list_prepend(0::BIGINT, t1[i.i : i.i + 7]),
         |           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS gh1,
         |         list_reduce(list_prepend(0::BIGINT, t2[i.i : i.i + 7]),
         |           (acc, x) -> (acc * 999983 + x) % 1000000007) AS gh2
         |  FROM sth, unnest(range(1, len(t1) - 6)) AS i(i)),
         |batch_a AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' ' || text
         |  FROM documents WHERE doc_id >= 250 AND doc_id < 260),
         |batch_b AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 350
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |         array_to_string(w[1:16], ' ')
         |           || ' qfresha' || doc_id || ' qfreshb' || doc_id || ' qfreshc' || doc_id
         |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
         |        FROM documents WHERE doc_id >= 260 AND doc_id < 290)),
         |${spanBatchCtes("a", "batch_a", "sidx_a")},
         |surv_a AS (SELECT doc_id FROM out_a WHERE repeated_frac < 0.5),
         |sidx_b AS (
         |  SELECT gh1, gh2 FROM sidx_a
         |  UNION
         |  SELECT gh1, gh2 FROM gh_a JOIN surv_a USING (doc_id)),
         |${spanBatchCtes("b", "batch_b", "sidx_b")}
         |SELECT * FROM (
         |  SELECT 1 AS batch, doc_id, n_tokens, n_spans, n_repeated_tokens,
         |         repeated_frac, cleaned_text FROM out_a
         |  UNION ALL
         |  SELECT 2, doc_id, n_tokens, n_spans, n_repeated_tokens,
         |         repeated_frac, cleaned_text FROM out_b)
         |ORDER BY batch, doc_id""".stripMargin,

    // q137: the q129 chain run TWICE with the index advancing between
    // batches — the streaming micro-batch composition. Per-batch CTE
    // blocks come from incrBatchCtes; batch B reads fpidx_b/spidx_b =
    // batch A's b1-survivor advance; thresholds (thr) and eval grams (evg)
    // stay frozen at the seed index, exactly the operator's contract.
    "q137_streaming_curation" ->
      s"""WITH seen AS (SELECT doc_id, text, lang FROM documents WHERE doc_id < 300),
         |batch_a AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 300 AND doc_id < 400
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id < 15),
         |batch_b AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 400
         |  UNION ALL
         |  SELECT doc_id + 2000000, text, lang FROM documents WHERE doc_id >= 300 AND doc_id < 320
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |         array_to_string((list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))[1:40], ' '),
         |         lang
         |  FROM documents WHERE doc_id >= 320 AND doc_id < 330),
         |fpidx_a AS (SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f FROM seen),
         |stw AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM seen),
         |spidx_a AS (
         |  SELECT DISTINCT md5(array_to_string(w[ci*20+1 : ci*20+20], ' ')) AS p
         |  FROM (SELECT doc_id, w, unnest(range(0, ((len(w)-1)//20)+1)) AS ci
         |        FROM stw WHERE len(w) > 0)),
         |sqt AS (
         |  SELECT doc_id, lang, length(text) AS n_chars,
         |         length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')) AS n_punct,
         |         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
         |  FROM seen),
         |sq AS (
         |  SELECT doc_id, lang,
         |         ROUND(LEAST(CAST(n_chars AS DOUBLE)/500.0, 1.0)*0.4
         |               + (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END)*0.4
         |               + (1.0 - ABS(CASE WHEN len(toks) > 0
         |                                 THEN CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)/len(toks)
         |                                 ELSE 0.0 END - 0.1))*0.2, 4) AS quality
         |  FROM sqt),
         |sr AS (SELECT lang, quality, percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr FROM sq),
         |thr AS (SELECT lang, MIN(quality) AS q_min FROM sr WHERE pr >= 0.1 GROUP BY lang),
         |ev AS (SELECT doc_id, text FROM seen WHERE doc_id % 50 = 0),
         |evg AS (
         |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [array_to_string(toks, ' ')] END)) AS gram
         |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks FROM ev)),
         |${incrBatchCtes("a", "batch_a", "fpidx_a", "spidx_a")},
         |fpidx_b AS (
         |  SELECT f FROM fpidx_a
         |  UNION
         |  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) FROM b1_a),
         |spidx_b AS (SELECT p FROM spidx_a UNION SELECT p FROM bsp_a),
         |${incrBatchCtes("b", "batch_b", "fpidx_b", "spidx_b")}
         |SELECT * FROM (
         |  SELECT 1 AS batch, 'b0_input' AS stage, count(*)::BIGINT AS n_docs FROM batch_a
         |  UNION ALL SELECT 1, 'b1_exact', count(*)::BIGINT FROM b1_a
         |  UNION ALL SELECT 1, 'b2_span_dedup', count(*)::BIGINT FROM b2_a
         |  UNION ALL SELECT 1, 'b3_quality', count(*)::BIGINT FROM b3_a
         |  UNION ALL SELECT 1, 'b4_decontaminated', count(*)::BIGINT FROM b4_a
         |  UNION ALL SELECT 2, 'b0_input', count(*)::BIGINT FROM batch_b
         |  UNION ALL SELECT 2, 'b1_exact', count(*)::BIGINT FROM b1_b
         |  UNION ALL SELECT 2, 'b2_span_dedup', count(*)::BIGINT FROM b2_b
         |  UNION ALL SELECT 2, 'b3_quality', count(*)::BIGINT FROM b3_b
         |  UNION ALL SELECT 2, 'b4_decontaminated', count(*)::BIGINT FROM b4_b)
         |ORDER BY batch, stage""".stripMargin,

    // q129: the full incremental funnel in SQL — index CTEs (fingerprints,
    // span set, frozen per-lang quality floor, eval slice) from the seen
    // corpus, then the four batch stages. Span rule: dup iff in seen set OR
    // in >= 2 batch docs (union-df restricted to batch). Quality/percentile
    // CTEs reuse the q90 shapes.
    "q129_incremental_funnel" ->
      """WITH seen AS (SELECT doc_id, text, lang FROM documents WHERE doc_id < 350),
        |batch AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 350
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, lang FROM documents WHERE doc_id >= 350 AND doc_id < 360
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         array_to_string((list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))[1:40], ' '),
        |         lang
        |  FROM documents WHERE doc_id >= 20 AND doc_id < 40),
        |sfp AS (SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f FROM seen),
        |stw AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM seen),
        |sspan AS (
        |  SELECT DISTINCT md5(array_to_string(w[ci*20+1 : ci*20+20], ' ')) AS p
        |  FROM (SELECT doc_id, w, unnest(range(0, ((len(w)-1)//20)+1)) AS ci
        |        FROM stw WHERE len(w) > 0)),
        |sqt AS (
        |  SELECT doc_id, lang, length(text) AS n_chars,
        |         length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS n_punct,
        |         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM seen),
        |sq AS (
        |  SELECT doc_id, lang,
        |         ROUND(LEAST(CAST(n_chars AS DOUBLE)/500.0, 1.0)*0.4
        |               + (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END)*0.4
        |               + (1.0 - ABS(CASE WHEN len(toks) > 0
        |                                 THEN CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)/len(toks)
        |                                 ELSE 0.0 END - 0.1))*0.2, 4) AS quality
        |  FROM sqt),
        |sr AS (SELECT lang, quality, percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr FROM sq),
        |thr AS (SELECT lang, MIN(quality) AS q_min FROM sr WHERE pr >= 0.1 GROUP BY lang),
        |ev AS (SELECT doc_id, text FROM seen WHERE doc_id % 50 = 0),
        |bfp AS (SELECT doc_id, text, lang, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f FROM batch),
        |b1a AS (SELECT doc_id, text, lang, f FROM bfp QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1),
        |b1 AS (SELECT doc_id, text, lang FROM b1a WHERE f NOT IN (SELECT f FROM sfp)),
        |btw AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM b1),
        |bsp AS (
        |  SELECT DISTINCT doc_id, md5(array_to_string(w[ci*20+1 : ci*20+20], ' ')) AS p
        |  FROM (SELECT doc_id, w, unnest(range(0, ((len(w)-1)//20)+1)) AS ci
        |        FROM btw WHERE len(w) > 0)),
        |bdf AS (SELECT p, count(*) AS n FROM bsp GROUP BY p),
        |fr AS (
        |  SELECT bsp.doc_id,
        |         SUM(CASE WHEN bdf.n >= 2 OR bsp.p IN (SELECT p FROM sspan) THEN 1 ELSE 0 END)::DOUBLE
        |           / COUNT(*) AS frac
        |  FROM bsp JOIN bdf USING (p) GROUP BY bsp.doc_id),
        |b2 AS (
        |  SELECT b1.* FROM b1 LEFT JOIN fr USING (doc_id)
        |  WHERE fr.frac IS NULL OR fr.frac < 0.5),
        |bqt AS (
        |  SELECT doc_id, text, lang, length(text) AS n_chars,
        |         length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')) AS n_punct,
        |         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM b2),
        |bq AS (
        |  SELECT doc_id, text, lang,
        |         ROUND(LEAST(CAST(n_chars AS DOUBLE)/500.0, 1.0)*0.4
        |               + (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END)*0.4
        |               + (1.0 - ABS(CASE WHEN len(toks) > 0
        |                                 THEN CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)/len(toks)
        |                                 ELSE 0.0 END - 0.1))*0.2, 4) AS q
        |  FROM bqt),
        |b3 AS (
        |  SELECT doc_id, text, lang FROM bq LEFT JOIN thr USING (lang)
        |  WHERE q_min IS NULL OR q >= q_min),
        |evg AS (
        |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END)) AS gram
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM ev)),
        |bg AS (
        |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END)) AS gram
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM b3)),
        |bad AS (SELECT DISTINCT b.id FROM bg b JOIN evg e USING (gram)),
        |b4 AS (SELECT * FROM b3 WHERE doc_id NOT IN (SELECT id FROM bad))
        |SELECT * FROM (
        |  SELECT 'b0_input' AS stage, count(*)::BIGINT AS n_docs FROM batch
        |  UNION ALL SELECT 'b1_exact', count(*)::BIGINT FROM b1
        |  UNION ALL SELECT 'b2_span_dedup', count(*)::BIGINT FROM b2
        |  UNION ALL SELECT 'b3_quality', count(*)::BIGINT FROM b3
        |  UNION ALL SELECT 'b4_decontaminated', count(*)::BIGINT FROM b4)
        |ORDER BY stage""".stripMargin,

    // q128: full Naive Bayes train+predict replay; the decision boundary
    // compares the UNROUNDED odds, the emitted column is 4dp.
    "q128_naive_bayes" ->
      s"""WITH $messySql,
         |$nbChainSql
         |SELECT doc_id, label, odds > 0.0 AS pred,
         |       ROUND(odds, 4) + 0.0 AS log_odds,
         |       (odds > 0.0) = label AS correct
         |FROM sc ORDER BY doc_id""".stripMargin,

    // The chained incremental-NB oracle: the full train+score chain
    // instantiated at BOTH cumulative training slices — equality with the
    // engine's count-fold state is the advance ≡ retrain proof.
    "q203_incremental_nb" ->
      s"""WITH $messySql,
         |$nbSharedSql,
         |${nbChainSqlOn("p", "doc_id % 3 = 0 AND doc_id % 2 = 0")},
         |${nbChainSqlOn("q", "doc_id % 3 = 0")}
         |SELECT phase, doc_id, label, pred, log_odds, correct FROM (
         |  SELECT '1_after_b1' AS phase, doc_id, label, odds > 0.0 AS pred,
         |         ROUND(odds, 4) + 0.0 AS log_odds,
         |         (odds > 0.0) = label AS correct
         |  FROM psc
         |  UNION ALL
         |  SELECT '2_after_b2', doc_id, label, odds > 0.0,
         |         ROUND(odds, 4) + 0.0, (odds > 0.0) = label
         |  FROM qsc)
         |ORDER BY phase, doc_id""".stripMargin,

    // q131: the q128 NB chain + the q107 gopher keep verdict, folded into a
    // two-row precision/recall/F1 report (zero-denominator ratios define to
    // 0.0; counts cast to BIGINT so pandas/duckdb stringify identically).
    "q131_classifier_report" ->
      s"""WITH $messySql,
         |$nbChainSql,
         |gtok AS (
         |  SELECT doc_id, t,
         |         list_filter(regexp_split_to_array(trim(lower(t)), '\\s+'), x -> x <> '') AS toks,
         |         string_split(t, chr(10)) AS lines
         |  FROM messy),
         |gm AS (
         |  SELECT doc_id, len(toks) AS n,
         |    CASE WHEN len(toks) > 0
         |         THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS meanlen,
         |    CASE WHEN len(toks) > 0
         |         THEN ((length(t) - length(replace(t, '#', '')))
         |               + (length(t) - length(replace(t, '...', ''))) / 3)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS symr,
         |    CASE WHEN len(lines) > 0
         |         THEN CAST(len(list_filter(lines, l ->
         |                starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ')
         |                OR starts_with(ltrim(l), '• '))) AS DOUBLE)
         |              / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS bullfrac,
         |    CASE WHEN len(lines) > 0
         |         THEN CAST(len(list_filter(lines, l ->
         |                ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
         |              / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS ellfrac,
         |    CASE WHEN len(toks) > 0
         |         THEN CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS alphafrac,
         |    len(list_filter(['the','a','and','of'], rw -> list_contains(toks, rw))) AS reqhits
         |  FROM gtok),
         |hp AS (
         |  SELECT doc_id, NOT ((n >= 50 AND n <= 100000) AND (meanlen >= 3.0 AND meanlen <= 10.0)
         |         AND symr <= 0.1 AND bullfrac <= 0.9 AND ellfrac <= 0.3
         |         AND alphafrac >= 0.8 AND reqhits >= 2) AS p
         |  FROM gm),
         |preds AS (
         |  SELECT 'gopher_rules' AS method, hp.p AS p, sc.label FROM hp JOIN sc USING (doc_id)
         |  UNION ALL
         |  SELECT 'naive_bayes', sc.odds > 0.0, sc.label FROM sc),
         |cm AS (
         |  SELECT method,
         |    CAST(SUM(CASE WHEN p AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN p AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN NOT p AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT p AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM preds GROUP BY method)
         |SELECT method, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE ROUND(tp::DOUBLE / (tp + fp)::DOUBLE, 4) + 0.0 END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE ROUND(tp::DOUBLE / (tp + fn)::DOUBLE, 4) + 0.0 END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |       ELSE ROUND((2 * tp)::DOUBLE / (2 * tp + fp + fn)::DOUBLE, 4) + 0.0 END AS f1
         |FROM cm ORDER BY method""".stripMargin,

    // q127: the full repeated-span pipeline in SQL — planted fixture,
    // 8-gram anchors, count>=2 cover, gaps-and-islands span merge,
    // anti-join reassembly of the cleaned text.
    "q127_repeated_spans" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' $PlantedBlock'
         |         WHEN doc_id % 7 = 1 THEN '$PlantedBlock ' || text
         |         WHEN doc_id % 7 = 2 THEN text || ' ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
         |  FROM raw),
         |th AS (
         |  SELECT doc_id,
         |    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
         |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS t1,
         |    list_transform(w, tk -> list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, length(tk)+1), i -> ascii(substr(tk, i, 1))::BIGINT)),
         |      (acc, x) -> (acc * 131 + x) % 1000000007)) AS t2
         |  FROM t),
         |gh AS (
         |  SELECT doc_id, i.i - 1 AS p,
         |         list_reduce(list_prepend(0::BIGINT, t1[i.i : i.i + 7]),
         |           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS gh1,
         |         list_reduce(list_prepend(0::BIGINT, t2[i.i : i.i + 7]),
         |           (acc, x) -> (acc * 999983 + x) % 1000000007) AS gh2
         |  FROM th, unnest(range(1, len(t1) - 6)) AS i(i)),
         |uniq AS (
         |  SELECT min(doc_id) AS doc_id, min(p) AS p
         |  FROM gh GROUP BY gh1, gh2 HAVING COUNT(*) = 1),
         |rep AS (SELECT doc_id, p FROM gh ANTI JOIN uniq USING (doc_id, p)),
         |cov AS (
         |  SELECT DISTINCT doc_id, p + j.j AS pos
         |  FROM rep, unnest(range(0, 8)) AS j(j)),
         |isl AS (
         |  SELECT doc_id, pos,
         |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM cov),
         |spans AS (
         |  SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
         |  FROM isl GROUP BY doc_id, grp),
         |sa AS (
         |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_repeated
         |  FROM spans GROUP BY doc_id),
         |toks AS (
         |  SELECT doc_id, i.i - 1 AS pos, w[i.i] AS tok
         |  FROM t, unnest(range(1, len(w) + 1)) AS i(i)),
         |keep AS (SELECT doc_id, pos, tok FROM toks ANTI JOIN cov USING (doc_id, pos)),
         |cl AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
         |  FROM keep GROUP BY doc_id)
         |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
         |  COALESCE(sa.n_spans, 0)::BIGINT AS n_spans,
         |  COALESCE(sa.n_repeated, 0)::BIGINT AS n_repeated_tokens,
         |  ROUND(COALESCE(sa.n_repeated, 0)::DOUBLE / GREATEST(len(t.w), 1), 4) + 0.0 AS repeated_frac,
         |  COALESCE(cl.cleaned, '') AS cleaned_text
         |FROM t LEFT JOIN sa USING (doc_id) LEFT JOIN cl USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "q107_gopher_filter" -> {
      val bulletSql = BulletTail.replace("\n", "\\n")
      val ellipsisSql = EllipsisTail.replace("\n", "\\n")
      s"""WITH messy AS (
         |  SELECT doc_id, text || CASE
         |    WHEN doc_id % 5 = 0 THEN e'$bulletSql'
         |    WHEN doc_id % 5 = 1 THEN e'$ellipsisSql'
         |    WHEN doc_id % 5 = 2 THEN '$HashTail'
         |    WHEN doc_id % 5 = 3 THEN '$DigitTail'
         |    ELSE '' END AS t
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, t,
         |         list_filter(regexp_split_to_array(trim(lower(t)), '\\s+'), x -> x <> '') AS toks,
         |         string_split(t, chr(10)) AS lines
         |  FROM messy),
         |m AS (
         |  SELECT doc_id, len(toks) AS n,
         |    CASE WHEN len(toks) > 0
         |         THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS meanlen,
         |    CASE WHEN len(toks) > 0
         |         THEN ((length(t) - length(replace(t, '#', '')))
         |               + (length(t) - length(replace(t, '...', ''))) / 3)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS symr,
         |    CASE WHEN len(lines) > 0
         |         THEN CAST(len(list_filter(lines, l ->
         |                starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ')
         |                OR starts_with(ltrim(l), '• '))) AS DOUBLE)
         |              / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS bullfrac,
         |    CASE WHEN len(lines) > 0
         |         THEN CAST(len(list_filter(lines, l ->
         |                ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
         |              / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS ellfrac,
         |    CASE WHEN len(toks) > 0
         |         THEN CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
         |              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS alphafrac,
         |    len(list_filter(['the','a','and','of'], rw -> list_contains(toks, rw))) AS reqhits
         |  FROM tok)
         |SELECT doc_id, n AS n_words, round(meanlen, 4) + 0.0 AS mean_word_len,
         |       n >= 50 AND n <= 100000 AS ok_word_count,
         |       meanlen >= 3.0 AND meanlen <= 10.0 AS ok_mean_word_len,
         |       symr <= 0.1 AS ok_symbol_ratio,
         |       bullfrac <= 0.9 AS ok_bullet_lines,
         |       ellfrac <= 0.3 AS ok_ellipsis_lines,
         |       alphafrac >= 0.8 AS ok_alpha_words,
         |       reqhits >= 2 AS ok_required_words,
         |       (n >= 50 AND n <= 100000) AND (meanlen >= 3.0 AND meanlen <= 10.0)
         |         AND symr <= 0.1 AND bullfrac <= 0.9 AND ellfrac <= 0.3
         |         AND alphafrac >= 0.8 AND reqhits >= 2 AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // q108: the q29 MinHash pipeline (restricted corpus), q28's Jaccard
    // arithmetic on the CANDIDATES only, the q50 recursive closure, and the
    // min-reachable survivor rule — the full dedup DAG in one SQL chain.
    "q108_fuzzy_dedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300),
        |t AS (
        |  SELECT doc_id AS id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |sh AS (
        |  SELECT id, CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t),
        |hv AS (
        |  SELECT id, list_transform(sh, g -> list_reduce(
        |      list_prepend(0::BIGINT, list_transform(range(1, length(g)+1), i -> ascii(substr(g,i,1))::BIGINT)),
        |      (acc,x) -> (acc*31+x) % 1000000007)) AS hv
        |  FROM sh),
        |fams AS (
        |  SELECT j,
        |    ((((42*131 + 2*j) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 + 1 AS a,
        |    ((((42*131 + 2*j + 1) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 AS b
        |  FROM (SELECT unnest(range(32)) AS j)),
        |mins AS (
        |  SELECT hv.id, f.j, MIN((f.a * h.h + f.b) % 4294967311) AS mn
        |  FROM hv, unnest(hv.hv) AS h(h), fams f
        |  GROUP BY hv.id, f.j),
        |sigs AS (
        |  SELECT id, list(mn ORDER BY j) AS sig FROM mins GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |         list_reduce(list_prepend(0::BIGINT, sig[b.band*4+1 : b.band*4+4]),
        |                     (acc,x) -> (acc*31+x) % 1000000007) AS bucket
        |  FROM sigs, (SELECT unnest(range(8)) AS band) b),
        |kept AS (
        |  SELECT id, band, bucket FROM (
        |    SELECT id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
        |    FROM banded)
        |  WHERE bsz BETWEEN 2 AND 1000),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM kept a JOIN kept b USING (band, bucket)
        |  WHERE a.id < b.id),
        |toksd AS (SELECT DISTINCT id, unnest(toks) AS tok FROM t),
        |sizes AS (SELECT id, COUNT(*) AS n FROM toksd GROUP BY id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        |  FROM cand c
        |  JOIN toksd a ON a.id = c.id_a
        |  JOIN toksd b ON b.id = c.id_b AND b.tok = a.tok
        |  GROUP BY c.id_a, c.id_b),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b
        |  WHERE ROUND(CAST(n_common AS DOUBLE)/(sa.n + sb.n - n_common), 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT id, id FROM t
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id AS doc_id, MIN(r) AS cluster_id, MIN(r) = id AS kept
        |FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    "q109_bpe_train" -> bpeOracle(numMerges = 8),

    // q126: the q29 signature chain on the doc_id < 300 corpus, extended
    // with signature-agreement estimates, distinct-shingle exact Jaccard,
    // and the absolute error of the ROUNDED values (mirroring the Spark op
    // order exactly).
    "q126_minhash_calibration" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' nearly duplicated tail tokens'
        |  FROM documents WHERE doc_id < 50),
        |t AS (
        |  SELECT doc_id AS id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM corpus),
        |sh AS (
        |  SELECT id, CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t),
        |hv AS (
        |  SELECT id, list_transform(sh, g -> list_reduce(
        |      list_prepend(0::BIGINT, list_transform(range(1, length(g)+1), i -> ascii(substr(g,i,1))::BIGINT)),
        |      (acc,x) -> (acc*31+x) % 1000000007)) AS hv
        |  FROM sh),
        |fams AS (
        |  SELECT j,
        |    ((((42*131 + 2*j) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 + 1 AS a,
        |    ((((42*131 + 2*j + 1) % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648 % 1073741824 AS b
        |  FROM (SELECT unnest(range(32)) AS j)),
        |mins AS (
        |  SELECT hv.id, f.j, MIN((f.a * h.h + f.b) % 4294967311) AS mn
        |  FROM hv, unnest(hv.hv) AS h(h), fams f
        |  GROUP BY hv.id, f.j),
        |sigs AS (
        |  SELECT id, list(mn ORDER BY j) AS sig FROM mins GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |         list_reduce(list_prepend(0::BIGINT, sig[b.band*4+1 : b.band*4+4]),
        |                     (acc,x) -> (acc*31+x) % 1000000007) AS bucket
        |  FROM sigs, (SELECT unnest(range(8)) AS band) b),
        |kept AS (
        |  SELECT id, band, bucket FROM (
        |    SELECT id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
        |    FROM banded)
        |  WHERE bsz BETWEEN 2 AND 1000),
        |cands AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM kept a JOIN kept b USING (band, bucket)
        |  WHERE a.id < b.id),
        |gd AS (SELECT id, unnest(list_distinct(sh)) AS g FROM sh),
        |gs AS (SELECT id, COUNT(*) AS n FROM gd GROUP BY id),
        |cm AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS cc
        |  FROM cands c
        |  JOIN gd a ON a.id = c.id_a
        |  JOIN gd b ON b.id = c.id_b AND b.g = a.g
        |  GROUP BY c.id_a, c.id_b),
        |ej AS (
        |  SELECT c.id_a, c.id_b,
        |         ROUND(CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0, 4) + 0.0 AS est_jaccard,
        |         ROUND(CAST(COALESCE(cm.cc, 0) AS DOUBLE)
        |               / CAST(ga.n + gb.n - COALESCE(cm.cc, 0) AS DOUBLE), 4) + 0.0 AS exact_jaccard
        |  FROM cands c
        |  JOIN sigs sa ON sa.id = c.id_a
        |  JOIN sigs sb ON sb.id = c.id_b
        |  LEFT JOIN cm ON cm.id_a = c.id_a AND cm.id_b = c.id_b
        |  JOIN gs ga ON ga.id = c.id_a
        |  JOIN gs gb ON gb.id = c.id_b)
        |SELECT id_a, id_b, est_jaccard, exact_jaccard,
        |       ROUND(ABS(est_jaccard - exact_jaccard), 4) + 0.0 AS abs_err
        |FROM ej ORDER BY id_a, id_b""".stripMargin,

    // q111: profile training (lang×gram counts, top-40 window), per-doc
    // distinct-trigram hit counts vs the profile, argmax with ties to the
    // first language — all exact integers.
    "q111_langid_trained" ->
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, lang, substr(t, i.i, 3) AS gram
        |  FROM norm, unnest(range(1, length(t) - 1)) AS i(i)),
        |prof AS (
        |  SELECT lang, gram,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram) AS rank
        |  FROM tri GROUP BY lang, gram
        |  QUALIFY rank <= 40),
        |dg AS (SELECT DISTINCT doc_id, gram FROM tri),
        |hits AS (
        |  SELECT dg.doc_id, p.lang, COUNT(*) AS hits
        |  FROM dg JOIN prof p ON dg.gram = p.gram
        |  GROUP BY dg.doc_id, p.lang),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |filled AS (
        |  SELECT d.doc_id, l.lang, COALESCE(h.hits, 0) AS hits
        |  FROM (SELECT doc_id FROM documents) d
        |  CROSS JOIN langs l
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = l.lang),
        |pred AS (
        |  SELECT doc_id, lang AS pred_lang, hits FROM (
        |    SELECT doc_id, lang, hits,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
        |    FROM filled)
        |  WHERE rn = 1)
        |SELECT p.doc_id, d.lang AS true_lang, p.pred_lang,
        |       CAST(p.hits AS BIGINT) AS hits, p.pred_lang = d.lang AS correct
        |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // q113: in-row duplicate-line folds — list_distinct + summed lengths,
    // one division per fraction, C-rounded with the -0.0 guard.
    "q113_repetition_flags" ->
      """WITH dirty AS (
        |  SELECT doc_id, text || CASE
        |    WHEN doc_id % 3 = 0 THEN e'\nrepeat me\nrepeat me\nrepeat me'
        |    WHEN doc_id % 3 = 1 THEN e'\nalpha line\nbeta line'
        |    ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         string_split(t, chr(10)) AS lines,
        |         list_distinct(string_split(t, chr(10))) AS dlines
        |  FROM dirty),
        |f AS (
        |  SELECT doc_id,
        |         len(lines) AS n_lines,
        |         ROUND(CASE WHEN len(lines) > 0
        |               THEN CAST(len(lines) - len(dlines) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
        |               ELSE 0.0 END, 4) + 0.0 AS dup_line_frac,
        |         ROUND(CASE WHEN list_sum(list_transform(lines, x -> length(x))) > 0
        |               THEN CAST(list_sum(list_transform(lines, x -> length(x)))
        |                         - list_sum(list_transform(dlines, x -> length(x))) AS DOUBLE)
        |                    / CAST(list_sum(list_transform(lines, x -> length(x))) AS DOUBLE)
        |               ELSE 0.0 END, 4) + 0.0 AS dup_line_char_frac
        |  FROM m)
        |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
        |       dup_line_frac <= 0.3 AS ok_dup_lines,
        |       dup_line_char_frac <= 0.2 AS ok_dup_chars
        |FROM f ORDER BY doc_id""".stripMargin,

    // q121: the q29 shingle CTE (distinct per doc) on both sides; eval
    // grams dedupe once, train grams LEFT-join them, per-doc counts and
    // one 4dp-rounded division.
    "q121_contamination_frac" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END)) AS gram
        |  FROM t),
        |ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, gram FROM sh WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id,
        |       COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |       ROUND(CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 4) + 0.0 AS contamination_frac
        |FROM tr LEFT JOIN ev ON tr.gram = ev.gram
        |GROUP BY tr.doc_id
        |ORDER BY tr.doc_id""".stripMargin,

    // q125: cut = (mix2(id·131+salt) · (n+1)) >> 31, ordered; PSM assembly
    // from 1-based inclusive list slices.
    "q125_fim_transform" -> {
      def mix2(x: String) =
        s"((($x % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648"
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |         (${mix2("(doc_id*131 + 1)")} * (len(toks)+1)) >> 31 AS c1,
         |         (${mix2("(doc_id*131 + 2)")} * (len(toks)+1)) >> 31 AS c2
         |  FROM t),
         |o AS (
         |  SELECT doc_id, n, LEAST(c1, c2) AS a, GREATEST(c1, c2) AS b, toks FROM c)
         |SELECT doc_id, CAST(n AS INT) AS n_tokens,
         |       CAST(a AS INT) AS cut1, CAST(b AS INT) AS cut2,
         |       '<PRE> ' || CASE WHEN a > 0 THEN array_to_string(toks[1:CAST(a AS INT)], ' ') ELSE '' END
         |         || ' <SUF> ' || CASE WHEN n > b THEN array_to_string(toks[CAST(b+1 AS INT):CAST(n AS INT)], ' ') ELSE '' END
         |         || ' <MID> ' || CASE WHEN b > a THEN array_to_string(toks[CAST(a+1 AS INT):CAST(b AS INT)], ' ') ELSE '' END AS psm
         |FROM o ORDER BY doc_id""".stripMargin
    },

    // q119: blocks explode with a per-doc window prefix count (the oracle
    // may shuffle; the operator itself is in-row), string_agg in block
    // order skipping NULL unmasked target parts — matching concat_ws.
    "q119_span_corrupt" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, i.i AS blk, toks[(i.i*3+1):(i.i*3+3)] AS btoks
        |  FROM t, unnest(range(0, CAST(ceil(len(toks)/3.0) AS INT))) AS i(i)),
        |m AS (
        |  SELECT doc_id, blk, btoks,
        |         ((((doc_id*131 + blk) % 2147483648) * 1664525 + 1013904223) % 2147483648
        |          * 1103515245 + 12345) % 2147483648 % 10 < 2 AS masked
        |  FROM b),
        |p AS (
        |  SELECT doc_id, blk, btoks, masked,
        |         COALESCE(SUM(CASE WHEN masked THEN 1 ELSE 0 END) OVER (
        |           PARTITION BY doc_id ORDER BY blk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        |  FROM m),
        |agg AS (
        |  SELECT doc_id,
        |         COUNT(*) AS n_blocks,
        |         SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked,
        |         string_agg(CASE WHEN masked THEN '<extra_id_' || CAST(pfx AS VARCHAR) || '>'
        |                         ELSE array_to_string(btoks, ' ') END, ' ' ORDER BY blk) AS input,
        |         string_agg(CASE WHEN masked THEN '<extra_id_' || CAST(pfx AS VARCHAR) || '> '
        |                           || array_to_string(btoks, ' ') END, ' ' ORDER BY blk) AS target
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(a.n_blocks, 0) AS INT) AS n_blocks,
        |       CAST(COALESCE(a.n_masked, 0) AS INT) AS n_masked,
        |       COALESCE(a.input, '') AS input,
        |       COALESCE(a.target, '') AS target
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q147: whole-epoch copies + the mix2 hash-threshold extra copy; the
    // CASE literals (whole counts, frac·2³¹ thresholds) are generated from
    // the SAME Scala map and floor arithmetic the operator uses, so the
    // two engines compare identical integers.
    "q147_epoch_mix" -> {
      val m = 2147483648L
      def wholeOf(e: Double) = math.floor(e).toLong
      def threshOf(e: Double) = math.floor((e - math.floor(e)) * m).toLong
      val wholeCase = EpochMixEpochs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN ${wholeOf(v)}" }.mkString(" ")
      val thrCase = EpochMixEpochs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN ${threshOf(v)}" }.mkString(" ")
      s"""WITH e AS (
         |  SELECT doc_id, source,
         |         CASE source $wholeCase ELSE 1 END AS whole,
         |         CASE source $thrCase ELSE 0 END AS thr,
         |         (((doc_id % 2147483648) * 1664525 + 1013904223) % 2147483648
         |          * 1103515245 + 12345) % 2147483648 AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |         whole + CASE WHEN h < thr THEN 1 ELSE 0 END AS n
         |  FROM e)
         |SELECT doc_id, source, CAST(unnest(range(n)) AS BIGINT) AS copy_idx
         |FROM c WHERE n > 0
         |ORDER BY doc_id, copy_idx""".stripMargin
    },

    // q159: the q147 epoch CTE + mix2(cid*131+42) shuffle ranking +
    // running token cumsum over the shuffle order + start//512 pack cut +
    // the q58 LCG high-bit shard rule; all sums cast back to BIGINT
    // (DuckDB SUM(BIGINT) widens to HUGEINT).
    "q159_training_order" -> {
      val m = 2147483648L
      def wholeOf(e: Double) = math.floor(e).toLong
      def threshOf(e: Double) = math.floor((e - math.floor(e)) * m).toLong
      val wholeCase = EpochMixEpochs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN ${wholeOf(v)}" }.mkString(" ")
      val thrCase = EpochMixEpochs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN ${threshOf(v)}" }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         |         CAST(length(text) AS BIGINT) AS n_bytes
         |  FROM documents),
         |e AS (
         |  SELECT *, CASE source $wholeCase ELSE 1 END AS whole,
         |         CASE source $thrCase ELSE 0 END AS thr,
         |         (((doc_id % $m) * 1664525 + 1013904223) % $m
         |          * 1103515245 + 12345) % $m AS h
         |  FROM t),
         |c AS (SELECT *, whole + CASE WHEN h < thr THEN 1 ELSE 0 END AS n FROM e),
         |mx AS (
         |  SELECT doc_id, n_tokens, n_bytes,
         |         doc_id * 4 + CAST(unnest(range(n)) AS BIGINT) AS cid
         |  FROM c WHERE n > 0),
         |sh AS (
         |  SELECT *, ((((cid * 131 + 42) % $m) * 1664525 + 1013904223) % $m
         |          * 1103515245 + 12345) % $m AS shufkey
         |  FROM mx),
         |ord AS (SELECT *, ROW_NUMBER() OVER (ORDER BY shufkey, cid) AS shuffle_pos FROM sh),
         |pk AS (
         |  SELECT *, (SUM(n_tokens) OVER (ORDER BY shuffle_pos) - n_tokens) // 512 AS pack_id
         |  FROM ord),
         |packs AS (
         |  SELECT pack_id, COUNT(*) AS pn_rows, SUM(n_tokens) AS pn_tokens,
         |         SUM(n_bytes) AS pn_bytes
         |  FROM pk GROUP BY 1),
         |sa AS (
         |  SELECT *, CAST((((pack_id % $m) * 1103515245 + 12345) % $m * 8) // $m AS INT) AS shard
         |  FROM packs)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_packs,
         |       CAST(SUM(pn_rows) AS BIGINT) AS n_rows,
         |       CAST(SUM(pn_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM(pn_bytes) AS BIGINT) AS n_bytes
         |FROM sa GROUP BY shard ORDER BY shard""".stripMargin
    },

    // q117: sqrt weights (correctly-rounded IEEE, identical both engines),
    // weight sum folded in sorted-lang order, (w/s)*total shares, floor +
    // largest-remainder (remainder DESC, lang ASC), then the q65/q80
    // mix2-order membership.
    "q117_temperature_mix" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
        |wsum AS (
        |  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY lang)), (a, x) -> a + x) AS s
        |  FROM w),
        |ex AS (SELECT lang, w.w / wsum.s * 100 AS e FROM w, wsum),
        |fl AS (SELECT lang, e, CAST(FLOOR(e) AS BIGINT) AS f FROM ex),
        |lo AS (SELECT 100 - SUM(f) AS leftover FROM fl),
        |rk AS (
        |  SELECT lang, f,
        |         ROW_NUMBER() OVER (ORDER BY e - FLOOR(e) DESC, lang) AS rn
        |  FROM fl),
        |quota AS (
        |  SELECT lang, f + CASE WHEN rn <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS q
        |  FROM rk),
        |h AS (
        |  SELECT doc_id, lang,
        |         (((doc_id % 2147483648) * 1664525 + 1013904223) % 2147483648
        |          * 1103515245 + 12345) % 2147483648 AS h
        |  FROM documents)
        |SELECT h.lang,
        |       row_number() OVER (PARTITION BY h.lang ORDER BY h.h, h.doc_id) AS sample_rank,
        |       h.doc_id
        |FROM h JOIN quota ON h.lang = quota.lang
        |QUALIFY sample_rank <= quota.q
        |ORDER BY h.lang, sample_rank""".stripMargin,

    // q118: the q29 shingle CTE (with its under-3-token fallback) feeding
    // exact count/count-distinct aggregates; ratios are single divisions.
    "q118_diversity_report" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT source, unnest(toks) AS tok FROM t),
        |ta AS (
        |  SELECT source, COUNT(*) AS n_tokens,
        |         COUNT(DISTINCT tok) AS distinct_tokens
        |  FROM tok GROUP BY source),
        |sh AS (
        |  SELECT source, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END) AS gram
        |  FROM t),
        |ga AS (
        |  SELECT source, COUNT(*) AS n_3grams,
        |         COUNT(DISTINCT gram) AS distinct_3grams
        |  FROM sh GROUP BY source),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
        |SELECT nd.source, n_docs, n_tokens, distinct_tokens, n_3grams, distinct_3grams,
        |       ROUND(CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) + 0.0 AS type_token_ratio,
        |       ROUND(CAST(distinct_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE), 4) + 0.0 AS trigram_diversity
        |FROM nd JOIN ta ON nd.source = ta.source JOIN ga ON nd.source = ga.source
        |ORDER BY nd.source""".stripMargin,

    // q151: md5 hex is identical in both engines; the poly-31 fold over
    // its 32 hex chars is the q59/q84 list_reduce idiom; the commutative
    // HUGEINT/DECIMAL(38,0) sum is what makes the hash order-invariant.
    "q151_dataset_fingerprint" ->
      """WITH f AS (
        |  SELECT source,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              x -> x <> '')) AS BIGINT) AS nt,
        |         CAST(length(text) AS BIGINT) AS nc
        |  FROM documents),
        |h AS (
        |  SELECT source, nt, nc,
        |         list_reduce(list_prepend(0::BIGINT,
        |           list_transform(range(1, length(fp)+1), i -> ascii(substr(fp, i, 1))::BIGINT)),
        |           (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM f)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |       CAST(SUM(nc) AS BIGINT) AS n_chars,
        |       CAST(SUM(h) AS DOUBLE) AS content_hash
        |FROM h GROUP BY source
        |ORDER BY source""".stripMargin,

    // q210: the q151 fingerprint replay per version — v1 over the on-time
    // slice, v2 over everything (v1's files plus the appended delta).
    "q210_snapshot_versions" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              x -> x <> '')) AS BIGINT) AS nt,
        |         CAST(length(text) AS BIGINT) AS nc
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, source, nt, nc,
        |         list_reduce(list_prepend(0::BIGINT,
        |           list_transform(range(1, length(fp)+1), i -> ascii(substr(fp, i, 1))::BIGINT)),
        |           (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM f),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, source,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |         CAST(SUM(nc) AS BIGINT) AS n_chars,
        |         CAST(SUM(h) AS DOUBLE) AS content_hash
        |  FROM h WHERE doc_id % 3 != 0 GROUP BY source),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, source,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |         CAST(SUM(nc) AS BIGINT) AS n_chars,
        |         CAST(SUM(h) AS DOUBLE) AS content_hash
        |  FROM h GROUP BY source)
        |SELECT version, source, n_docs, n_tokens, n_chars, content_hash
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY version, source""".stripMargin,

    // q149: the q118 trigram CTE (with its under-3-token fallback), made
    // distinct per source; inverted self-join on the gram; all-pairs frame
    // from the size table so zero-overlap pairs survive.
    "q149_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT source, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END) AS g
        |  FROM t),
        |sh AS (SELECT DISTINCT source, g FROM sh0),
        |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
        |iv AS (
        |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT x.source AS source_a, y.source AS source_b,
        |       CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
        |       CAST(COALESCE(iv.n_common, 0) AS BIGINT) AS n_common,
        |       ROUND(CAST(COALESCE(iv.n_common, 0) AS DOUBLE) /
        |             CAST(x.n + y.n - COALESCE(iv.n_common, 0) AS DOUBLE), 6) AS jaccard
        |FROM sz x JOIN sz y ON x.source < y.source
        |LEFT JOIN iv ON iv.source_a = x.source AND iv.source_b = y.source
        |ORDER BY source_a, source_b""".stripMargin,

    // q146: TV distance folded as the exact integer Σ|c1·n2 − c2·n1|
    // (HUGEINT here, DECIMAL(38,0) on the Spark side — identical values),
    // one terminal division; argmax token resolved on the same numerators.
    "q146_token_drift" ->
      """WITH v1 AS (SELECT source, text FROM documents),
        |v2 AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 10 = 5 THEN text || ' updated revision content'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT source,
        |         'new document ' || CAST(doc_id AS VARCHAR) || ' about spark pipelines'
        |  FROM documents WHERE doc_id % 10 = 7),
        |t1 AS (SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok FROM v1),
        |t2 AS (SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok FROM v2),
        |cc1 AS (SELECT source, tok, COUNT(*) AS c1 FROM t1 GROUP BY 1, 2),
        |cc2 AS (SELECT source, tok, COUNT(*) AS c2 FROM t2 GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(cc1.source, cc2.source) AS source,
        |         COALESCE(cc1.tok, cc2.tok) AS tok,
        |         COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
        |  FROM cc1 FULL OUTER JOIN cc2
        |    ON cc1.source = cc2.source AND cc1.tok = cc2.tok),
        |tot AS (SELECT source, SUM(c1) AS n1, SUM(c2) AS n2 FROM j GROUP BY 1),
        |d AS (
        |  SELECT j.source, j.tok, j.c1, j.c2,
        |         ABS(CAST(j.c1 AS HUGEINT) * t.n2 - CAST(j.c2 AS HUGEINT) * t.n1) AS num
        |  FROM j JOIN tot t ON j.source = t.source),
        |st AS (
        |  SELECT source,
        |         SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS types_v1,
        |         SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS types_v2,
        |         SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS types_shared,
        |         SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS types_new,
        |         SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS types_gone,
        |         SUM(num) AS snum, MAX(num) AS mx
        |  FROM d GROUP BY 1),
        |top AS (
        |  SELECT d.source, MIN(d.tok) AS top_drift_token
        |  FROM d JOIN st ON d.source = st.source AND d.num = st.mx
        |  GROUP BY 1)
        |SELECT t.source,
        |       CAST(t.n1 AS BIGINT) AS n_tokens_v1,
        |       CAST(t.n2 AS BIGINT) AS n_tokens_v2,
        |       CAST(st.types_v1 AS BIGINT) AS types_v1,
        |       CAST(st.types_v2 AS BIGINT) AS types_v2,
        |       CAST(st.types_shared AS BIGINT) AS types_shared,
        |       CAST(st.types_new AS BIGINT) AS types_new,
        |       CAST(st.types_gone AS BIGINT) AS types_gone,
        |       CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
        |         ROUND(CAST(st.snum AS DOUBLE) /
        |               (2.0 * CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6)
        |       END AS tv_distance,
        |       top.top_drift_token
        |FROM tot t
        |JOIN st ON t.source = st.source
        |JOIN top ON t.source = top.source
        |ORDER BY t.source""".stripMargin,

    // q116: both snapshots shrink to (id, fingerprint, token count) before
    // a full outer join on the id; the v2 evolution replays identically.
    "q116_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 5 THEN text || ' updated revision content'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 500000,
        |         'new document ' || CAST(doc_id AS VARCHAR) || ' about spark pipelines'
        |  FROM documents WHERE doc_id % 10 = 7),
        |o AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ofp,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS ot
        |  FROM v1),
        |n AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS nfp,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS nt
        |  FROM v2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN ofp <> nfp THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       COALESCE(nt, 0) - COALESCE(ot, 0) AS token_delta
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // q115: the Pii patterns are RE2-safe by design, so the identical regex
    // strings count matches in both engines; densities are single divisions
    // of exact BIGINT sums.
    "q115_pii_density" -> {
      val email = graft.functions.Pii.EmailPattern
      val phone = graft.functions.Pii.PhonePattern
      s"""WITH dirty AS (
         |  SELECT doc_id, source, text || CASE
         |    WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for details'
         |    WHEN doc_id % 7 = 1 THEN ' call 555-123-4567 or 800-555-1212 today'
         |    WHEN doc_id % 7 = 2 THEN ' account 12345678 ref 98765432'
         |    ELSE '' END AS t
         |  FROM documents),
         |per_doc AS (
         |  SELECT source,
         |         len(regexp_extract_all(t, '$email')) AS e,
         |         len(regexp_extract_all(t, '$phone')) AS p,
         |         len(list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x <> '')) AS tk
         |  FROM dirty),
         |agg AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |         CAST(SUM(e) AS BIGINT) AS n_emails,
         |         CAST(SUM(p) AS BIGINT) AS n_phones,
         |         CAST(SUM(tk) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
         |  FROM per_doc GROUP BY source)
         |SELECT source, n_docs, n_emails, n_phones, n_tokens, docs_with_pii,
         |       ROUND(1000.0 * CAST(n_emails AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) + 0.0 AS emails_per_kilotoken,
         |       ROUND(1000.0 * CAST(n_phones AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) + 0.0 AS phones_per_kilotoken
         |FROM agg ORDER BY source""".stripMargin
    },

    // q112: the q109 chain with the word identity carried through every
    // merge round; segment counts per vocabulary word then join back to
    // (source, word) occurrences.
    "q112_bpe_fertility" ->
      s"""${bpeOracle(numMerges = 8, carryWord = true, noFinal = true)}
         |srcw AS (
         |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
         |  FROM documents),
         |segs AS (SELECT w, len(syms) AS nseg FROM w8)
         |SELECT source, COUNT(*) AS n_words,
         |       CAST(SUM(nseg) AS BIGINT) AS n_tokens,
         |       ROUND(CAST(SUM(nseg) AS DOUBLE) / COUNT(*), 4) AS fertility
         |FROM srcw JOIN segs USING (w)
         |GROUP BY source ORDER BY source""".stripMargin,

    // q213: two independent BPE trains from raw documents — the batch-1
    // slice and the full corpus (= the folded union's counts) — equality
    // with the engine's fold-then-train chain is the proof.
    "q213_bpe_incremental" ->
      s"""WITH ${bpeOracleP("x", "WHERE doc_id % 3 != 0", 8)},
         |${bpeOracleP("", "", 8)}
         |SELECT phase, merge_rank, "left", "right", merged, pair_count FROM (
         |  SELECT '1_after_b1' AS phase, * FROM (
         |  ${bpeMergeSel("x", 8)})
         |  UNION ALL
         |  SELECT '2_after_b2', * FROM (
         |  ${bpeMergeSel("", 8)}))
         |ORDER BY phase, merge_rank""".stripMargin,

    // q211: the full pruning loop replayed — final vocab joined to its
    // recomputed usage.
    "q211_unigram_train" ->
      s"""WITH ${unigramOracle(seedSize = 60, maxPieceLen = 4, pruneN = 12, rounds = 3)}
         |SELECT t.piece, CAST(length(t.piece) AS INT) AS piece_len,
         |       CAST(COALESCE(u.usage, 0) AS BIGINT) AS usage
         |FROM v3 t LEFT JOIN useF u ON t.piece = u.piece
         |ORDER BY usage DESC, t.piece""".stripMargin,

    // q212: the q109 BPE chain (word identity carried) and the q211
    // unigram chain segmenting the same word table, fertility per
    // tokenizer × source.
    "q212_unigram_fertility" ->
      s"""${bpeOracle(numMerges = 8, carryWord = true, noFinal = true)}
         |${unigramOracle(seedSize = 60, maxPieceLen = 4, pruneN = 12, rounds = 3)},
         |srcw AS (
         |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
         |  FROM documents),
         |bsegs AS (SELECT w, len(syms) AS nseg FROM w8),
         |usegs AS (SELECT w, len(segs) AS nseg FROM segF)
         |SELECT tokenizer, source, n_words, n_tokens,
         |       ROUND(CAST(n_tokens AS DOUBLE) / n_words, 4) AS fertility
         |FROM (
         |  SELECT 'bpe' AS tokenizer, source, COUNT(*) AS n_words,
         |         CAST(SUM(nseg) AS BIGINT) AS n_tokens
         |  FROM srcw JOIN bsegs USING (w) GROUP BY source
         |  UNION ALL
         |  SELECT 'unigram', source, COUNT(*), CAST(SUM(nseg) AS BIGINT)
         |  FROM srcw JOIN usegs USING (w) GROUP BY source)
         |ORDER BY tokenizer, source""".stripMargin,

    // q130: the q110 fold one level up — trigram counts, continuation-type
    // tables (bt = distinct (w2,w3) trigram-derived bigram types), the KN
    // interpolation written in the identical left-to-right association.
    "q130_kn_trigram_lm" -> s"""$KnChainSql
        |SELECT d.doc_id, COALESCE(a.n_trigrams, 0) AS n_trigrams,
        |       COALESCE(a.avg_nll, 0.0) AS avg_nll
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q135: the q130 chain scored frame → ROW_NUMBER over the two-column
    // (score, id) key (no arithmetic packing — exact for any id range) →
    // equal-population decile buckets → mix2-ordered position within each.
    "q135_curriculum_order" -> s"""$KnChainSql,
        |scored AS (
        |  SELECT d.doc_id, COALESCE(a.avg_nll, 0.0) AS avg_nll
        |  FROM (SELECT doc_id FROM documents) d
        |  LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |rk AS (
        |  SELECT doc_id, avg_nll,
        |         ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS difficulty_rank
        |  FROM scored),
        |nn AS (SELECT COUNT(*) AS n FROM scored),
        |bk AS (
        |  SELECT rk.*, CAST(FLOOR((difficulty_rank - 1) * 10 / CAST(n AS DOUBLE)) AS INT) AS bucket
        |  FROM rk CROSS JOIN nn),
        |fin AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY
        |      ((((doc_id % 2147483648) * 1664525 + 1013904223) % 2147483648 * 1103515245 + 12345) % 2147483648),
        |      doc_id) AS INT) AS pos_in_bucket
        |  FROM bk)
        |SELECT doc_id, avg_nll, difficulty_rank, bucket, pos_in_bucket
        |FROM fin ORDER BY doc_id""".stripMargin,


    // q157: same dirtying; top = the MOST FREQUENT gram's c*len (row_number
    // ties toward longer grams), dup = the exact non-double-counting char
    // COVER of duplicated-gram occurrences (positions ride a struct
    // unnest; token positions k=0 and occurrence-INTERIOR space slots k=1
    // dedup in one distinct — a space counts only when a single occurrence
    // contains it, never the join between abutting spans); fractions one
    // division each, -0.0 guarded.
    "q157_gopher_ngram_repetition" ->
      """WITH dirty AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' the quick brown fox jumps over the lazy dog the quick brown fox jumps over the lazy dog'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' spark spark spark spark' ELSE '' END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, length(text) AS nch,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM dirty),
        |gt AS (
        |  SELECT doc_id, n.n AS n,
        |         unnest(CASE WHEN len(toks) >= n.n
        |           THEN list_transform(range(1, len(toks) - n.n + 2),
        |                               i -> array_to_string(toks[i : i + n.n - 1], ' '))
        |           ELSE [] END) AS gram
        |  FROM t CROSS JOIN (SELECT unnest(range(2, 5)) AS n) n),
        |ct AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM gt GROUP BY 1, 2, 3),
        |mt AS (
        |  SELECT doc_id, n, c * length(gram) AS topc
        |  FROM (SELECT doc_id, n, gram, c,
        |               ROW_NUMBER() OVER (PARTITION BY doc_id, n
        |                                  ORDER BY c DESC, length(gram) DESC) AS rn
        |        FROM ct)
        |  WHERE rn = 1),
        |gd AS (
        |  SELECT doc_id, n, s['i'] AS i, s['gram'] AS gram FROM (
        |    SELECT doc_id, n.n AS n,
        |           unnest(CASE WHEN len(toks) >= n.n
        |             THEN list_transform(range(1, len(toks) - n.n + 2),
        |                  i -> {'i': i - 1, 'gram': array_to_string(toks[i : i + n.n - 1], ' ')})
        |             ELSE [] END) AS s
        |    FROM t CROSS JOIN (SELECT unnest(range(5, 11)) AS n) n)),
        |dk AS (SELECT doc_id, n, gram FROM gd GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
        |occ AS (SELECT gd.doc_id, gd.n, gd.i FROM gd JOIN dk USING (doc_id, n, gram)),
        |cov AS (SELECT DISTINCT doc_id, n, k, pos FROM
        |          (SELECT doc_id, n, 0 AS k, unnest(range(i, i + n)) AS pos FROM occ
        |           UNION ALL
        |           SELECT doc_id, n, 1 AS k, unnest(range(i, i + n - 1)) AS pos FROM occ)),
        |tl AS (SELECT doc_id, i - 1 AS pos, length(toks[i]) AS tl
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
        |md AS (SELECT c.doc_id, c.n,
        |              SUM(CASE WHEN c.k = 1 THEN 1 ELSE tl.tl END) AS dupc
        |       FROM cov c JOIN tl ON c.doc_id = tl.doc_id AND c.pos = tl.pos
        |       GROUP BY 1, 2),
        |p AS (
        |  SELECT COALESCE(mt_p.doc_id, md_p.doc_id) AS doc_id, t2, t3, t4, d5, d6, d7, d8, d9, d10
        |  FROM (SELECT doc_id,
        |               MAX(CASE WHEN n = 2 THEN topc END) AS t2,
        |               MAX(CASE WHEN n = 3 THEN topc END) AS t3,
        |               MAX(CASE WHEN n = 4 THEN topc END) AS t4
        |        FROM mt GROUP BY 1) mt_p
        |  FULL OUTER JOIN
        |       (SELECT doc_id,
        |               MAX(CASE WHEN n = 5 THEN dupc END) AS d5,
        |               MAX(CASE WHEN n = 6 THEN dupc END) AS d6,
        |               MAX(CASE WHEN n = 7 THEN dupc END) AS d7,
        |               MAX(CASE WHEN n = 8 THEN dupc END) AS d8,
        |               MAX(CASE WHEN n = 9 THEN dupc END) AS d9,
        |               MAX(CASE WHEN n = 10 THEN dupc END) AS d10
        |        FROM md GROUP BY 1) md_p
        |  ON mt_p.doc_id = md_p.doc_id)
        |SELECT t.doc_id,
        |       ROUND(CAST(COALESCE(t2, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS top2_frac,
        |       ROUND(CAST(COALESCE(t3, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS top3_frac,
        |       ROUND(CAST(COALESCE(t4, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS top4_frac,
        |       ROUND(CAST(COALESCE(d5, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup5_frac,
        |       ROUND(CAST(COALESCE(d6, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup6_frac,
        |       ROUND(CAST(COALESCE(d7, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup7_frac,
        |       ROUND(CAST(COALESCE(d8, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup8_frac,
        |       ROUND(CAST(COALESCE(d9, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup9_frac,
        |       ROUND(CAST(COALESCE(d10, 0) AS DOUBLE) / CAST(nch AS DOUBLE), 4) + 0.0 AS dup10_frac
        |FROM t LEFT JOIN p ON t.doc_id = p.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // q154: identical page synthesis (chr(10) newlines), line filter via
    // list_filter with the same last-char/word-count/javascript predicate,
    // token-exact blocklist via list_contains, md5 of the rejoined
    // survivors; reason precedence mirrored exactly.
    "q154_c4_rules" ->
      """WITH page AS (
        |  SELECT doc_id,
        |         substr(text, 1, 80) || ' extra pad words.'
        |         || CASE WHEN doc_id % 19 <> 0
        |              THEN chr(10) || 'a second good line with enough words.'
        |                || chr(10) || 'third informative line with many words.'
        |              ELSE '' END
        |         || chr(10) || 'short one.' || chr(10) || 'no terminal punctuation in this line'
        |         || CASE WHEN doc_id % 7 = 0
        |              THEN chr(10) || 'please enable javascript for this page.' ELSE '' END
        |         || CASE WHEN doc_id % 11 = 0
        |              THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
        |         || CASE WHEN doc_id % 13 = 0
        |              THEN chr(10) || 'config { value: 1 } end of block.' ELSE '' END
        |         || CASE WHEN doc_id % 17 = 0
        |              THEN chr(10) || 'badword1 appears in this line today.' ELSE '' END AS text
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, text,
        |         string_split(text, chr(10)) AS lines,
        |         list_filter(string_split(text, chr(10)), l ->
        |           substr(l, -1, 1) IN ('.', '!', '?', '"')
        |           AND len(list_filter(regexp_split_to_array(trim(l), '\s+'), x -> x <> '')) >= 5
        |           AND NOT contains(lower(l), 'javascript')) AS kept_lines
        |  FROM page)
        |SELECT doc_id,
        |       CAST(len(lines) AS INT) AS lines_total,
        |       CAST(len(kept_lines) AS INT) AS lines_kept,
        |       CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
        |            WHEN contains(text, '{') THEN 'brace'
        |            WHEN list_contains(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''), 'badword1') THEN 'blocklist'
        |            WHEN len(kept_lines) < 3 THEN 'too_few_lines'
        |            ELSE 'ok' END AS reason,
        |       md5(array_to_string(kept_lines, chr(10))) AS cleaned_md5,
        |       CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{')
        |              OR list_contains(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''), 'badword1')
        |              OR len(kept_lines) < 3
        |            THEN FALSE ELSE TRUE END AS kept
        |FROM sp
        |ORDER BY doc_id""".stripMargin,

    // q153: identical string assembly (chr(10) = the Spark lit newline),
    // prefix sums over (conv, turn), ordered string_agg -> md5; every
    // offset is pure integer arithmetic.
    "q153_chat_render" ->
      """WITH turns AS (
        |  SELECT CAST((doc_id - doc_id % 4) / 4 AS BIGINT) AS conv_id,
        |         doc_id % 4 AS turn_idx,
        |         CASE doc_id % 4 WHEN 0 THEN 'system' WHEN 2 THEN 'assistant'
        |              ELSE 'user' END AS role,
        |         substr(text, 1, 120) AS content
        |  FROM documents),
        |seg AS (
        |  SELECT conv_id, turn_idx, role, content,
        |         '<|im_start|>' || role || chr(10) || content || '<|im_end|>' || chr(10) AS s
        |  FROM turns),
        |pre AS (
        |  SELECT conv_id, turn_idx, role, content,
        |         COALESCE(SUM(length(s)) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM seg),
        |cv AS (
        |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |         CAST(SUM(length(s)) AS BIGINT) AS conv_len,
        |         md5(string_agg(s, '' ORDER BY turn_idx)) AS conv_md5
        |  FROM seg GROUP BY conv_id)
        |SELECT p.conv_id, p.turn_idx,
        |       CAST(p.prefix + 12 + length(p.role) + 2 AS BIGINT) AS loss_start,
        |       CAST(p.prefix + 12 + length(p.role) + 1 + length(p.content) AS BIGINT) AS loss_end,
        |       cv.n_turns, cv.conv_len, cv.conv_md5
        |FROM pre p JOIN cv ON p.conv_id = cv.conv_id
        |WHERE p.role = 'assistant'
        |ORDER BY p.conv_id, p.turn_idx""".stripMargin,

    // q152: the q130 chain + per-language histogram cumulative counts →
    // integer-compared tertile value thresholds → verdict join. The
    // boundary comparison cum*3 >= n never touches a float.
    "q152_perplexity_gate" -> s"""$KnChainSql,
        |scored AS (
        |  SELECT d.doc_id, d.lang, COALESCE(a.n_trigrams, 0) AS n_trigrams,
        |         COALESCE(a.avg_nll, 0.0) AS avg_nll
        |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |hist AS (SELECT lang, avg_nll, COUNT(*) AS c FROM scored GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, avg_nll, c,
        |         SUM(c) OVER (PARTITION BY lang ORDER BY avg_nll
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(c) OVER (PARTITION BY lang) AS n
        |  FROM hist),
        |th AS (
        |  SELECT lang,
        |         MIN(CASE WHEN cum * 3 >= n THEN avg_nll END) AS t1,
        |         MIN(CASE WHEN cum * 3 >= n * 2 THEN avg_nll END) AS t2
        |  FROM cum GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.n_trigrams, s.avg_nll,
        |       CASE WHEN s.avg_nll <= th.t1 THEN 'head'
        |            WHEN s.avg_nll <= th.t2 THEN 'middle'
        |            ELSE 'tail' END AS pp_bucket,
        |       s.avg_nll <= th.t2 AS kept
        |FROM scored s JOIN th ON s.lang = th.lang
        |ORDER BY s.doc_id""".stripMargin,

    // q110: the q78 list_reduce fold twin over bigram NLLs; both
    // interpolation weights are exact binary doubles (0.75/0.25), and the
    // trailing + 0.0 normalizes the -ln(1.0) = -0.0 edge on both sides.
    "q110_bigram_lm" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT tok, COUNT(*) AS c1
        |  FROM (SELECT unnest(toks) AS tok FROM docs) GROUP BY tok),
        |tot AS (SELECT SUM(c1) AS total FROM uni),
        |bi AS (
        |  SELECT doc_id, i.i AS pos, toks[i.i] AS w1, toks[i.i+1] AS w2
        |  FROM docs, unnest(range(1, len(toks))) AS i(i)),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
        |nlls AS (
        |  SELECT b.doc_id, b.pos,
        |         -ln(0.75 * (CAST(bc.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
        |             + 0.25 * (CAST(u2.c1 AS DOUBLE) / CAST(t.total AS DOUBLE))) AS nll
        |  FROM bi b
        |  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |  JOIN uni u1 ON u1.tok = b.w1
        |  JOIN uni u2 ON u2.tok = b.w2
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |         ROUND(list_reduce(list_prepend(0.0, list(nll ORDER BY pos)),
        |                           (a, x) -> a + x) / COUNT(*), 4) + 0.0 AS avg_nll
        |  FROM nlls GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(a.avg_nll, 0.0) AS avg_nll
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin
  )

  /** Generated CTE chain replaying [[Vocab.bpeTrain]]: w0 = the char-split
    * word-frequency table; each round t counts adjacent pairs (weighted by
    * word count), takes the (c DESC, a, b) argmax, and re-folds every word
    * with DuckDB's list_reduce running the IDENTICAL string-accumulator
    * merge fold (chr(31) separator) as the Spark expression. */
  /** Unigram-LM oracle fragment (no leading WITH): replays
    * [[graft.operators.Vocab.unigramTrain]] round by round — word counts,
    * substring seeding, per-round (bestLen table → leftmost-longest fold →
    * usage → prune cut) — landing the final vocabulary in CTE
    * `v$rounds` and its recomputed usage in `useF`. Each round's CTEs are
    * vocabulary-sized; the fold is the chr(31) string-accumulator idiom
    * with a `pos|segs` carrier (skipped positions pass the accumulator
    * through). */
  private def unigramOracle(seedSize: Int, maxPieceLen: Int, pruneN: Int,
                            rounds: Int): String = {
    def segChain(r: String, vocab: String): String =
      s"""bl$r AS (
         |  SELECT c.w, c.p, MAX(c.l) AS bl
         |  FROM cpc c JOIN $vocab t ON c.piece = t.piece
         |  GROUP BY c.w, c.p),
         |bla$r AS (
         |  -- per-position (index, bestLen, piece) packs RELATIONALLY into
         |  -- the element list (plain column expressions, no lambda): the
         |  -- walk's fold below then touches only acc and x — DuckDB 1.0
         |  -- lambdas that reference outer columns mis-bind across rows
         |  -- when the list length itself varies per row
         |  SELECT p.w,
         |         list(CAST(p.p AS VARCHAR) || chr(30) ||
         |              CAST(COALESCE(b.bl, 1) AS VARCHAR) || chr(30) ||
         |              substr(p.w, p.p, COALESCE(b.bl, 1)) ORDER BY p.p) AS els
         |  FROM upos p LEFT JOIN bl$r b ON p.w = b.w AND p.p = b.p
         |  GROUP BY p.w),
         |seg$r AS (
         |  SELECT d.w, d.cnt,
         |    string_split(split_part(list_reduce(list_prepend('1' || chr(29), a.els),
         |      -- the skip branch REBUILDS acc instead of returning it:
         |      -- DuckDB 1.0's list_reduce corrupts row alignment when a
         |      -- lambda branch passes the accumulator through unchanged
         |      (acc, x) -> CASE
         |        WHEN CAST(split_part(x, chr(30), 1) AS INT)
         |             != CAST(split_part(acc, chr(29), 1) AS INT)
         |          THEN split_part(acc, chr(29), 1) || chr(29) || split_part(acc, chr(29), 2)
         |        ELSE CAST(CAST(split_part(acc, chr(29), 1) AS INT)
         |               + CAST(split_part(x, chr(30), 2) AS INT) AS VARCHAR) || chr(29) ||
         |          CASE WHEN split_part(acc, chr(29), 2) = ''
         |               THEN split_part(x, chr(30), 3)
         |               ELSE split_part(acc, chr(29), 2) || chr(31) ||
         |                    split_part(x, chr(30), 3)
         |          END
         |      END), chr(29), 2), chr(31)) AS segs
         |  FROM wds d JOIN bla$r a ON d.w = a.w),
         |use$r AS (
         |  SELECT piece, SUM(cnt) AS usage
         |  FROM (SELECT unnest(segs) AS piece, cnt FROM seg$r)
         |  GROUP BY piece)""".stripMargin
    def pruneRound(r: Int): String =
      s"""${segChain(r.toString, s"v$r")},
         |scored$r AS (
         |  SELECT t.piece, COALESCE(u.usage, 0) AS usage
         |  FROM v$r t LEFT JOIN use$r u ON t.piece = u.piece),
         |prune$r AS (
         |  SELECT piece FROM scored$r WHERE length(piece) >= 2
         |  ORDER BY usage ASC, length(piece) DESC, piece LIMIT $pruneN),
         |v${r + 1} AS (
         |  SELECT piece FROM v$r
         |  WHERE piece NOT IN (SELECT piece FROM prune$r))""".stripMargin
    s"""wds AS (
       |  SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                              x -> x <> '')) AS w
       |    FROM documents) GROUP BY w),
       |upos AS (SELECT w, cnt, unnest(range(1, len(w)+1)) AS p FROM wds),
       |ucnd AS (SELECT w, cnt, p, unnest(range(2, ${maxPieceLen + 1})) AS l FROM upos),
       |cpc AS (SELECT w, cnt, p, l, substr(w, p, l) AS piece FROM ucnd
       |        WHERE p + l - 1 <= len(w)),
       |subs AS (SELECT piece, SUM(cnt) AS freq FROM cpc GROUP BY piece),
       |top0 AS (SELECT piece FROM subs ORDER BY freq DESC, piece LIMIT $seedSize),
       |chr0 AS (SELECT DISTINCT substr(w, p, 1) AS piece FROM upos),
       |v0 AS (SELECT piece FROM top0 UNION ALL SELECT piece FROM chr0),
       |${(0 until rounds).map(pruneRound).mkString(",\n")},
       |${segChain("F", s"v$rounds")}""".stripMargin
  }

  private def bpeOracle(numMerges: Int, carryWord: Boolean = false,
                        noFinal: Boolean = false): String = {
    val chain = "WITH " + bpeOracleP("", "", numMerges, carryWord)
    if (noFinal) chain + ","
    else
      s"""$chain
         |SELECT * FROM (
         |  ${bpeMergeSel("", numMerges)})
         |ORDER BY merge_rank""".stripMargin
  }

  /** [[bpeOracle]]'s chain as a composable fragment: every CTE name
    * prefixed with `p` (so several chains — per-batch and full-corpus
    * trains — can share one WITH), the corpus restricted by
    * `whereClause`, no leading WITH, no final select. */
  private def bpeOracleP(p: String, whereClause: String, numMerges: Int,
                         carryWord: Boolean = false): String = {
    val wSel = if (carryWord) "w, " else ""
    def round(t: Int): String =
      s"""${p}p$t AS (
         |  SELECT syms[i.i] AS a, syms[i.i+1] AS b, SUM(cnt) AS c
         |  FROM ${p}w${t - 1}, unnest(range(1, len(syms))) AS i(i)
         |  GROUP BY 1, 2),
         |${p}m$t AS (SELECT a, b, c FROM ${p}p$t ORDER BY c DESC, a, b LIMIT 1),
         |${p}w$t AS (
         |  SELECT ${wSel}string_split(list_reduce(list_prepend('', syms), (acc, x) ->
         |    CASE WHEN acc = '' THEN x
         |         WHEN x = m.b AND (acc = m.a OR ends_with(acc, chr(31) || m.a)) THEN acc || x
         |         ELSE acc || chr(31) || x END), chr(31)) AS syms, cnt
         |  FROM ${p}w${t - 1}, ${p}m$t m)""".stripMargin
    val rounds = (1 to numMerges).map(round).mkString(",\n")
    s"""${p}toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
       |  FROM documents $whereClause),
       |${p}w0 AS (
       |  SELECT ${wSel}string_split(w, '') AS syms, COUNT(*) AS cnt FROM ${p}toks GROUP BY w),
       |$rounds""".stripMargin
  }

  /** The per-merge final-select union off a (possibly prefixed) chain. */
  private def bpeMergeSel(p: String, numMerges: Int): String =
    (1 to numMerges).map(t =>
      s"""SELECT $t AS merge_rank, a AS "left", b AS "right", a||b AS merged, CAST(c AS BIGINT) AS pair_count FROM ${p}m$t""")
      .mkString("\n  UNION ALL ")
}
