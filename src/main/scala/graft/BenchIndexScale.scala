package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Growing-index scaling measurement for the incremental trio — the one
  * 100 TB axis the per-round fixtures deliberately do NOT measure (they pin
  * the seen index to a fixed doc slice at every SF, so every committed
  * curve measures the BATCH side only; production cost is batch-vs-INDEX):
  *
  *   - q129's [[graft.operators.Curate.funnelIncrementalPersisted]]
  *   - q132's [[graft.operators.Dedup.fuzzyDedupIncremental]]
  *   - q134's [[graft.operators.Dedup.repeatedSpansIncremental]]
  *   - q143's [[graft.operators.Dedup.simhashIncrementalPairs]]
  *   - q145's [[graft.operators.Similarity.CosineLshIndex.probe]]
  *
  * A FIXED batch is curated against seen corpora at 1x / 5x / 25x, built by
  * GenScale-style key-shifted token-suffixed replication (cross-copy
  * disjoint — a k× corpus behaves like a k×-larger world, not k stacked
  * clones). Every index is built ONCE per scale, repartitioned on its probe
  * key, and localCheckpoint'd (the persisted-bucketed-table stand-in:
  * checkpointed plans keep their outputPartitioning, so per-batch probes
  * reuse the stored layout instead of re-exchanging the index); index
  * BUILD time is reported separately from per-batch CURATION time — the
  * build amortizes over every future batch, the curation cost is the daily
  * bill. The §2.9 watermark contract (incremental cost must not depend on
  * history size) predicts flat-to-logarithmic batch cost in index size.
  *
  * Usage: runMain graft.BenchIndexScale [sfDir] [runs]
  * Emits one JSON line per (operator, scale) with build/median-batch
  * seconds, then a summary table on stderr-free stdout.
  */
object BenchIndexScale {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = Session()
    import graft.operators.{Curate, Dedup, Similarity}

    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    // fixed batch: the TOP id slice (≈10% of the base corpus), shifted out
    // of every replica's id range
    val batchN = math.max(50L, nDocs / 10)
    val batch3 = docs.filter(col("doc_id") >= nDocs - batchN)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"), col("lang"))
      .localCheckpoint()
    val batch2 = batch3.select("doc_id", "text").localCheckpoint()
    val seenBase = docs.filter(col("doc_id") < nDocs - batchN)

    /** k key-shifted token-suffixed copies of the seen base (GenScale's
      * documents rule): within-copy duplicate structure preserved,
      * cross-copy shingles/fingerprints disjoint. */
    def seenAt(k: Int): DataFrame =
      (0 until k).map { c =>
        val shifted = seenBase.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          col("text"), col("lang"))
        if (c == 0) shifted
        else shifted.withColumn("text",
          array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_$c"))), " "))
      }.reduce(_ unionByName _)

    def time[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }

    val stopwords = graft.analytics.TextQueries.Stopwords
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Double, Double)]

    for (k <- Seq(1, 5, 25)) {
      val seen = seenAt(k).localCheckpoint()
      val seenSize = seen.count()

      // --- q129 funnel: index build once (materialized = probe-keyed
      // checkpoint), then per-batch curation wall ---
      val (bIdx, idx) = time {
        Curate.buildIndex(seen, "doc_id", "text", "lang", stopwords,
          evalPred = col("doc_id") % 50 === 0).materialized()
      }
      val funnelSecs = (1 to runs).map { _ =>
        time(Curate.funnelIncrementalPersisted(batch3, "doc_id", "text", "lang",
          stopwords, idx).funnel.counts.collect())._1
      }
      rows += (("funnelIncremental", k, seenSize, bIdx, median(funnelSecs)))

      // --- q132 fuzzy dedup: banded index built once, probe-keyed ---
      val (bBand, banded) = time {
        Dedup.bandedSignatures(seen.select("doc_id", "text"), "doc_id", "text")
          .repartition(col("band"), col("bucket")).localCheckpoint()
      }
      val seenDocs = seen.select("doc_id", "text").localCheckpoint()
      val fuzzySecs = (1 to runs).map { _ =>
        time(Dedup.fuzzyDedupIncremental(batch2, seenDocs, banded,
          "doc_id", "text").count())._1
      }
      rows += (("fuzzyDedupIncremental", k, seenSize, bBand, median(fuzzySecs)))

      // --- q134 repeated spans: gram-hash index built once, probe-keyed ---
      val (bSpan, spanIdx) = time {
        Dedup.buildRepeatedSpanIndex(seen, "doc_id", "text")
          .repartition(col("gh1"), col("gh2")).localCheckpoint()
      }
      val spanSecs = (1 to runs).map { _ =>
        time(Dedup.repeatedSpansIncremental(batch2, spanIdx, "doc_id", "text")
          .queryExecution.toRdd.count())._1
      }
      rows += (("repeatedSpansIncremental", k, seenSize, bSpan, median(spanSecs)))

      // --- q143 simhash: chunked signature index built once, probe-keyed ---
      val (bSim, simIdx) = time {
        Dedup.buildSimhashIndex(seen.select("doc_id", "text"), "doc_id", "text")
          .repartition(col("chunk_idx"), col("chunk")).localCheckpoint()
      }
      val simSecs = (1 to runs).map { _ =>
        time(Dedup.simhashIncrementalPairs(batch2, simIdx, "doc_id", "text")
          .queryExecution.toRdd.count())._1
      }
      rows += (("simhashIncremental", k, seenSize, bSim, median(simSecs)))

      // --- q158 media: chunked perceptual-hash index built once,
      // probe-keyed. Fingerprints here are LCG stand-ins (the scaling axis
      // is INDEX size, not decode cost — aHash/energyHash run at ingest in
      // production and the probe never re-decodes) ---
      def mediaHash(df: DataFrame): DataFrame = df.select(col("doc_id"),
        ((col("doc_id") * 1103515245L + 12345L) % 2147483648L).as("hi"),
        ((col("doc_id") * 1664525L + 1013904223L) % 2147483648L).as("lo"))
      val (bMed, medIdx) = time {
        graft.operators.Multimodal.buildMediaIndex(mediaHash(seen),
            "doc_id", "hi", "lo", 32, 32, "img")
          .repartition(col("modality"), col("chunk_idx"), col("chunk"))
          .localCheckpoint()
      }
      val medSecs = (1 to runs).map { _ =>
        time(graft.operators.Multimodal.mediaIncrementalPairs(
          mediaHash(batch2), medIdx, "doc_id", "hi", "lo", 32, 32, "img")
          .queryExecution.toRdd.count())._1
      }
      rows += (("mediaIncremental", k, seenSize, bMed, median(medSecs)))

      // --- q164 edit distance: poly-31 trigram-hash index built once,
      // probe-keyed; the verify side reads seen TEXT by id (checkpointed,
      // id-keyed — the production seenDocs table stand-in) ---
      val (bEdit, editIdx) = time {
        Dedup.buildEditIndex(seen, "doc_id", "text")
          .repartition(col("gh")).localCheckpoint()
      }
      val seenTexts = seen.select("doc_id", "text")
        .repartition(col("doc_id")).localCheckpoint()
      val editSecs = (1 to runs).map { _ =>
        time(Dedup.editDistanceIncremental(batch2, seenTexts, editIdx,
          "doc_id", "text", maxEdits = 3)
          .queryExecution.toRdd.count())._1
      }
      rows += (("editDistanceIncremental", k, seenSize, bEdit, median(editSecs)))

      // --- q145 cosine: sign-LSH index (bands + stored vecs) built once,
      // each table probe-keyed. Replicas are CIRCULARLY SHIFTED (shifts of
      // a random vector are near-orthogonal), not rescaled — rescale is
      // cosine-identical and would co-bucket every replica instead of
      // growing the world ---
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val nVec = emb.count()
      val batchE = emb.filter(col("vec_id") >= nVec - 500)
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
        .localCheckpoint()
      val seenEmb = (0 until k).map { c =>
        val shifted = emb.filter(col("vec_id") < nVec - 500)
          .select((col("vec_id") + lit(c * 1000000L)).as("vec_id"), col("embedding"))
        if (c == 0) shifted
        else shifted.withColumn("embedding",
          concat(slice(col("embedding"), c + 1, 64 - c), slice(col("embedding"), 1, c)))
      }.reduce(_ unionByName _).localCheckpoint()
      val embSeen = seenEmb.count()
      val (bCos, cosIdx) = time {
        // 8-bit pinned: the documented undersized-bucket lesson curve
        // (linear candidate growth) — kept as the contrast row
        val idx0 = Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding",
          64, bands = 8, bitsPerBand = 8)
        idx0.copy(
          bands = idx0.bands.repartition(col("band"), col("bucket")).localCheckpoint(),
          vecs = idx0.vecs.repartition(col("id")).localCheckpoint())
      }
      val cosSecs = (1 to runs).map { _ =>
        time(cosIdx.probe(batchE, "vec_id", "embedding", 0.99)
          .queryExecution.toRdd.count())._1
      }
      rows += (("cosineIncremental", k, embSeen, bCos, median(cosSecs)))

      // same probe with 16-bit buckets: bucket count 256 -> 65 536 per
      // band, so the constant-rate false-collision mass (the linear-growth
      // term at 8 bits) drops ~256x — the knob a growing corpus turns
      val (bCos16, cosIdx16) = time {
        val idx0 = Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding",
          64, bands = 8, bitsPerBand = 16)
        idx0.copy(
          bands = idx0.bands.repartition(col("band"), col("bucket")).localCheckpoint(),
          vecs = idx0.vecs.repartition(col("id")).localCheckpoint())
      }
      val cos16Secs = (1 to runs).map { _ =>
        time(cosIdx16.probe(batchE, "vec_id", "embedding", 0.99)
          .queryExecution.toRdd.count())._1
      }
      rows += (("cosineIncremental16", k, embSeen, bCos16, median(cos16Secs)))

      // AUTO-sized (the buildCosineLshIndex default since r10): bits
      // derived from the index cardinality — the production setting with
      // no knob turned; must track the flat 16-bit curve, not the 8-bit one
      val (bCosA, cosIdxA) = time {
        val idx0 = Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding", 64)
        idx0.copy(
          bands = idx0.bands.repartition(col("band"), col("bucket")).localCheckpoint(),
          vecs = idx0.vecs.repartition(col("id")).localCheckpoint())
      }
      val cosASecs = (1 to runs).map { _ =>
        time(cosIdxA.probe(batchE, "vec_id", "embedding", 0.99)
          .queryExecution.toRdd.count())._1
      }
      rows += ((s"cosineIncrementalAuto(bits=${cosIdxA.bitsPerBand})",
        k, embSeen, bCosA, median(cosASecs)))

      // --- q195 triangle advance: seen link graph at k×, fixed edge
      // delta. The probe streams the seen graph (broadcast delta +
      // broadcast wedge candidates, zero state-side shuffles) — the curve
      // must stay flat in seen-graph size up to the scan term ---
      import graft.operators.Rank
      val (bTri, oldE) = time {
        val e = seen.select(col("doc_id").as("src"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("r"))
          .select(col("src"),
            pmod(graft.functions.PortableHash.mixpCol(col("src") * 7 + col("r")),
              lit(seenSize)).as("dst"))
        Rank.canonicalEdges(e).localCheckpoint()
      }
      val deltaE = {
        val e = batch3.select(col("doc_id").as("src"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("r"))
          .select(col("src"),
            pmod(graft.functions.PortableHash.mixpCol(col("src") * 7 + col("r")),
              lit(seenSize)).as("dst"))
        Rank.canonicalEdges(e).join(oldE, Seq("u", "v"), "left_anti")
          .localCheckpoint()
      }
      val triSecs = (1 to runs).map { _ =>
        time(Rank.triangleDeltaCount(oldE, deltaE))._1
      }
      rows += (("triangleDeltaIncremental", k, seenSize, bTri, median(triSecs)))

      // --- q200 BFS advance: settled-distance state on the k× seen graph,
      // fixed edge delta; relaxation touches only the affected region ---
      val (bBfs, bfsState) = time {
        Rank.bfsDistances(
            oldE.select(col("u").as("src"), col("v").as("dst")), 0L, 4)
          .localCheckpoint()
      }
      val bfsSecs = (1 to runs).map { _ =>
        time(Rank.bfsAdvance(
            oldE.select(col("u").as("src"), col("v").as("dst")), bfsState,
            deltaE.select(col("u").as("src"), col("v").as("dst")), 4)
          .queryExecution.toRdd.count())._1
      }
      rows += (("bfsAdvanceIncremental", k, seenSize, bBfs, median(bfsSecs)))

      // --- q202 components advance: min-label state on a k× sparse graph,
      // fixed delta; the fixed point runs on the LABEL graph only ---
      val (bCmp, cmpState) = time {
        val sparse = seen.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("src"),
            pmod(graft.functions.PortableHash.mixpCol(col("doc_id") * 11 + 1),
              lit(seenSize)).as("dst"))
          .filter(col("src") =!= col("dst"))
        graft.operators.Dedup.dupClusters(
            seen.select(col("doc_id").as("node")), "node",
            Rank.canonicalEdges(sparse), "u", "v")
          .select(col("node"), col("cluster_id").as("label"))
          .repartition(col("node")).localCheckpoint()
      }
      val cmpDelta = batch3.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src"),
          pmod(graft.functions.PortableHash.mixpCol(col("doc_id") * 11 + 1),
            lit(seenSize)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .localCheckpoint()
      val cmpSecs = (1 to runs).map { _ =>
        time(Rank.componentsAdvance(cmpState, cmpDelta)
          .queryExecution.toRdd.count())._1
      }
      rows += (("componentsAdvanceIncremental", k, seenSize, bCmp, median(cmpSecs)))

      // --- q196 funnel advance vs recompute: EVENT HISTORY at k× (same
      // user universe — the state stays entity-grain), fixed event batch.
      // The claim under measurement: advancing the cascade state never
      // rescans historical events, so the advance is FLAT in history
      // volume while the from-scratch recompute (the contrast row) grows
      // with it ---
      import graft.operators.Aggregates
      val fSteps = Seq("a" -> (col("event_type") === "view"),
        "b" -> (col("event_type") === "click"),
        "c" -> (col("event_type") === "purchase"))
      val ev = Tables.events(spark, sfDir)
      val evN = ev.count()
      val evBatch = ev.filter(col("event_id") >= evN - evN / 10)
        .select(col("user_id"), col("ts"), col("event_type"))
        .localCheckpoint()
      // k replicas of the history, ts jittered by c seconds: per-user
      // event volume grows k×, the user universe (= state size) does not
      val seedEv = (0 until k).map { c =>
        ev.filter(col("event_id") < evN - evN / 10)
          .select(col("user_id"),
            (col("ts") + expr(s"INTERVAL $c SECOND")).as("ts"),
            col("event_type"))
      }.reduce(_ unionByName _).localCheckpoint()
      val (bFun, funState) = time {
        Aggregates.funnelAdvance(Aggregates.funnelEmptyState(spark, 3),
            seedEv, col("user_id"), col("ts"), fSteps)
          .repartition(col("_e")).localCheckpoint()
      }
      val funSecs = (1 to runs).map { _ =>
        time(Aggregates.funnelAdvance(funState, evBatch,
            col("user_id"), col("ts"), fSteps)
          .queryExecution.toRdd.count())._1
      }
      rows += (("funnelAdvance", k, seedEv.count(), bFun, median(funSecs)))
      val funReSecs = (1 to runs).map { _ =>
        time(Aggregates.funnel(seedEv.unionByName(evBatch),
          col("user_id"), col("ts"), fSteps).collect())._1
      }
      rows += (("funnelRecompute(contrast)", k, seedEv.count(), 0.0,
        median(funReSecs)))

      // --- q207 late-data funnel advance: ALL-LATE fixed batches against
      // the k× history. The claim: cost tracks the AFFECTED-ENTITY volume
      // (the ×4 pair at each k), not history size — the entity-scoped
      // rescan is one semi-filtered pass, vs the recompute contrast's full
      // cascade over history ---
      val wmLate = java.sql.Timestamp.valueOf("2099-01-01 00:00:00")
      def lateBatchOf(mod: Int): DataFrame = ev
        .filter(col("event_id") % 199 < mod)
        .select(col("user_id"), col("ts"), col("event_type"))
        .localCheckpoint()
      val late1 = lateBatchOf(1)
      val late4 = lateBatchOf(4)
      def lateSecs(b: DataFrame): Double = median((1 to runs).map { _ =>
        time(Aggregates.funnelAdvanceLate(funState, b, seedEv,
            col("user_id"), col("ts"), fSteps, wmLate)
          .queryExecution.toRdd.count())._1
      })
      rows += (("funnelAdvanceLate", k, seedEv.count(), 0.0, lateSecs(late1)))
      rows += (("funnelAdvanceLate(x4entities)", k, seedEv.count(), 0.0,
        lateSecs(late4)))

      // --- q207 against a CLUSTERED parquet history (the r12 verdict's
      // remaining scan term): history persisted repartitioned+sorted by
      // entity, so the pushdown tier's In(user_id) reaches the scan and
      // prunes at row-group/page grain from footer statistics. The claim:
      // the late advance is FLAT in history volume — the semi-filtered
      // rescan reads O(affected users' events), not O(history). Build time
      // (the clustering write) is reported as the amortized index column ---
      val histDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(Session.scratchDir()), s"graft_funhist_$k")
        .toString
      val (bHist, _) = time {
        seedEv.repartition(32, col("user_id"))
          .sortWithinPartitions("user_id", "ts")
          .write.mode("overwrite").parquet(histDir)
      }
      val histPq = spark.read.parquet(histDir)
      val lateBucketedSecs = median((1 to runs).map { _ =>
        time(Aggregates.funnelAdvanceLate(funState, late1, histPq,
            col("user_id"), col("ts"), fSteps, wmLate)
          .queryExecution.toRdd.count())._1
      })
      rows += (("funnelAdvanceLate(bucketed)", k, seedEv.count(), bHist,
        lateBucketedSecs))

      // --- q208 late-data sessions advance: same protocol — the k×
      // session history's state, a fixed all-late batch, affected users
      // re-sessionize from the entity-scoped history slice ---
      import graft.operators.Sessions
      val (bSess, sessState) = time {
        Sessions.advance(Sessions.emptyState(spark),
            seedEv.withColumn("value", lit(1.0)),
            col("user_id"), col("ts"), col("value"), 1800L)
          .repartition(col("_u")).localCheckpoint()
      }
      val sessLateSecs = (1 to runs).map { _ =>
        time(Sessions.advanceLate(sessState,
            late1.withColumn("value", lit(1.0)),
            seedEv.withColumn("value", lit(1.0)),
            col("user_id"), col("ts"), col("value"), 1800L, wmLate)
          .queryExecution.toRdd.count())._1
      }
      rows += (("sessionsAdvanceLate", k, seedEv.count(), bSess,
        median(sessLateSecs)))

      // --- q201 PageRank warm resume: persisted rank vector on the k×
      // graph, fixed edge delta folds in, TWO warm rounds close the gap
      // vs the FIVE-round cold restart (contrast). Per-round cost is O(E)
      // by construction; the warm win is the round count, and the
      // per-iteration localCheckpoint keeps lineage flat across rounds ---
      val prNodes = seen.select(col("doc_id").as("node")).localCheckpoint()
      val prEdges = oldE.select(col("u").as("src"), col("v").as("dst"))
      val (bPr, prState) = time {
        Rank.pageRank(prNodes, prEdges, iters = 5).localCheckpoint()
      }
      val grown = prEdges
        .unionByName(deltaE.select(col("u").as("src"), col("v").as("dst")))
        .localCheckpoint()
      val prWarmSecs = (1 to runs).map { _ =>
        time(Rank.pageRankFrom(prNodes, grown, prState, iters = 2)
          .queryExecution.toRdd.count())._1
      }
      rows += (("pageRankWarmResume(2it)", k, seenSize, bPr, median(prWarmSecs)))
      val prColdSecs = (1 to runs).map { _ =>
        time(Rank.pageRank(prNodes, grown, iters = 5)
          .queryExecution.toRdd.count())._1
      }
      rows += (("pageRankColdRestart(5it,contrast)", k, seenSize, 0.0,
        median(prColdSecs)))

      // --- q214 residual-push advance: FIXED node universe, edge volume
      // grows k× (3k hash out-edges per node) — the state stays
      // node-grain (the small axis), E is the big axis. The claim: the
      // fold + push cost tracks the DELTA's neighborhood — the
      // pushed-isin lookups prune the src-clustered parquet edge table at
      // row-group grain — while the warm-resume contrast pays one O(E)
      // join per round on the same fixture ---
      val pnNodes = docs.select(col("doc_id").as("node")).localCheckpoint()
      val pEdgesMem = docs
        .select(col("doc_id").as("src"),
          explode(array((0 until 3 * k).map(i => lit(i.toLong)): _*)).as("r"))
        .select(col("src"),
          pmod(graft.functions.PortableHash.mixpCol(col("src") * 7 + col("r")),
            lit(nDocs)).as("dst"))
        .distinct()
      val peDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(Session.scratchDir()), s"graft_predge_$k").toString
      val (bPushEdges, _) = time {
        pEdgesMem.repartition(32, col("src")).sortWithinPartitions("src", "dst")
          .write.mode("overwrite").parquet(peDir)
      }
      val pePq = spark.read.parquet(peDir)
      // anti-join against the seen graph: pageRankPushAdvance's contract
      // is delta = NEW edges, and the hashed targets can collide with an
      // existing (src, dst) — a collided "delta" edge would double-fold
      val pDelta = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("src"),
          pmod(graft.functions.PortableHash.mixpCol(col("doc_id") * 13 + 999),
            lit(nDocs)).as("dst"))
        .join(pePq, Seq("src", "dst"), "left_anti")
        .localCheckpoint()
      val pEps = math.max(1L, 1000000000000L / (nDocs * 8L))
      val (bPushState, pushState) = time {
        graft.operators.Rank.pageRankResidualState(pnNodes, pePq,
            graft.operators.Rank.pageRank(pnNodes, pePq, 5))
          .repartition(col("node")).localCheckpoint()
      }
      val pushSecs = (1 to runs).map { _ =>
        time(graft.operators.Rank.pageRankPushAdvance(pushState, pePq, pDelta,
            pEps, maxRounds = 6)
          .queryExecution.toRdd.count())._1
      }
      rows += (("pageRankPushAdvance(bucketed)", k, nDocs * 3 * k,
        bPushEdges + bPushState, median(pushSecs)))
      val pushWarmSecs = (1 to runs).map { _ =>
        time(graft.operators.Rank.pageRankFrom(pnNodes,
            pePq.unionByName(pDelta),
            pushState.select(col("node"), col("x").as("rank")), iters = 2)
          .queryExecution.toRdd.count())._1
      }
      rows += (("pageRankFromSameFixture(2it,contrast)", k, nDocs * 3 * k,
        0.0, median(pushWarmSecs)))

      // --- q206 k-means advance: frozen centroids trained on the k×
      // corpus (build), then a FIXED vector batch folds into the k×dim
      // stat state — the advance touches only the batch and the 512-row
      // state, so the curve must be flat in corpus size ---
      import graft.operators.Features
      val (bKm, kmArtifacts) = time {
        val frozen = Features.kmeansCentroids(seenEmb, "vec_id", "embedding", 8, 2)
        val st = Features.kmeansCellStats(seenEmb, "vec_id", "embedding", frozen)
          .localCheckpoint()
        (frozen, st)
      }
      val (kmFrozen, kmState) = kmArtifacts
      val kmSecs = (1 to runs).map { _ =>
        time(Features.kmeansStatsAdvance(kmState, batchE, "vec_id", "embedding",
            kmFrozen)
          .queryExecution.toRdd.count())._1
      }
      rows += (("kmeansStatsAdvance", k, embSeen, bKm, median(kmSecs)))

      // --- q209 DSIR advance + batch rescore: 64-row histogram state from
      // the k× corpus (build), fixed document batch advances the state and
      // rescores ONLY itself — flat in corpus size ---
      import graft.operators.Dsir
      val dsirTgt = col("doc_id") % 10 === 0
      val (bDsir, dsirState) = time {
        Dsir.histOf(seen, "text", dsirTgt).localCheckpoint()
      }
      val dsirSecs = (1 to runs).map { _ =>
        time {
          val adv = Dsir.histAdvance(dsirState, batch2, "text",
            col("doc_id") % 10 === 0).localCheckpoint()
          Dsir.scoreWith(batch2, "doc_id", "text", adv)
            .queryExecution.toRdd.count()
        }._1
      }
      rows += (("dsirAdvanceRescore", k, seenSize, bDsir, median(dsirSecs)))

      // reclaim this scale's parquet fixtures from tmpfs scratch before
      // the next k — the k-scaled histories/edge tables would otherwise
      // coexist in /dev/shm and compete with the very RAM being measured
      Seq(histDir, peDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true); ()
      }
    }

    rows.foreach { case (op, k, n, build, batchSec) =>
      println(f"""{"op":"$op","scale":$k,"seen_docs":$n,"index_build_sec":$build%.3f,"batch_median_sec":$batchSec%.3f,"batch_docs":${batch3.count()},"runs":$runs}""")
    }
    spark.stop()
  }
}
