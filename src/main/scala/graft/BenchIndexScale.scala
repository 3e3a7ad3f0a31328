package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Growing-index scaling measurement for the incremental operators — the
  * 100 TB axis the per-round fixtures do NOT measure (they pin the seen
  * index to a fixed doc slice at every SF; production cost is
  * batch-vs-INDEX). A FIXED batch probes state built from 1x / 5x / 25x
  * GenScale-style key-shifted token-suffixed replicas (cross-copy disjoint:
  * a k× corpus behaves like a k×-larger world). Every index is built ONCE
  * per scale, repartitioned on its probe key and localCheckpoint'd (the
  * persisted-bucketed-table stand-in), and its build time is reported
  * apart from the probe's — the build amortizes over every future batch,
  * the probe is the daily bill. The §2.9 watermark contract predicts
  * flat-to-logarithmic probe cost in index size. Each probe runs `runs`
  * times through [[Bench.step]] (its full result, under its own job group).
  *
  * Usage: runMain graft.BenchIndexScale [sfDir] [runs]
  * Emits one JSON line per (operator, scale): seen/batch sizes, index
  * build seconds, the probe's median seconds and counters, and `error`
  * when the probe failed.
  */
object BenchIndexScale {

  /** One (operator, scale) row: the index built once in `buildSec`, then
    * the probe's timed runs, each under the job group it is paired with. */
  final case class Scenario(op: String, scale: Int, seenDocs: Long, batchDocs: Long,
                            buildSec: Double, probes: Seq[(String, Bench.Sample)]) {
    def row(counters: Bench.JobCounters): Bench.Row =
      Bench.Row(op, probes.map(_._2), probes.map { case (g, _) => counters(g) })
    def json(counters: Bench.JobCounters): String = {
      val r = row(counters)
      f"""{"op":"$op","scale":$scale,"seen_docs":$seenDocs,"index_build_sec":$buildSec%.3f,""" +
        s""""batch_median_sec":${Bench.ms(r.full)},"batch_docs":$batchDocs,""" +
        s""""runs":${probes.size},${r.layerJson}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = Session()
    val counters = new Bench.JobCounters(stageLog = false)
    spark.sparkContext.addSparkListener(counters)
    val scenarios = measure(spark, sfDir, Seq(1, 5, 25), runs)
    spark.stop() // drains the listener bus: every counter read below is final
    scenarios.foreach(s => println(s.json(counters)))
  }

  /** Every scenario at every scale in `scales`, each probe timed `runs`
    * times. Counters land on whatever [[Bench.JobCounters]] the caller has
    * registered, keyed by each probe's job group. */
  def measure(spark: org.apache.spark.sql.SparkSession, sfDir: String,
              scales: Seq[Int], runs: Int): Seq[Scenario] = {
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

    val batchDocs = batch3.count()
    val stopwords = graft.analytics.TextQueries.Stopwords
    val rows = scala.collection.mutable.ArrayBuffer.empty[Scenario]
    /** Runs `body` `runs` times through [[Bench.step]], after an index
      * built in `buildSec` (0 when the row has none). */
    def probe(op: String, k: Int, seenDocs: Long, buildSec: Double)(body: => DataFrame): Unit =
      rows += Scenario(op, k, seenDocs, batchDocs, buildSec, (1 to runs).map { i =>
        val group = s"$op@x$k/t$i"
        group -> Bench.step(spark, group, s"$op@x$k")(body)
      })

    for (k <- scales) {
      val seen = seenAt(k).localCheckpoint()
      val seenSize = seen.count()

      // --- q129 funnel: index build once (materialized = probe-keyed
      // checkpoint), then per-batch curation wall ---
      val (bIdx, idx) = Bench.timed {
        Curate.buildIndex(seen, "doc_id", "text", "lang", stopwords,
          evalPred = col("doc_id") % 50 === 0).materialized()
      }
      probe("funnelIncremental", k, seenSize, bIdx) {
        Curate.funnelIncrementalPersisted(batch3, "doc_id", "text", "lang",
          stopwords, idx).funnel.counts
      }

      // --- q132 fuzzy dedup: banded index built once, probe-keyed ---
      val (bBand, banded) = Bench.timed {
        Dedup.bandedSignatures(seen.select("doc_id", "text"), "doc_id", "text")
          .repartition(col("band"), col("bucket")).localCheckpoint()
      }
      val seenDocs = seen.select("doc_id", "text").localCheckpoint()
      probe("fuzzyDedupIncremental", k, seenSize, bBand) {
        Dedup.fuzzyDedupIncremental(batch2, seenDocs, banded, "doc_id", "text")
      }

      // --- q134 repeated spans: gram-hash index built once, probe-keyed ---
      val (bSpan, spanIdx) = Bench.timed {
        Dedup.buildRepeatedSpanIndex(seen, "doc_id", "text")
          .repartition(col("gh1"), col("gh2")).localCheckpoint()
      }
      probe("repeatedSpansIncremental", k, seenSize, bSpan) {
        Dedup.repeatedSpansIncremental(batch2, spanIdx, "doc_id", "text")
      }

      // --- q143 simhash: chunked signature index built once, probe-keyed ---
      val (bSim, simIdx) = Bench.timed {
        Dedup.buildSimhashIndex(seen.select("doc_id", "text"), "doc_id", "text")
          .repartition(col("chunk_idx"), col("chunk")).localCheckpoint()
      }
      probe("simhashIncremental", k, seenSize, bSim) {
        Dedup.simhashIncrementalPairs(batch2, simIdx, "doc_id", "text")
      }

      // --- q158 media: chunked perceptual-hash index built once,
      // probe-keyed. Fingerprints here are LCG stand-ins (the scaling axis
      // is INDEX size, not decode cost — aHash/energyHash run at ingest in
      // production and the probe never re-decodes) ---
      def mediaHash(df: DataFrame): DataFrame = df.select(col("doc_id"),
        ((col("doc_id") * 1103515245L + 12345L) % 2147483648L).as("hi"),
        ((col("doc_id") * 1664525L + 1013904223L) % 2147483648L).as("lo"))
      val (bMed, medIdx) = Bench.timed {
        graft.operators.Multimodal.buildMediaIndex(mediaHash(seen),
            "doc_id", "hi", "lo", 32, 32, "img")
          .repartition(col("modality"), col("chunk_idx"), col("chunk"))
          .localCheckpoint()
      }
      probe("mediaIncremental", k, seenSize, bMed) {
        graft.operators.Multimodal.mediaIncrementalPairs(
          mediaHash(batch2), medIdx, "doc_id", "hi", "lo", 32, 32, "img")
      }

      // --- q164 edit distance: poly-31 trigram-hash index built once,
      // probe-keyed; the verify side reads seen TEXT by id (checkpointed,
      // id-keyed — the production seenDocs table stand-in) ---
      val (bEdit, editIdx) = Bench.timed {
        Dedup.buildEditIndex(seen, "doc_id", "text")
          .repartition(col("gh")).localCheckpoint()
      }
      val seenTexts = seen.select("doc_id", "text")
        .repartition(col("doc_id")).localCheckpoint()
      probe("editDistanceIncremental", k, seenSize, bEdit) {
        Dedup.editDistanceIncremental(batch2, seenTexts, editIdx,
          "doc_id", "text", maxEdits = 3)
      }

      // --- q145 cosine: sign-LSH index (bands + stored vecs) built once,
      // each table probe-keyed. Replicas are CIRCULARLY SHIFTED (shifts of
      // a random vector are near-orthogonal), not rescaled — rescale is
      // cosine-identical and would co-bucket every replica instead of
      // growing the world ---
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val nVec = emb.count()
      // 500 of sf0.1's 2,000 vectors; a quarter where fewer exist, so the
      // seen side is never empty
      val embBatchN = math.min(500L, nVec / 4)
      val batchE = emb.filter(col("vec_id") >= nVec - embBatchN)
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
        .localCheckpoint()
      val seenEmb = (0 until k).map { c =>
        val shifted = emb.filter(col("vec_id") < nVec - embBatchN)
          .select((col("vec_id") + lit(c * 1000000L)).as("vec_id"), col("embedding"))
        if (c == 0) shifted
        else shifted.withColumn("embedding",
          concat(slice(col("embedding"), c + 1, 64 - c), slice(col("embedding"), 1, c)))
      }.reduce(_ unionByName _).localCheckpoint()
      val embSeen = seenEmb.count()
      def probeKeyed(idx0: Similarity.CosineLshIndex): Similarity.CosineLshIndex =
        idx0.copy(
          bands = idx0.bands.repartition(col("band"), col("bucket")).localCheckpoint(),
          vecs = idx0.vecs.repartition(col("id")).localCheckpoint())
      val (bCos, cosIdx) = Bench.timed {
        // 8-bit pinned: the documented undersized-bucket lesson curve
        // (linear candidate growth) — kept as the contrast row
        probeKeyed(Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding",
          64, bands = 8, bitsPerBand = 8))
      }
      probe("cosineIncremental", k, embSeen, bCos) {
        cosIdx.probe(batchE, "vec_id", "embedding", 0.99)
      }

      // same probe with 16-bit buckets: bucket count 256 -> 65 536 per
      // band, so the constant-rate false-collision mass (the linear-growth
      // term at 8 bits) drops ~256x — the knob a growing corpus turns
      val (bCos16, cosIdx16) = Bench.timed {
        probeKeyed(Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding",
          64, bands = 8, bitsPerBand = 16))
      }
      probe("cosineIncremental16", k, embSeen, bCos16) {
        cosIdx16.probe(batchE, "vec_id", "embedding", 0.99)
      }

      // AUTO-sized (the buildCosineLshIndex default since r10): bits
      // derived from the index cardinality — the production setting with
      // no knob turned; must track the flat 16-bit curve, not the 8-bit one
      val (bCosA, cosIdxA) = Bench.timed {
        probeKeyed(Similarity.buildCosineLshIndex(seenEmb, "vec_id", "embedding", 64))
      }
      probe(s"cosineIncrementalAuto(bits=${cosIdxA.bitsPerBand})", k, embSeen, bCosA) {
        cosIdxA.probe(batchE, "vec_id", "embedding", 0.99)
      }

      // --- q195 triangle advance: seen link graph at k×, fixed edge
      // delta. The probe streams the seen graph (broadcast delta +
      // broadcast wedge candidates, zero state-side shuffles) — the curve
      // must stay flat in seen-graph size up to the scan term ---
      import graft.operators.Rank
      def hashEdges(df: DataFrame): DataFrame = Rank.canonicalEdges(
        df.select(col("doc_id").as("src"), explode(array(lit(0L), lit(1L), lit(2L))).as("r"))
          .select(col("src"),
            pmod(PortableHash.mixpCol(col("src") * 7 + col("r")), lit(seenSize)).as("dst")))
      val (bTri, oldE) = Bench.timed(hashEdges(seen).localCheckpoint())
      val deltaE = hashEdges(batch3).join(oldE, Seq("u", "v"), "left_anti").localCheckpoint()
      // the count is a driver-side action: it runs in the probe's build,
      // and the one-row result is what the caller receives
      probe("triangleDeltaIncremental", k, seenSize, bTri) {
        import spark.implicits._
        Seq(Rank.triangleDeltaCount(oldE, deltaE)).toDF("n_new_triangles")
      }

      // --- q200 BFS advance: settled-distance state on the k× seen graph,
      // fixed edge delta; relaxation touches only the affected region ---
      val (bBfs, bfsState) = Bench.timed {
        Rank.bfsDistances(
            oldE.select(col("u").as("src"), col("v").as("dst")), 0L, 4)
          .localCheckpoint()
      }
      probe("bfsAdvanceIncremental", k, seenSize, bBfs) {
        Rank.bfsAdvance(
          oldE.select(col("u").as("src"), col("v").as("dst")), bfsState,
          deltaE.select(col("u").as("src"), col("v").as("dst")), 4)
      }

      // --- q202 components advance: min-label state on a k× sparse graph,
      // fixed delta; the fixed point runs on the LABEL graph only ---
      def sparseEdges(df: DataFrame): DataFrame = df.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src"),
          pmod(PortableHash.mixpCol(col("doc_id") * 11 + 1), lit(seenSize)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val (bCmp, cmpState) = Bench.timed {
        graft.operators.Dedup.dupClusters(
            seen.select(col("doc_id").as("node")), "node",
            Rank.canonicalEdges(sparseEdges(seen)), "u", "v")
          .select(col("node"), col("cluster_id").as("label"))
          .repartition(col("node")).localCheckpoint()
      }
      val cmpDelta = sparseEdges(batch3).localCheckpoint()
      probe("componentsAdvanceIncremental", k, seenSize, bCmp) {
        Rank.componentsAdvance(cmpState, cmpDelta)
      }

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
      val (bFun, funState) = Bench.timed {
        Aggregates.funnelAdvance(Aggregates.funnelEmptyState(spark, 3),
            seedEv, col("user_id"), col("ts"), fSteps)
          .repartition(col("_e")).localCheckpoint()
      }
      val nEv = seedEv.count()
      probe("funnelAdvance", k, nEv, bFun) {
        Aggregates.funnelAdvance(funState, evBatch, col("user_id"), col("ts"), fSteps)
      }
      probe("funnelRecompute(contrast)", k, nEv, 0.0) {
        Aggregates.funnel(seedEv.unionByName(evBatch), col("user_id"), col("ts"), fSteps)
      }

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
      Seq("funnelAdvanceLate" -> late1, "funnelAdvanceLate(x4entities)" -> late4)
        .foreach { case (op, b) =>
          probe(op, k, nEv, 0.0) {
            Aggregates.funnelAdvanceLate(funState, b, seedEv,
              col("user_id"), col("ts"), fSteps, wmLate)
          }
        }

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
      val (bHist, _) = Bench.timed {
        seedEv.repartition(32, col("user_id"))
          .sortWithinPartitions("user_id", "ts")
          .write.mode("overwrite").parquet(histDir)
      }
      val histPq = spark.read.parquet(histDir)
      probe("funnelAdvanceLate(bucketed)", k, nEv, bHist) {
        Aggregates.funnelAdvanceLate(funState, late1, histPq,
          col("user_id"), col("ts"), fSteps, wmLate)
      }

      // --- q208 late-data sessions advance: same protocol — the k×
      // session history's state, a fixed all-late batch, affected users
      // re-sessionize from the entity-scoped history slice ---
      import graft.operators.Sessions
      val (bSess, sessState) = Bench.timed {
        Sessions.advance(Sessions.emptyState(spark),
            seedEv.withColumn("value", lit(1.0)),
            col("user_id"), col("ts"), col("value"), 1800L)
          .repartition(col("_u")).localCheckpoint()
      }
      probe("sessionsAdvanceLate", k, nEv, bSess) {
        Sessions.advanceLate(sessState,
          late1.withColumn("value", lit(1.0)),
          seedEv.withColumn("value", lit(1.0)),
          col("user_id"), col("ts"), col("value"), 1800L, wmLate)
      }

      // --- q201 PageRank warm resume: persisted rank vector on the k×
      // graph, fixed edge delta folds in, TWO warm rounds close the gap
      // vs the FIVE-round cold restart (contrast). Per-round cost is O(E)
      // by construction; the warm win is the round count, and the
      // per-iteration localCheckpoint keeps lineage flat across rounds ---
      val prNodes = seen.select(col("doc_id").as("node")).localCheckpoint()
      val prEdges = oldE.select(col("u").as("src"), col("v").as("dst"))
      val (bPr, prState) = Bench.timed {
        Rank.pageRank(prNodes, prEdges, iters = 5).localCheckpoint()
      }
      val grown = prEdges
        .unionByName(deltaE.select(col("u").as("src"), col("v").as("dst")))
        .localCheckpoint()
      probe("pageRankWarmResume(2it)", k, seenSize, bPr) {
        Rank.pageRankFrom(prNodes, grown, prState, iters = 2)
      }
      probe("pageRankColdRestart(5it,contrast)", k, seenSize, 0.0) {
        Rank.pageRank(prNodes, grown, iters = 5)
      }

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
          pmod(PortableHash.mixpCol(col("src") * 7 + col("r")),
            lit(nDocs)).as("dst"))
        .distinct()
      val peDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(Session.scratchDir()), s"graft_predge_$k").toString
      val (bPushEdges, _) = Bench.timed {
        pEdgesMem.repartition(32, col("src")).sortWithinPartitions("src", "dst")
          .write.mode("overwrite").parquet(peDir)
      }
      val pePq = spark.read.parquet(peDir)
      // anti-join against the seen graph: pageRankPushAdvance's contract
      // is delta = NEW edges, and the hashed targets can collide with an
      // existing (src, dst) — a collided "delta" edge would double-fold
      val pDelta = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("src"),
          pmod(PortableHash.mixpCol(col("doc_id") * 13 + 999),
            lit(nDocs)).as("dst"))
        .join(pePq, Seq("src", "dst"), "left_anti")
        .localCheckpoint()
      val pEps = math.max(1L, 1000000000000L / (nDocs * 8L))
      val (bPushState, pushState) = Bench.timed {
        graft.operators.Rank.pageRankResidualState(pnNodes, pePq,
            graft.operators.Rank.pageRank(pnNodes, pePq, 5))
          .repartition(col("node")).localCheckpoint()
      }
      probe("pageRankPushAdvance(bucketed)", k, nDocs * 3 * k, bPushEdges + bPushState) {
        graft.operators.Rank.pageRankPushAdvance(pushState, pePq, pDelta,
          pEps, maxRounds = 6)
      }
      probe("pageRankFromSameFixture(2it,contrast)", k, nDocs * 3 * k, 0.0) {
        graft.operators.Rank.pageRankFrom(pnNodes, pePq.unionByName(pDelta),
          pushState.select(col("node"), col("x").as("rank")), iters = 2)
      }

      // --- q206 k-means advance: frozen centroids trained on the k×
      // corpus (build), then a FIXED vector batch folds into the k×dim
      // stat state — the advance touches only the batch and the 512-row
      // state, so the curve must be flat in corpus size ---
      import graft.operators.Features
      val (bKm, kmArtifacts) = Bench.timed {
        val frozen = Features.kmeansCentroids(seenEmb, "vec_id", "embedding", 8, 2)
        val st = Features.kmeansCellStats(seenEmb, "vec_id", "embedding", frozen)
          .localCheckpoint()
        (frozen, st)
      }
      val (kmFrozen, kmState) = kmArtifacts
      probe("kmeansStatsAdvance", k, embSeen, bKm) {
        Features.kmeansStatsAdvance(kmState, batchE, "vec_id", "embedding", kmFrozen)
      }

      // --- q209 DSIR advance + batch rescore: 64-row histogram state from
      // the k× corpus (build), fixed document batch advances the state and
      // rescores ONLY itself — flat in corpus size ---
      import graft.operators.Dsir
      val dsirTgt = col("doc_id") % 10 === 0
      val (bDsir, dsirState) = Bench.timed {
        Dsir.histOf(seen, "text", dsirTgt).localCheckpoint()
      }
      // the state advance is materialized in the probe's build
      probe("dsirAdvanceRescore", k, seenSize, bDsir) {
        val adv = Dsir.histAdvance(dsirState, batch2, "text",
          col("doc_id") % 10 === 0).localCheckpoint()
        Dsir.scoreWith(batch2, "doc_id", "text", adv)
      }

      // reclaim this scale's parquet fixtures from tmpfs scratch before
      // the next k — the k-scaled histories/edge tables would otherwise
      // coexist in /dev/shm and compete with the very RAM being measured
      Seq(histDir, peDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true); ()
      }
    }

    rows.toSeq
  }
}
