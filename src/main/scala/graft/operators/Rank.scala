package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.BatchSnapshots

/** Iterative graph ranking in EXACT fixed-point arithmetic.
  *
  * The reference's deepest graph-shaped analysis is the co-occurrence
  * self-join (`scripts/SQL/Product_Association.sql:14-23` — a pair-frequency
  * edge list over shared baskets); centrality and closure over that edge
  * list are the natural next questions, and at corpus scale they need a
  * distributed iterative plan, not a self-join.
  *
  * Web-graph importance is a standard quality prior for crawl-derived
  * training corpora (page-level centrality decides what a CC-scale pipeline
  * keeps when budgets bind), and PageRank is its canonical form. Floating
  * point would make an iterative rank unverifiable across engines — shuffle
  * order changes double-addition order, so no two runs (let alone two
  * engines) agree bit-for-bit. Ranks here are int64 FIXED POINT (mass
  * scaled by `scale`), every operation is integer add / multiply /
  * truncating division, and integer addition commutes — the fifth
  * iteration's ranks replay EXACTLY in the DuckDB oracle's unrolled CTEs.
  *
  * Recurrence (damping d = dampNum/dampDen, N nodes, per iteration):
  * {{{
  *   base   = (scale · (dampDen − dampNum)) div (dampDen · N)
  *   r'(v)  = base + (dampNum · Σ_{u→v} (r(u) div deg(u))) div dampDen
  * }}}
  * Truncating division sheds up to one scale-unit of mass per node per
  * iteration (≤ N·iters/scale of total mass — at the default scale, parts
  * per billion); dangling nodes' mass decays the same way. Both are the
  * price of exactness and are documented, deterministic behavior.
  *
  * Scale shape: `edges` and the out-degree table pin once; each iteration
  * is ONE join shuffle (contributions) + ONE aggregate (per-node sums) +
  * a broadcast-size rank refresh — O(E) per iteration, no driver-side
  * state beyond the node count. Per-iteration `localCheckpoint` keeps the
  * lineage bounded (the dupClusters discipline; a reliable checkpoint dir
  * is the cluster-production variant).
  */
object Rank {

  /** `nodes(node)`, `edges(src, dst)` (parallel edges allowed — dedup
    * upstream if unwanted); returns `(node, rank)` after `iters` rounds. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val n = nodes.count()
    require(n > 0, "empty node set")
    pageRankFrom(nodes, edges,
      nodes.select(col("node"), lit(scale / n).as("rank")),
      iters, scale, dampNum, dampDen)
  }

  /** WARM-START fixed-point iterations — the practical incremental form
    * of an iterative rank: exact per-edge delta maintenance of PageRank
    * does not exist (every edge perturbs every rank), but RESUMING the
    * fixed-point recurrence on the grown graph from the PERSISTED rank
    * vector is how production ranking absorbs a crawl delta — the warm
    * vector is already near the new fixed point, so far fewer rounds
    * close the gap than a cold scale/n restart (RankSpec measures the
    * contraction). The recurrence is the same int64 fixed-point integer
    * arithmetic as [[pageRank]], so every warm round replays EXACTLY in
    * the oracle's unrolled CTEs — determinism survives the warm start.
    * Nodes absent from `init` fold in at rank 0 (a conservative floor:
    * one round assigns them base + inflow). */
  def pageRankFrom(nodes: DataFrame, edges: DataFrame, init: DataFrame,
                   iters: Int, scale: Long = 1000000000000L,
                   dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < damping < 1")
    val n = nodes.count()
    require(n > 0, "empty node set")
    // The per-iteration plan pays O(E) by nature; what it must NOT pay is
    // a per-iteration EXCHANGE of the O(E) side. Two invariants are pinned
    // ONCE, outside the loop (guide §2.4 — establish a partitioning once
    // and let every round reuse it; checkpointed plans keep their
    // outputPartitioning):
    //   - `ed` = edges PRE-JOINED with the out-degree (deg is loop-
    //     invariant — joining it per round re-paid a join every iteration)
    //     and hash-partitioned on src, so each round's contribution join
    //     sees its layout already satisfied and only the node-sized rank
    //     vector moves;
    //   - `nd` = the node universe hash-partitioned on node, so the rank
    //     refresh join re-exchanges only the aggregated sums.
    val e0 = edges.select(col("src"), col("dst"))
    val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = e0.join(deg, "src").repartition(col("src")).localCheckpoint()
    val nd = nodes.select(col("node")).repartition(col("node")).localCheckpoint()
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    var rank = nd.join(init.select(col("node"), col("rank")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("rank"), lit(0L)).as("rank"))
    for (_ <- 0 until iters) {
      val contrib = ed.join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("deg")).as("c"))
      val sums = contrib.groupBy("node").agg(sum(col("c")).as("s"))
      rank = nd.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + call_function("div",
            lit(dampNum) * coalesce(col("s"), lit(0L)), lit(dampDen)))
            .as("rank"))
        .localCheckpoint()
    }
    rank
  }

  /** Incremental connected components under edge ADDITIONS — the
    * min-label state advanced by a LABEL-GRAPH merge: components can only
    * fuse when edges arrive, and which ones fuse is decided entirely by
    * the delta edges' endpoint labels, so the expensive fixed-point
    * (pointer-doubling min-label propagation) runs on the LABEL GRAPH —
    * one node per touched component, one edge per delta edge — instead of
    * the data graph. Cost: two entity-keyed joins to label the delta, a
    * components pass over a delta-sized graph, and one keyed relabel join
    * against state; the seen graph's edges are never touched again.
    *
    * `state` is `(node, label)` with label = the component's minimum node
    * id ([[graft.operators.Dedup.dupClusters]]'s contract); delta nodes
    * absent from state enter as singletons first, so the result is
    * exactly the components of (state's partition ∪ delta edges) — exact
    * under ANY batching (merging is order-free). */
  def componentsAdvance(state: DataFrame, delta: DataFrame): DataFrame = {
    val d = canonicalEdges(delta).localCheckpoint()
    val dNodes = d.select(col("u").as("node"))
      .unionAll(d.select(col("v").as("node"))).distinct().localCheckpoint()
    // which delta endpoints the state already knows: the state STREAMS
    // with the delta node set broadcast — the advance never shuffles or
    // copies the (possibly huge) state; every state touch below is a
    // streamed scan against a broadcast delta-sized frame
    val seenD = state.join(broadcast(dNodes), Seq("node"), "left_semi")
      .select("node").localCheckpoint()
    val fresh = dNodes.join(broadcast(seenD), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    val st = state.select(col("node"), col("label")).unionByName(fresh)
    // delta edges in label space: which components fuse. Two streamed
    // passes — u-endpoint labels first (delta-sized output), then that
    // result broadcast into the v-endpoint pass.
    val dl = st.select(col("node").as("u"), col("label").as("la"))
      .join(broadcast(d), "u")
      .select(col("v"), col("la")).localCheckpoint()
    // materialization + emptiness tally in one action (the isEmpty probe
    // was a second whole-frame job; a zero tally is exact under retries)
    val (labelPairs, nLp) = Exec.materializeCounted(
      st.select(col("node").as("v"), col("label").as("lb"))
        .join(broadcast(dl), "v")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("id_a"), col("lb").as("id_b"))
        .distinct(),
      "components_label_pairs")
    if (nLp == 0L) return st
    val labelNodes = labelPairs.select(col("id_a").as("lbl"))
      .unionAll(labelPairs.select(col("id_b").as("lbl"))).distinct()
    // the fixed point runs on the tiny label graph, not the data graph
    val merged = graft.operators.Dedup.dupClusters(
        labelNodes, "lbl", labelPairs)
      .select(col("lbl").as("label"), col("cluster_id").as("_new"))
    st.join(broadcast(merged), Seq("label"), "left")
      .select(col("node"), coalesce(col("_new"), col("label")).as("label"))
  }

  // -------------------------------------------------------------------
  // Residual-push (Gauss–Southwell) PageRank — the DELTA-SCOPED advance
  // -------------------------------------------------------------------

  /** Residual state `(node, x, s, deg)` for the [[pageRank]] recurrence:
    * `x` the current rank estimate, `s(v) = Σ_{u→v} div(x(u), deg(u))`
    * the EXACT integer in-sum under `edges`, `deg` the out-degree (0 for
    * sinks). The residual is a pure projection off this state —
    * `res(v) = base + div(dampNum·s(v), dampDen) − x(v)` — so "how far is
    * v from its own fixed-point equation" never needs an edge scan.
    *
    * This is the state that makes PageRank's advance DELTA-SCOPED:
    * [[pageRankFrom]] (the warm resume) must pay one O(E) join per round
    * because it re-derives every in-sum from scratch; maintaining `s`
    * incrementally turns both an edge delta ([[pageRankResidualAdvance]])
    * and each correction round ([[pageRankPush]]) into work proportional
    * to the TOUCHED nodes' out-neighborhoods — the Gauss–Southwell /
    * local-push family (Andersen–Chung–Lang-style forward push applied to
    * global PageRank), in the same exact int64 fixed-point arithmetic as
    * [[pageRank]] (truncating `div` matches DuckDB `//` on negatives too,
    * so every push round replays in the oracle). Built ONCE per graph —
    * one O(E) pass, amortized over every future delta. */
  def pageRankResidualState(nodes: DataFrame, edges: DataFrame,
                            init: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // deg is consumed twice (contribution divisor + the state's deg
    // column) — materialize the #src-sized frame once instead of paying
    // the O(E) count aggregate per consumer
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val x = nodes.join(init.select(col("node"), col("rank")), Seq("node"), "left")
      .select(col("node"), coalesce(col("rank"), lit(0L)).as("x"))
    val sums = e.join(x.withColumnRenamed("node", "src"), "src")
      .join(deg, "src")
      .select(col("dst").as("node"),
        call_function("div", col("x"), col("deg")).as("c"))
      .groupBy("node").agg(sum(col("c")).as("s"))
    x.join(sums, Seq("node"), "left")
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), col("x"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("deg"), lit(0L)).as("deg"))
  }

  /** The residual projection off a residual state (diagnostic/report). */
  def withResidual(state: DataFrame, n: Long, scale: Long = 1000000000000L,
                   dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    state.withColumn("res",
      lit(base) + call_function("div",
        lit(dampNum) * col("s"), lit(dampDen)) - col("x"))
  }

  /** Synchronous residual-push rounds until every |residual| ≤ `eps` (or
    * `maxRounds`). Each round: the HEAVY set `H = {v : |res(v)| > eps}`
    * absorbs its residual into `x`, and the in-sums of H's out-neighbors
    * absorb the contribution change
    * `div(x+res, deg) − div(x, deg)` — maintained as an exact DIFFERENCE
    * of truncated terms, so the invariant `s(v) = Σ div(x(u), deg(u))`
    * holds bit-exactly at every round in any engine.
    *
    * Scale shape per round: H is frontier-sized (collected/broadcast via
    * the [[Joins.keyedSlice]] tiers — the pushed isin prunes a
    * src-clustered parquet edge table at row-group grain, so the lookup
    * reads O(H's out-edges), not O(E)); the state updates are
    * broadcast-build left joins the node-keyed state STREAMS through.
    * Residual mass contracts by the damping factor per absorbed unit, so
    * rounds drain geometrically; an empty H short-circuits — running
    * extra fixed rounds is a no-op, which is what lets a fixed-round
    * oracle replay an early-terminating engine exactly. */
  def pageRankPush(state: DataFrame, edges: DataFrame, eps: Long,
                   maxRounds: Int, scale: Long = 1000000000000L,
                   dampNum: Long = 85L, dampDen: Long = 100L,
                   maxPushdown: Int = 10000,
                   maxBroadcast: Long = 5000000L): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds out of range: $maxRounds")
    require(eps >= 1L, "eps must be a positive fixed-point threshold")
    var st = state.localCheckpoint()
    val n = st.count()
    require(n > 0, "empty state")
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    val resCol = lit(base) + call_function("div",
      lit(dampNum) * col("s"), lit(dampDen)) - col("x")
    var r = 0
    var drained = false
    while (r < maxRounds && !drained) {
      // materialization + row tally in ONE action (Exec.materializeCounted):
      // the count only gates the drain check and the broadcast tier, both
      // inflation-safe, so the fused accumulator replaces a second
      // whole-frame count() job per round
      val (heavy, nH) = Exec.materializeCounted(
        st.withColumn("_r", resCol)
          .filter(abs(col("_r")) > eps)
          .select(col("node"), col("x"), col("_r"), col("deg")),
        s"pr_push_heavy_r$r")
      if (nH == 0L) drained = true
      else {
        // same tier rule as keyedSlice: a frame is only FORCED broadcast
        // while its counted size sits under the bound — a backfill-sized
        // frontier falls back to a plain join (Spark picks the build
        // side), so no code path builds an unbounded driver-side table
        def bc(df: DataFrame, n: Long): DataFrame =
          if (n <= maxBroadcast) broadcast(df) else df
        // contribution deltas along H's out-edges (deg > 0 by membership
        // in the edge list's src side)
        val eH = Joins.keyedSlice(edges.select(col("src"), col("dst")),
          col("src"), heavy.select("node"), nH, maxPushdown, maxBroadcast)
        // dS is H's touched out-neighborhood — hub fan-out can exceed nH,
        // so it gets its own tally (fused into the materialization) before
        // the forced broadcast
        val (dS, nDs) = Exec.materializeCounted(
          eH.join(bc(heavy.withColumnRenamed("node", "src"), nH), "src")
            .select(col("dst").as("node"),
              (call_function("div", col("x") + col("_r"), col("deg")) -
                call_function("div", col("x"), col("deg"))).as("_d"))
            .groupBy("node").agg(sum(col("_d")).as("_ds")),
          s"pr_push_ds_r$r")
        st = st
          .join(bc(heavy.select(col("node"), col("_r")), nH),
            Seq("node"), "left")
          .join(bc(dS, nDs), Seq("node"), "left")
          .select(col("node"),
            (col("x") + coalesce(col("_r"), lit(0L))).as("x"),
            (col("s") + coalesce(col("_ds"), lit(0L))).as("s"),
            col("deg"))
          .localCheckpoint()
        r += 1
      }
    }
    st
  }

  /** DELTA-SCOPED PageRank advance: fold NEW edges into the residual
    * state, then push. The fold touches only the delta sources'
    * out-neighborhoods: a source u gaining `k` edges re-splits its
    * already-absorbed mass — every OLD out-neighbor's in-sum moves by
    * `div(x(u), degNew) − div(x(u), degOld)` and every NEW one gains
    * `div(x(u), degNew)` — so the advance's cost tracks the DELTA's
    * neighborhood, never E (the [[pageRankFrom]] warm resume's O(E)/round
    * is exactly what this replaces; BenchIndexScale contrasts them).
    * Endpoints absent from the state enter as `x = 0, s = 0` singletons
    * (the [[pageRankFrom]] cold-entry floor). `delta` must be new edges
    * (not already in the state's graph); `edges` is the OLD edge set,
    * used only for the delta sources' old-neighbor lookup — sliced via
    * the pushed-isin tiers, O(delta sources' degree) against a
    * src-clustered table. Push then runs over `edges ∪ delta`. */
  def pageRankPushAdvance(state: DataFrame, edges: DataFrame,
                          delta: DataFrame, eps: Long, maxRounds: Int,
                          scale: Long = 1000000000000L,
                          dampNum: Long = 85L, dampDen: Long = 100L,
                          maxPushdown: Int = 10000,
                          maxBroadcast: Long = 5000000L): DataFrame = {
    val d = delta.select(col("src"), col("dst")).localCheckpoint()
    val spark = state.sparkSession
    // fresh endpoints enter as rank-0 singletons before any in-sum lands
    val dNodes = d.select(col("src").as("node"))
      .unionAll(d.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // delta-sized left vs state-sized right: a plain anti join (Spark's
    // stats pick the build side; the BIG state must never broadcast)
    val fresh = dNodes.join(state.select("node"), Seq("node"), "left_anti")
    val st0 = state.select(col("node"), col("x"), col("s"), col("deg"))
      .unionByName(fresh.select(col("node"), lit(0L).as("x"),
        lit(0L).as("s"), lit(0L).as("deg")))
    // delta sources: old degree + delta out-count + current x (tally fused
    // into the materialization — the count gates broadcast tiers only)
    val (dDeg, nSrc) = Exec.materializeCounted(
      d.groupBy(col("src").as("node")).agg(count(lit(1)).as("_dd")),
      "pr_adv_ddeg")
    // keyedSlice's tier rule, applied to every forced broadcast below: a
    // backfill-sized delta falls back to plain joins instead of building
    // an unbounded driver-side table
    def bc(df: DataFrame, n: Long): DataFrame =
      if (n <= maxBroadcast) broadcast(df) else df
    val srcState = Joins.keyedSlice(st0, col("node"), dDeg.select("node"),
        nSrc, maxPushdown, maxBroadcast)
      .join(bc(dDeg, nSrc), Seq("node"))
      .select(col("node").as("src"), col("x"), col("deg").as("_old"),
        (col("deg") + col("_dd")).as("_new"))
      .localCheckpoint()
    // in-sum deltas: old out-neighbors re-split, new out-neighbors gain
    val eOld = Joins.keyedSlice(edges.select(col("src"), col("dst")),
      col("src"), dDeg.select("node"), nSrc, maxPushdown, maxBroadcast)
    val reSplit = eOld.join(bc(srcState, nSrc), "src")
      .select(col("dst").as("node"),
        (call_function("div", col("x"), col("_new")) -
          call_function("div", col("x"), col("_old"))).as("_d"))
    val gains = d.join(bc(srcState, nSrc), "src")
      .select(col("dst").as("node"),
        call_function("div", col("x"), col("_new")).as("_d"))
    // the delta sources' touched neighborhood — tallied before the forced
    // broadcast for the same reason (hub fan-out can exceed nSrc)
    val (dS, nDs) = Exec.materializeCounted(
      reSplit.unionByName(gains)
        .groupBy("node").agg(sum(col("_d")).as("_ds")),
      "pr_adv_ds")
    val advanced = st0
      .join(bc(dDeg, nSrc), Seq("node"), "left")
      .join(bc(dS, nDs), Seq("node"), "left")
      .select(col("node"), col("x"),
        (col("s") + coalesce(col("_ds"), lit(0L))).as("s"),
        (col("deg") + coalesce(col("_dd"), lit(0L))).as("deg"))
    pageRankPush(advanced, edges.select(col("src"), col("dst")).unionByName(d),
      eps, maxRounds, scale, dampNum, dampDen, maxPushdown, maxBroadcast)
  }

  /** Bounded-round single-source BFS distances — the frontier-relaxation
    * plan: each round joins the CURRENT frontier (only the nodes whose
    * distance was just settled, not the whole distance table) against the
    * edge list and folds newly-reached nodes in with a union + min. Work
    * per round is O(frontier-out-edges); settled nodes never re-enter a
    * shuffle. Integer distances — exact replay, the [[pageRank]] contract.
    * Nodes unreached within `rounds` are absent from the result (callers
    * left-join and fill the sentinel of their choice). */
  def bfsDistances(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = Seq((source, 0L)).toDF("node", "dist")
    var frontier = dist
    var nFrontier = 1L
    var r = 0
    while (r < rounds && nFrontier > 0L) {
      // frontier materialization + emptiness tally fused into one action
      // (the separate isEmpty probe was one more job per round)
      val (next, nNext) = Exec.materializeCounted(
        e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
          .join(dist.select(col("node")), Seq("node"), "left_anti")
          .groupBy("node").agg(min(col("dist")).as("dist")),
        s"bfs_frontier_r$r")
      dist = dist.unionByName(next).localCheckpoint()
      frontier = next
      nFrontier = nNext
      r += 1
    }
    dist
  }

  /** Incremental BFS-distance maintenance under edge ADDITIONS — the
    * frontier-relaxation plan applied to a delta: distances only ever
    * DECREASE when edges arrive, so relaxation seeded from the delta
    * edges' reachable sources converges to the exact bounded-round BFS of
    * the union, touching only the affected region (work is
    * O(improved-nodes' out-edges), never a from-source recount).
    *
    * `dist` is the settled `(node, dist)` table on the SEEN graph (the
    * [[bfsDistances]] output — nodes beyond `rounds` hops absent);
    * `edges`/`delta` are directed `(src, dst)`. Each relaxation round:
    * candidates = the current improvement frontier joined forward along
    * the UNION edge set, folded in with a min — a node enters the
    * frontier iff its distance strictly improved (or it just became
    * reachable within the bound), so the loop terminates: distances are
    * non-negative integers that strictly decrease per re-entry. The
    * initial frontier is delta edges whose source is settled — the only
    * places a new edge can change anything. */
  def bfsAdvance(edges: DataFrame, dist: DataFrame, delta: DataFrame,
                 rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    // NOT checkpointed: the union is scanned once per round (≤ rounds
    // scans of frames the caller already has materialized or on disk);
    // pinning it here would copy the whole seen edge set per ADVANCE —
    // a state-sized write for a delta-sized operation
    val all = edges.select(col("src"), col("dst"))
      .unionByName(delta.select(col("src"), col("dst")))
    var cur = dist.select(col("node"), col("dist")).localCheckpoint()
    // seed: relax every delta edge once from its settled source
    // (materialization + emptiness tally fused — one action per round
    // instead of checkpoint + isEmpty)
    var (frontier, nFrontier) = Exec.materializeCounted(
      delta.select(col("src"), col("dst"))
        .join(cur.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .filter(col("dist") <= rounds)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .join(cur.select(col("node"), col("dist").as("_old")),
          Seq("node"), "left")
        .filter(col("_old").isNull || col("dist") < col("_old"))
        .select(col("node"), col("dist")),
      "bfs_adv_seed")
    var r = 0
    while (r <= rounds && nFrontier > 0L) {
      // fold improvements in, then push them one hop along the union
      cur = cur.join(frontier.withColumnRenamed("dist", "_new"),
          Seq("node"), "full_outer")
        .select(col("node"),
          when(col("dist").isNull, col("_new"))
            .when(col("_new").isNull, col("dist"))
            .otherwise(least(col("dist"), col("_new"))).as("dist"))
        .localCheckpoint()
      val (f2, n2) = Exec.materializeCounted(
        all.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
          .filter(col("dist") <= rounds)
          .groupBy("node").agg(min(col("dist")).as("dist"))
          .join(cur.select(col("node"), col("dist").as("_old")),
            Seq("node"), "left")
          .filter(col("_old").isNull || col("dist") < col("_old"))
          .select(col("node"), col("dist")),
        s"bfs_adv_frontier_r$r")
      frontier = f2
      nFrontier = n2
      r += 1
    }
    cur
  }

  /** Canonical simple undirected edges: self-loops dropped, endpoints
    * ordered `u < v`, duplicates collapsed — the shared input contract of
    * [[triangleCount]], [[triangleDeltaCount]] and the persisted
    * [[triangleBatch]] state. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Triangles CLOSED by a delta-edge batch: the count of triangles in
    * `old ∪ delta` that use at least one delta edge — so
    * `T(old ∪ delta) = T(old) + triangleDeltaCount(old, delta)`. Both
    * inputs canonical (`u < v`, simple) and DISJOINT ([[triangleBatch]]
    * guarantees it via an anti-join; callers composing by hand must too).
    *
    * The incremental-maintenance identity: classify each new triangle by
    * how many delta edges it contains (1, 2 or 3), and count each class
    * from per-delta-edge common-neighbor probes —
    * {{{
    *   T_new = Σ_d |N_old(u) ∩ N_old(v)|                    (exactly 1)
    *         + (Σ_d |N_old ∩ N_delta| + |N_delta ∩ N_old|) / 2   (exactly 2)
    *         + (Σ_d |N_delta(u) ∩ N_delta(v)|) / 3          (all 3)
    * }}}
    * — a 2-delta triangle is probed once from each of its delta edges, an
    * all-delta one from all three, so the divisions are exact integers.
    *
    * Executed as ONE tagged enumeration: each (delta edge, common
    * neighbor) instance knows the tags of its two non-delta edges, and a
    * triangle with j delta edges is enumerated exactly j times, so the
    * integer weight 6/(1+[ta=Δ]+[tb=Δ]) ∈ {6,3,2} sums to 6·T_new.
    *
    * 100 TB shape (the micro-batch contract): the delta and the
    * wedge-candidate set (Σ_{Δ} deg — delta-incident degree, bounded)
    * BROADCAST, and the seen graph only STREAMS — two scans, zero
    * shuffles of state, never a wedge self-join, never a recount
    * (RankSpec plan-guards it; BenchIndexScale measures the flat curve).
    * A fresh seed falls out for free: with empty `old` only the
    * all-delta term survives and equals the batch's full triangle
    * count. */
  def triangleDeltaCount(old: DataFrame, delta: DataFrame): Long = {
    // materialization + emptiness tally in one action (Exec contract)
    val (d, nD) = Exec.materializeCounted(
      delta.select(col("u"), col("v")), "tri_delta")
    if (nD == 0L) return 0L
    val tagged = old.select(col("u"), col("v"), lit(0).as("t"))
      .unionAll(d.select(col("u"), col("v"), lit(1).as("t")))
    val symAll = tagged.select(col("u").as("a"), col("v").as("b"), col("t"))
      .unionAll(tagged.select(col("v").as("a"), col("u").as("b"), col("t")))
    // wedge candidates: edges {u,w} incident to a delta edge's u endpoint
    // (one scan of the seen graph; the delta broadcasts into it)
    val wedges = symAll.select(col("a").as("u"), col("b").as("w"),
        col("t").as("ta"))
      .join(broadcast(d), "u")
      .select(col("v"), col("w"), col("ta"))
    // closing edges {v,w}: the second scan, candidates broadcast into it;
    // inner join keeps one row PER WEDGE (adjacency is simple), so the
    // weighted count is exact
    val closed = symAll.select(col("a").as("v"), col("b").as("w"),
        col("t").as("tb"))
      .join(broadcast(wedges), Seq("v", "w"))
    val six = closed.agg(sum(
        when(col("ta") + col("tb") === 0, 6L)
          .when(col("ta") + col("tb") === 1, 3L)
          .otherwise(2L)).as("s"))
      .head().getAs[Any](0)
    val total = six match {
      case null => 0L
      case n: Long => n
      case n: java.lang.Long => n.longValue
    }
    total / 6
  }

  /** Persisted incremental triangle maintenance — the graph family's
    * §2.9 watermark member (the reference's co-occurrence edge list,
    * `scripts/SQL/Product_Association.sql:14-23`, grows by exactly this
    * kind of 30-min basket delta). State under `stateDir`, in the
    * [[graft.etl.BatchSnapshots]] append form: `edges/batch_id=K/`
    * (canonical edges first seen in batch K, the delta against
    * strictly-earlier batches) and `meta/bid=K/` (that batch's
    * edge/triangle increment). Returns the batch report
    * `(batch_id, n_edges_added, n_new_triangles)`. */
  def triangleBatch(stateDir: String)(edges: DataFrame,
                                      batchId: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgesDir = s"$stateDir/edges"
    val cand = canonicalEdges(edges)
    // no checkpoint: the seen graph re-reads from its own parquet, the
    // cheap lineage — pinning it would materialize state-sized bytes
    val old = BatchSnapshots.allBelow(spark, edgesDir, batchId, "batch_id",
      cand.limit(0).select("u", "v"))
    val delta = cand.join(old, Seq("u", "v"), "left_anti").localCheckpoint()
    val newTri = triangleDeltaCount(old, delta)
    val nAdded = delta.count()
    BatchSnapshots.land(delta, edgesDir, batchId, "batch_id")
    val report = Seq((batchId, nAdded, newTri))
      .toDF("batch_id", "n_edges_added", "n_new_triangles")
    BatchSnapshots.land(report, s"$stateDir/meta", batchId, "bid")
    report
  }

  /** Running totals over the persisted [[triangleBatch]] state. */
  def triangleStateTotals(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/meta")
      .agg(sum(col("n_edges_added")).as("n_edges"),
        sum(col("n_new_triangles")).as("n_triangles"))

  /** Empty residual state: `(node, x, s, deg)`, all int64. */
  def pageRankEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("x", LongType, nullable = false),
        StructField("s", LongType, nullable = false),
        StructField("deg", LongType, nullable = false))))
  }

  /** `foreachBatch` sink maintaining the RESIDUAL PageRank state — the
    * rank sub-family's streaming member ([[pageRank]] batch,
    * [[pageRankPushAdvance]] incremental). Two persisted halves under
    * `stateDir`, in the two [[graft.etl.BatchSnapshots]] forms:
    *   - `edges/bid=K` — the APPEND half: edges first seen in batch K
    *     (anti-joined against strictly-earlier batches, so a redelivered
    *     edge never double-folds), written src-sorted so the push rounds'
    *     pushed-isin lookups prune the seen graph at row-group grain;
    *   - `state/bid=K` — the SNAPSHOT half: the residual state after
    *     batch K.
    * First batch bootstraps `x` with `bootstrapIters` power rounds over
    * the batch graph, then builds the exact in-sums ONCE; every later
    * batch pays only [[pageRankPushAdvance]]'s delta-neighborhood fold +
    * eps-drain push — never an O(E) recompute. The node universe is fixed
    * up front (the q214 fixture contract; fresh delta endpoints still
    * enter as rank-0 singletons). Returns `(batch_id, n_edges_added)`. */
  def pageRankBatch(stateDir: String, nodes: DataFrame, eps: Long,
                    pushRounds: Int, bootstrapIters: Int)
                   (edges: DataFrame, batchId: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val edgesDir = s"$stateDir/edges"
    val cand = edges.select(col("src"), col("dst")).distinct()
    val old = BatchSnapshots.allBelow(spark, edgesDir, batchId, "bid",
      cand.limit(0))
    val delta = cand.join(old, Seq("src", "dst"), "left_anti")
      .localCheckpoint()
    val nAdded = delta.count()
    BatchSnapshots.land(delta.sortWithinPartitions("src"), edgesDir, batchId,
      "bid")
    BatchSnapshots.advanceAndLand(spark, s"$stateDir/state",
        batchId, Seq("node", "x", "s", "deg"), pageRankEmptyState(spark)) {
      prior =>
        if (prior.head(1).isEmpty)
          pageRankResidualState(nodes, delta,
            pageRank(nodes, delta, bootstrapIters))
        else
          pageRankPushAdvance(prior, old, delta, eps, pushRounds)
    }
    Seq((batchId, nAdded)).toDF("batch_id", "n_edges_added")
  }

  /** The latest persisted [[pageRankBatch]] residual snapshot — the empty
    * state when the dir holds no snapshots yet. */
  def pageRankStateFrom(spark: org.apache.spark.sql.SparkSession,
                        stateDir: String): DataFrame =
    BatchSnapshots.latest(spark, s"$stateDir/state",
      Seq("node", "x", "s", "deg"), pageRankEmptyState(spark))

  /** Exact triangle count via DEGREE-ORDERED edge orientation — the
    * standard trick that makes the wedge join survive power-law graphs:
    * orient every undirected edge from its lower-(degree, id) endpoint to
    * the higher, so each vertex's OUT-degree is O(√E) regardless of how
    * hub-heavy its true degree is, and the wedge self-join (the quadratic
    * step) explodes on no one. A naive neighbor self-join pays Σ deg(v)² —
    * a single celebrity hub makes that a cartesian product; orientation
    * caps the per-vertex cost at its out-neighborhood, Σ outdeg(v)² ≤
    * E^1.5 total. Counts each triangle exactly once (its minimum-order
    * vertex is the one that out-links the other two).
    *
    * Input edges may be directed/duplicated/self-looped; they canonicalize
    * to simple undirected edges first. Returns the scalar count. */
  def triangleCount(edges: DataFrame): Long = {
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // total order: (degree, id) — ties broken by id, so orientation is
    // deterministic and acyclic
    val ranked = und
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = ranked.select(
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t")))
        .as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
      // carry the endpoint's order key for the wedge dedup below
      .join(deg.withColumnRenamed("x", "dst").withColumnRenamed("d", "ddst"), "dst")
      .localCheckpoint()
    // wedges from a common source, the two targets ordered by (deg, id) so
    // each unordered target pair appears once; the closing edge is oriented
    // b→c by construction (rank(b) < rank(c))
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("ddst").as("dc"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("b"), col("c"))
    wedges.join(oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
      .count()
  }
}
