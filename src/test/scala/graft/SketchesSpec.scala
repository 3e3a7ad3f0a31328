package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Misra-Gries guarantee + exact heavy hitters consistency. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("Misra-Gries contains every element with frequency > N/(k+1)") {
    val agg = Sketches.misraGries(9) // threshold N/10
    // 1000 tokens: 'hot' 200x, 'warm' 150x, rest spread thin
    val tokens = Seq.fill(200)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 650).map(i => s"cold${i % 130}")
    val shuffled = new scala.util.Random(42).shuffle(tokens)
    // distributed: fold per slice, merge across slices (mirrors partial agg)
    val slices = shuffled.grouped(100).toSeq
    val partials = slices.map(_.foldLeft(agg.zero)(agg.reduce))
    val summary = agg.finish(partials.reduce(agg.merge))
    assert(summary.contains("hot") && summary.contains("warm"))
    assert(summary.size <= 9)
    // counts underestimate by at most N/(k+1) = 100
    assert(summary("hot") >= 100L && summary("hot") <= 200L)
  }

  test("count-min never underestimates, is linear under merge, and goes exact without collisions") {
    import graft.functions.PortableHash
    val agg = Sketches.countMin(4, 64)
    val items = Seq("alpha" -> 5L, "beta" -> 3L, "gamma" -> 7L, "delta" -> 1L,
      "epsilon" -> 11L, "zeta" -> 2L)
    // linearity: sketch(A ++ B) == sketch(A) + sketch(B) elementwise
    val (a, b) = items.splitAt(3)
    val whole = items.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
      b.foldLeft(agg.zero)(agg.reduce))
    assert(whole.toSeq === merged.toSeq)
    // estimates: min over rows, never below truth
    def est(sk: Array[Long], k: String): Long =
      (0 until 4).map(r => sk(r * 64 + (PortableHash.poly(k, Sketches.CmsBases(r)) % 64).toInt)).min
    items.foreach { case (k, n) => assert(est(whole, k) >= n) }
    // this fixture is collision-free in at least one row per key (verified
    // here, not assumed), so every estimate is exact
    items.foreach { case (k, n) =>
      val exactRow = (0 until 4).exists { r =>
        val bkt = PortableHash.poly(k, Sketches.CmsBases(r)) % 64
        items.forall { case (o, _) =>
          o == k || PortableHash.poly(o, Sketches.CmsBases(r)) % 64 != bkt }
      }
      assert(exactRow, s"fixture has no collision-free row for $k — change keys")
      assert(est(whole, k) === n)
    }
  }

  test("scalar poly == polySql expression beyond the BMP (sketch build/probe consistency)") {
    import graft.functions.PortableHash
    // emoji (non-BMP, 2 UTF-16 units, 1 codepoint), accent, plain ascii
    val keys = Seq("😀", "café", "plain", "mix😀ed")
    val exprVals = keys.toDF("k")
      .select(expr(PortableHash.polySql("k", 31L)).as("h")).as[Long].collect()
    keys.zip(exprVals).foreach { case (k, e) =>
      assert(PortableHash.poly(k, 31L) === e,
        s"scalar/expression poly drift on '$k' — CMS would probe the wrong cell")
    }
  }

  test("countMinEstimates: distributed plan matches the scalar sketch, overestimate on every row") {
    val counts = Tables.events(spark, sf)
      .groupBy(col("user_id").cast("string").as("k"))
      .agg(count(lit(1)).as("n"))
    val got = Sketches.countMinEstimates(counts, d = 4, w = 256)
      .select("k", "n", "cms_est").as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (_, n, e) => e >= n }, "CMS must never underestimate")
    // scalar replay of the same sketch agrees cell-for-cell with the plan
    val agg = Sketches.countMin(4, 256)
    val sk = got.map { case (k, n, _) => (k, n) }
      .foldLeft(agg.zero)(agg.reduce)
    got.foreach { case (k, _, e) =>
      val scalar = (0 until 4).map(r =>
        sk(r * 256 + (graft.functions.PortableHash.poly(k, Sketches.CmsBases(r)) % 256).toInt)).min
      assert(scalar === e, s"plan/scalar drift for $k")
    }
  }

  test("Misra-Gries via groupByKey on the documents table agrees with exact hitters") {
    val docs = Tables.documents(spark, sf)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .as[String]
    val n = docs.count()
    val k = 49 // threshold n/50
    val summary = docs.groupByKey(_ => 0)
      .mapValues(identity[String])
      .agg(Sketches.misraGries(k).toColumn.name("mg"))
      .collect().head._2
    val exact = Sketches.heavyHitters(
        Tables.documents(spark, sf)
          .select(graft.functions.Text.tokens(col("text")).as("toks")),
        "toks", support = 1.0 / (k + 1))
      .select("token").as[String].collect().toSet
    // every exact hitter above n/(k+1) must appear in the sketch
    assert(exact.nonEmpty && exact.subsetOf(summary.keySet),
      s"missing: ${exact -- summary.keySet}")
  }

  test("quantile sketch: exact regime matches quantile_disc rule, any partitioning") {
    // DuckDB probe of record: values 1..10 -> disc quantiles 3, 5, 8, 10
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    def run(parts: Int): Seq[Long] =
      spark.range(1, 11).repartition(parts).as[Long]
        .groupByKey(_ => 0).mapValues(identity[Long])
        .agg(Sketches.quantileSketch(4096, qs).toColumn.name("q"))
        .collect().head._2
    assert(run(1) === Seq(3L, 5L, 8L, 10L))
    // merge order cannot move the exact regime (no collapse ever fires)
    assert(run(7) === Seq(3L, 5L, 8L, 10L))
  }

  test("quantile sketch: collapse regime conserves rank within the error envelope") {
    // 1..1000 through capacity 16: collapses fire constantly; total weight
    // is conserved exactly, so the p50 answer's TRUE rank must stay near
    // 500 — the MRL displacement bound, checked loosely (±20%)
    val got = spark.range(1, 1001).repartition(4).as[Long]
      .groupByKey(_ => 0).mapValues(identity[Long])
      .agg(Sketches.quantileSketch(16, Seq(0.5)).toColumn.name("q"))
      .collect().head._2
    val p50 = got.head
    assert(p50 >= 300L && p50 <= 700L,
      s"collapsed p50=$p50 drifted past the error envelope")
  }

  test("quantile sketch: approximate-regime rank error stays within the log(n/c)/c envelope") {
    // the scaladoc's accuracy claim as a measured number, not prose:
    // n = 20000 values through capacity c = 64 (n/c = 312 -> collapses
    // fire constantly). For every q on a grid and FOUR input shapes
    // (shuffled, sorted, reverse-sorted, zipf-skewed), the answer's TRUE
    // rank range must sit within eps*n of ceil(q*n), eps = log2(n/c)/c
    // ~= 0.1295. Measured (round 8, emitted per-shape via info()):
    // shuffled 0.0762, sorted 0.0346, reversed 0.0431, zipf 0.0346 —
    // worst case a 1.7x margin under the envelope.
    val n = 20000
    val c = 64
    val eps = math.log(n.toDouble / c) / math.log(2.0) / c
    val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val rnd = new scala.util.Random(7)
    val base = (1 to n).map(_.toLong)
    val shapes: Map[String, Seq[Long]] = Map(
      "shuffled" -> rnd.shuffle(base),
      "sorted" -> base,
      "reversed" -> base.reverse,
      // heavy low-end skew: many repeats of small values
      "zipf" -> (1 to n).map(i => (math.pow(i.toDouble / n, 3.0) * n).toLong + 1L))
    val errs = shapes.map { case (shape, data) =>
      // distributed fold: 16 partition reduces, then a pairwise merge tree
      val sk = Sketches.quantileSketch(c, qs)
      val partials = data.grouped(n / 16 + 1)
        .map(_.foldLeft(sk.zero)(sk.reduce)).toSeq
      val merged = partials.reduce(sk.merge)
      val answers = sk.finish(merged)
      val sorted = data.sorted
      val maxErr = qs.zip(answers).map { case (q, v) =>
        val target = math.max(1L, math.ceil(q * n).toLong)
        val lo = sorted.count(_ < v) + 1L  // rank range of value v
        val hi = sorted.count(_ <= v).toLong
        val dist = if (target < lo) lo - target
                   else if (target > hi) target - hi else 0L
        dist.toDouble / n
      }.max
      shape -> maxErr
    }
    errs.foreach { case (shape, e) =>
      info(f"$shape: max normalized rank error $e%.4f (envelope $eps%.4f)")
      assert(e <= eps,
        f"$shape: measured normalized rank error $e%.4f exceeds envelope eps=$eps%.4f")
    }
  }

  test("quantile sketch: rejects degenerate parameters, empty group yields empty") {
    intercept[IllegalArgumentException](Sketches.quantileSketch(1, Seq(0.5)))
    intercept[IllegalArgumentException](Sketches.quantileSketch(16, Seq(0.0)))
    intercept[IllegalArgumentException](Sketches.quantileSketch(16, Seq(1.5)))
    val sk = Sketches.quantileSketch(16, Seq(0.5))
    assert(sk.finish(sk.zero) === Seq.empty)
  }

  test("cmsBatch state: linearity holds exactly; replay replaces, never doubles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cms").toString + "/state"
    val ev = Tables.events(spark, sf)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id").cast("string").as("k"))
        .agg(count(lit(1)).as("n"))
    Sketches.cmsBatch(dir, 4, 256)(counts(ev.filter(col("event_id") % 3 =!= 2)), 0L)
    Sketches.cmsBatch(dir, 4, 256)(counts(ev.filter(col("event_id") % 3 === 2)), 1L)
    def stateArr(): Seq[Long] = Sketches.readCmsState(spark, dir)
      .head().getSeq[Long](0)
    val merged = stateArr()
    // linearity: the merged state IS the union's sketch, cell for cell
    val single = Sketches.cmsSketch(counts(ev), 4, 256).head().getSeq[Long](0)
    assert(merged == single)
    // at-least-once replay of a committed batch replaces its partition
    Sketches.cmsBatch(dir, 4, 256)(counts(ev.filter(col("event_id") % 3 === 2)), 1L)
    assert(stateArr() == merged)
    // probes against the state equal single-shot estimates
    val a = Sketches.cmsProbe(counts(ev), Sketches.readCmsState(spark, dir), 4, 256)
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("cms_est")).toMap
    val b = Sketches.countMinEstimates(counts(ev), 4, 256)
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("cms_est")).toMap
    assert(a == b)
  }

  test("portable HLL: max-monoid state equals union registers; raw estimate lands") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString + "/state"
    val keys = (0L until 5000L).map(k => ("g", k)).toDF("g", "k")
    val b0 = keys.filter(col("k") % 2 === 0)
    val b1 = keys.filter(col("k") % 2 === 1)
    Sketches.hllBatch(dir, Seq("g"), col("k"))(b0, 0L)
    Sketches.hllBatch(dir, Seq("g"), col("k"))(b1, 1L)
    def regs(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => r.getAs[Long]("j") -> r.getAs[Int]("m")).toMap
    val state = regs(Sketches.readHllState(spark, dir, Seq("g")))
    val union = regs(Sketches.hllRegisters(keys, Seq("g"), col("k")))
    assert(state == union, "advanced state must BE the union's registers")
    // replaying a committed wave changes nothing
    Sketches.hllBatch(dir, Seq("g"), col("k"))(b1, 1L)
    assert(regs(Sketches.readHllState(spark, dir, Seq("g"))) == union)
    // at 5000 distinct over 256 registers the raw estimate is in its
    // working regime: no empty registers, within 10% of the truth
    val est = Sketches.hllEstimate(
      Sketches.readHllState(spark, dir, Seq("g")), Seq("g")).head()
    assert(est.getAs[Long]("v_zero") == 0L)
    val e = est.getAs[Double]("raw_est")
    assert(math.abs(e - 5000.0) / 5000.0 < 0.10, s"raw_est $e too far from 5000")
  }

  test("readHllState after only an empty hllBatch is an empty register set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_empty").toString + "/state"
    Sketches.hllBatch(dir, Seq("g"), col("k"))(Seq.empty[(String, Long)].toDF("g", "k"), 0L)
    val regs = Sketches.readHllState(spark, dir, Seq("g"))
    assert(regs.columns.toSeq == Seq("g", "j", "m"))
    assert(regs.collect().isEmpty)
    assert(Sketches.hllEstimate(regs, Seq("g")).collect().isEmpty)
  }
}
