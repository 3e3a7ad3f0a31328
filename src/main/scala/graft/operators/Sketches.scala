package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequency sketches for corpus statistics: exact heavy hitters (the
  * two-shuffle verifier) and a Misra-Gries summary (the one-pass bounded-
  * memory scale path — think hot-token detection over 100 TB of text
  * without materializing the full vocabulary histogram).
  */
object Sketches {

  /** Exact heavy hitters: tokens appearing in more than `support` fraction
    * of all token occurrences. ONE corpus scan: the scalar total sums the
    * vocabulary-sized counts table (identical value) instead of
    * re-exploding the corpus a second time. */
  def heavyHitters(df: DataFrame, tokensCol: String,
                   support: Double): DataFrame = {
    val tokens = df.select(explode(col(tokensCol)).as("token"))
    val counts = tokens.groupBy("token").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") > col("__total") * support)
      .drop("__total")
  }

  /** Misra-Gries summary with `k` counters. GUARANTEE: every element whose
    * true frequency exceeds N/(k+1) is present in the summary (counts are
    * underestimates by at most N/(k+1)). The buffer never exceeds k entries
    * on any executor, and `merge` is the standard counter-sum + subtract-
    * (k+1)-th-largest trim, so partial aggregation keeps the shuffle at k
    * entries per mapper — one pass, bounded memory, any data size. */
  final class MisraGries(k: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k > 0)
    override def zero: Map[String, Long] = Map.empty

    override def reduce(buf: Map[String, Long], x: String): Map[String, Long] =
      buf.get(x) match {
        case Some(c) => buf.updated(x, c + 1)
        case None if buf.size < k => buf.updated(x, 1L)
        case None => // decrement all, drop zeros (the MG eviction step)
          buf.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val summed = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (summed.size <= k) summed
      else {
        // subtract the (k+1)-th largest count from everything; ≤0 drops out
        val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(k)
        summed.flatMap { case (t, c) =>
          if (c - cut > 0) Some(t -> (c - cut)) else None
        }
      }
    }

    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  }

  def misraGries(k: Int): MisraGries = new MisraGries(k)

  /** Count-min sketch rows use these polynomial bases — the same four the
    * 60-bit token hash packs, and the DuckDB oracle rebuilds the identical
    * sketch from them (hashing is [[graft.functions.PortableHash.poly]], so
    * bucket assignment is engine-portable, bit for bit). */
  val CmsBases: Seq[Long] = Seq(31L, 131L, 137L, 139L)

  /** Count-min sketch over weighted keys: a `d` (= CmsBases.take(d)) by `w`
    * counter grid; each (key, n) adds n to one bucket per row, an estimate
    * reads the MINIMUM of a key's d cells — never an underestimate, over by
    * at most the colliding mass in its emptiest row.
    *
    * The aggregator is LINEAR (merge = elementwise sum), so partial
    * aggregation ships one d×w array per mapper regardless of key
    * cardinality — the bounded-memory frequency path when even the distinct
    * key set is too big to shuffle (CDN logs, token streams). Feed it the
    * pre-aggregated (key, count) table when one exists; feeding raw
    * occurrences with n=1 builds the identical sketch.
    */
  final class CountMin(d: Int, w: Int)
    extends Aggregator[(String, Long), Array[Long], Array[Long]] {
    require(d >= 1 && d <= CmsBases.length, s"d must be in [1, ${CmsBases.length}]")
    require(w >= 1)
    override def zero: Array[Long] = Array.ofDim[Long](d * w)

    override def reduce(buf: Array[Long], x: (String, Long)): Array[Long] = {
      var r = 0
      while (r < d) {
        val b = (graft.functions.PortableHash.poly(x._1, CmsBases(r)) % w).toInt
        buf(r * w + b) += x._2
        r += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  def countMin(d: Int, w: Int): CountMin = new CountMin(d, w)

  /** Count-min estimates for every key of `keyed` (columns: key string `k`,
    * weight `n`): builds the sketch with [[CountMin]] (one array per mapper
    * into a single-row reduce), broadcasts that one row back, and reads each
    * key's d cells lazily in-plan — `element_at` at `r*w + poly_r(k) % w + 1`
    * with the shared [[graft.functions.PortableHash.polySql]] bucket
    * expression. No driver collect; the probe side stays distributed.
    * Emits (k, n, cms_est). */
  def countMinEstimates(keyed: DataFrame, d: Int, w: Int): DataFrame = {
    // `keyed` feeds BOTH the sketch aggregate and the probe side, and the
    // typed-Aggregator subplan does not canonicalize equal to the probe
    // subplan (no ReusedExchange) — the input's lineage therefore runs
    // TWICE. When that lineage is expensive (the corpus-sized stream a
    // sketch exists for), the CALLER persists `keyed` and unpersists after
    // consuming the result; persisting here would register a CacheManager
    // entry nobody can release (cached plans are strong references — LRU
    // only demotes the memory tier, disk blocks survive to app exit).
    cmsProbe(keyed, cmsSketch(keyed, d, w), d, w)
  }

  /** The one-row CMS of `keyed` (columns `k`, `n`). */
  def cmsSketch(keyed: DataFrame, d: Int, w: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.select(col("k"), col("n").cast("long"))
      .as[(String, Long)]
      .select(countMin(d, w).toColumn.name("sketch"))
      .toDF("sketch")
  }

  /** Probe every key of `keyed` against a one-row `sketch` frame —
    * broadcast the row, read each key's d cells lazily in-plan. */
  def cmsProbe(keyed: DataFrame, sketch: DataFrame, d: Int, w: Int): DataFrame = {
    val cells = (0 until d).map { r =>
      val bucket = (expr(graft.functions.PortableHash.polySql("k", CmsBases(r)))
        % w).cast("int")
      element_at(col("sketch"), bucket + lit(r * w + 1))
    }
    keyed.crossJoin(broadcast(sketch))
      .withColumn("cms_est", if (cells.length == 1) cells.head else least(cells: _*))
      .drop("sketch")
  }

  /** foreachBatch sink: PERSISTED incremental CMS — the sketches family's
    * streaming member. Each micro-batch's OWN sketch (one d·w array row)
    * lands under `batch_id=N/` ([[graft.etl.BatchSnapshots]] append form),
    * so an at-least-once replay REPLACES its partition. CMS is
    * LINEAR — sketch(A ∪ B) = sketch(A) + sketch(B) element-wise — so the
    * table's sketch is just the element-wise sum of the landed rows, and
    * estimates from the advanced state are IDENTICAL to a from-scratch
    * sketch of the union (the q185 oracle replays the union math; the
    * state path is result-invisible by linearity). State size:
    * batches × d·w int64s — bytes, not data. */
  def cmsBatch(dir: String, d: Int, w: Int)
              (batch: DataFrame, batchId: Long): Unit =
    graft.etl.BatchSnapshots.land(cmsSketch(batch, d, w), dir, batchId,
      "batch_id")

  /** The state's merged sketch: element-wise sum across batch partitions. */
  def readCmsState(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .select(posexplode(col("sketch")).as(Seq("pos", "cell")))
      .groupBy("pos").agg(sum(col("cell")).as("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cell")))).as("a"))
      .select(transform(col("a"), x => x.getField("cell")).as("sketch"))

  // -------------------------------------------------------------------
  // Portable HLL (replayable registers, max-monoid state)
  // -------------------------------------------------------------------

  /** HLL register width: 2^8 buckets, the 31-bit mixp hash split 8/23. */
  val HllM = 256

  /** Per-(group, register) rank rows for a PORTABLE HyperLogLog — unlike
    * `approx_count_distinct` (whose sketch is engine-internal and gated by
    * tolerance in q39), these registers replay bit-for-bit in SQL: bucket
    * `j = mixp(key) mod 256`, rank = position of the highest set bit of the
    * remaining 23 bits plus one (24 for zero) — integer ops only. One
    * map-combined groupBy; emits `(groupCols..., j, m)` with `m` the
    * register MAX. Registers form a MAX monoid, so state merges by
    * element-wise max — the q185 linearity story with max for sum. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
                   key: Column): DataFrame = {
    // project to (groups, key) FIRST, then spread a narrow input: the
    // 24-step register-rank fold below is per-row map work that a
    // one-partition scan would run serially (Exec.spreadIfNarrow is the
    // identity on an already-wide input; the spread moves only the
    // projected key rows)
    val proj = Exec.spreadIfNarrow(
      df.select((groupCols.map(col) :+ key.as("__k")): _*), col("__k"))
    val h = graft.functions.PortableHash.mixpCol(col("__k"))
    val j = pmod(h, lit(HllM.toLong))
    val w = call_function("div", h, lit(HllM.toLong)) // 23 bits
    // rank = 24 - bit_length(w): highest set bit via an integer-only fold
    // (shift amounts are columns, so the SQL shiftright via call_function)
    val bitLen = aggregate(sequence(lit(0), lit(23)), lit(0),
      (acc, i) =>
        when(call_function("shiftright", w, i) > 0, i + lit(1)).otherwise(acc))
    val rho = (lit(24) - bitLen).cast("int")
    proj.select((groupCols.map(col) :+ j.as("j") :+ rho.as("m")): _*)
      .groupBy((groupCols.map(col) :+ col("j")): _*)
      .agg(max(col("m")).as("m"))
  }

  /** foreachBatch sink: persisted incremental HLL — each batch's OWN
    * registers land under `batch_id=N/` ([[graft.etl.BatchSnapshots]]
    * append form, replay replaces); the table's registers are the
    * element-wise MAX across batches, so the advanced state is IDENTICAL
    * to registers built from the union. */
  def hllBatch(dir: String, groupCols: Seq[String], key: Column)
              (batch: DataFrame, batchId: Long): Unit =
    graft.etl.BatchSnapshots.land(hllRegisters(batch, groupCols, key), dir,
      batchId, "batch_id")

  /** Merged registers of a landed HLL state (max across batches); empty,
    * with STRING group columns, when no batch has landed registers yet. */
  def readHllState(spark: SparkSession, dir: String,
                   groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(groupCols.map(StructField(_, StringType)) ++
        Seq(StructField("j", LongType), StructField("m", IntegerType))))
    graft.etl.BatchSnapshots.allBelow(spark, dir, Long.MaxValue, "batch_id", empty)
      .groupBy((groupCols.map(col) :+ col("j")): _*)
      .agg(max(col("m")).as("m"))
  }

  /** Raw HLL estimates from register rows: `alpha·m²/S` with
    * `S = Σ_j 2^(-M_j)` (absent registers contribute 1). Every term is a
    * dyadic rational with ≥ 2^-24 granularity, so the double sum is EXACT
    * in any order — the estimate replays bit-for-bit before the final 4dp
    * round. The small-range `ln` correction is deliberately omitted (`ln`
    * is not correctly-rounded across engines); `v_zero` (absent-register
    * count) is emitted so a caller can judge when the raw estimate is
    * biased. Emits `(groupCols..., v_zero, raw_est)`. */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    val s = col("_s2") + (lit(HllM) - col("_present")).cast("double")
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("_present"),
        sum(lit(1.0) /
            call_function("shiftleft", lit(1L), col("m")).cast("double"))
          .as("_s2"))
      .select((groupCols.map(col) :+
        (lit(HllM) - col("_present")).cast("long").as("v_zero") :+
        graft.functions.Rounding.roundLikeC(
          lit(alpha * HllM * HllM) / s, 4).as("raw_est")): _*)
  }

  /** Mergeable rank-quantile sketch (the MRL/KLL pairwise-collapse scheme,
    * Manku–Rajagopalan–Lindsay 1998 simplified to one weighted buffer) —
    * the bounded-memory percentile path when a group's value multiset is
    * too big to sort: length distributions per source, latency
    * percentiles, the q68-style gate when even the histogram's key space
    * explodes.
    *
    * Buffer = (value, weight) pairs. Past `capacity` items the
    * value-sorted buffer collapses each adjacent pair into ONE member
    * carrying the pair's TOTAL weight: total weight is conserved exactly
    * (so quantile ranks never drift globally), and one collapse moves any
    * rank by at most the dropped member's weight — the classic
    * ε ≈ log(n/c)/c envelope. WHICH member survives alternates by a
    * parity derived from the buffer itself (KLL's coin flip, made
    * deterministic): always keeping the lower member would migrate mass
    * downward monotonically and collapse every quantile toward the
    * minimum — the de-biasing is load-bearing, not cosmetic (pinned in
    * SketchesSpec). While a group's count stays ≤ capacity nothing
    * collapses and every rank statistic is EXACT — which is what lets
    * the DuckDB oracle check the sketch with plain `quantile_disc`.
    *
    * `finish` answers each q with the `quantile_disc` rule pinned by
    * probe: the item whose cumulative weight first reaches
    * ceil(q · totalWeight) (1-based; same double product both engines).
    *
    * Merge concatenates-then-collapses, so partial aggregation ships at
    * most `capacity` pairs per mapper regardless of group size — the
    * [[CountMin]] linearity argument for rank statistics. Compaction is
    * deterministic for a fixed merge tree; across merge orders only the
    * ≤ε displacement varies, never the exact-regime result. */
  final class QuantileSketch(capacity: Int, qs: Seq[Double])
    extends Aggregator[Long, Seq[(Long, Long)], Seq[Long]] {
    require(capacity >= 2, "capacity must be at least 2")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")

    override def zero: Seq[(Long, Long)] = Vector.empty

    @annotation.tailrec
    private def collapse(buf: Seq[(Long, Long)]): Seq[(Long, Long)] =
      if (buf.length <= capacity) buf
      else {
        // KLL level compaction: only the most-populated weight class
        // compacts (everything else keeps its exact position), so an
        // item's weight doubles once per LEVEL, not once per collapse —
        // a flat full-buffer halving doubles every weight every time and
        // the rank walk explodes (pinned in SketchesSpec). The survivor
        // of each pair alternates by a content-derived parity (KLL's
        // coin, made deterministic): always keeping the lower member
        // migrates all mass toward the minimum.
        val classes = buf.groupBy(_._2).toSeq
          .sortBy { case (w, its) => (-its.length, w) }
        val (w, items) = classes.head
        if (items.length >= 2) {
          val s = items.sortBy(_._1)
          val rest = buf.filterNot(_._2 == w)
          val out = Vector.newBuilder[(Long, Long)]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length) {
              val keepHi = ((s(i)._1 + s(i + 1)._1 + s.length + i) & 1L) == 1L
              val v = if (keepHi) s(i + 1)._1 else s(i)._1
              out += ((v, s(i)._2 + s(i + 1)._2))
            } else out += s(i)
            i += 2
          }
          collapse(rest ++ out.result())
        } else {
          // degenerate (capacity below the live level count): merge the
          // two lightest items; total weight still conserved exactly
          val s = buf.sortBy(t => (t._2, t._1)).toVector
          val (a, b) = (s(0), s(1))
          val keepHi = ((a._1 + b._1) & 1L) == 1L
          val v = if (keepHi) math.max(a._1, b._1) else math.min(a._1, b._1)
          collapse(s.drop(2) :+ ((v, a._2 + b._2)))
        }
      }

    override def reduce(buf: Seq[(Long, Long)], x: Long): Seq[(Long, Long)] =
      collapse(buf :+ ((x, 1L)))

    override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      collapse(a ++ b)

    override def finish(r: Seq[(Long, Long)]): Seq[Long] =
      if (r.isEmpty) Seq.empty
      else {
        val s = r.sortBy(_._1)
        val w = s.iterator.map(_._2).sum
        qs.map { q =>
          val target = math.max(1L, math.ceil(q * w.toDouble).toLong)
          var cum = 0L
          var i = 0
          var res = s.last._1
          var found = false
          while (i < s.length && !found) {
            cum += s(i)._2
            if (cum >= target) { res = s(i)._1; found = true }
            i += 1
          }
          res
        }
      }

    override def bufferEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  def quantileSketch(capacity: Int, qs: Seq[Double]): QuantileSketch =
    new QuantileSketch(capacity, qs)
}
