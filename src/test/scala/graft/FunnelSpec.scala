package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Aggregates

/** Min-timestamp-cascade funnel semantics on hand-built histories. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")

  private val steps = Seq(
    "a" -> (col("t") === "A"), "b" -> (col("t") === "B"),
    "c" -> (col("t") === "C"))

  private def run(rows: Seq[(Long, Timestamp, String)]): Map[String, Long] =
    Aggregates.funnel(rows.toDF("u", "ts", "t"), col("u"), col("ts"), steps)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("entities")).toMap

  test("order matters: steps must strictly follow the previous completion") {
    val rows = Seq(
      // u1 completes A -> B -> C in order
      (1L, ts(1), "A"), (1L, ts(2), "B"), (1L, ts(3), "C"),
      // u2 does B before A: reaches A only (its only B precedes A)
      (2L, ts(1), "B"), (2L, ts(2), "A"),
      // u3 same-minute A and B: strict > rejects the tie; C later doesn't help
      (3L, ts(1), "A"), (3L, ts(1), "B"), (3L, ts(5), "C"),
      // u4 A then B, no C
      (4L, ts(1), "A"), (4L, ts(4), "B"))
    assert(run(rows) == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }

  test("earliest completion is the anchor, not any completion") {
    // u1's FIRST A is at minute 1; a B at minute 2 counts even though a
    // second A arrives later at minute 3
    val rows = Seq((1L, ts(1), "A"), (1L, ts(2), "B"), (1L, ts(3), "A"))
    assert(run(rows) == Map("a" -> 1L, "b" -> 1L, "c" -> 0L))
  }

  private def advance(state: org.apache.spark.sql.DataFrame,
                      rows: Seq[(Long, Timestamp, String)]) =
    Aggregates.funnelAdvance(state, rows.toDF("u", "ts", "t"),
      col("u"), col("ts"), steps).localCheckpoint()

  private def counts(state: org.apache.spark.sql.DataFrame): Map[String, Long] =
    Aggregates.funnelStateCounts(state, steps.map(_._1))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("entities")).toMap

  test("bootstrap+delta ≡ full recompute under watermark loads (every cross-boundary shape)") {
    // watermark at minute 10: batch1 < ts(10) <= batch2 — every way a
    // user's cascade can straddle the boundary
    val all = Seq(
      (1L, ts(1), "A"), (1L, ts(2), "B"), (1L, ts(3), "C"),   // all in b1
      (2L, ts(1), "A"), (2L, ts(12), "B"), (2L, ts(13), "C"), // A in b1, B/C in b2
      (3L, ts(2), "A"), (3L, ts(3), "B"), (3L, ts(14), "C"),  // C crosses alone
      (4L, ts(11), "A"), (4L, ts(12), "B"),                   // entirely in b2
      (5L, ts(11), "B"), (5L, ts(12), "A"),                   // B-before-A in b2: reaches a only
      (6L, ts(2), "B"),                                       // B-only in b1: never enters state
      (7L, ts(3), "A"), (7L, ts(3), "B"))                     // tie rejected across the protocol too
    val (b1, b2) = all.partition(_._2.before(ts(10)))
    val st1 = advance(Aggregates.funnelEmptyState(spark, steps.length), b1)
    val st2 = advance(st1, b2)
    // phase 1 equals the batch operator on b1's events alone
    assert(counts(st1) == run(b1))
    // phase 2 equals the batch operator on everything
    assert(counts(st2) == run(all))
    // a: u1,u2,u3,u4,u7 plus u5 (its A at minute 12 follows its B — B
    // doesn't count, A still does); b: tie (u7) and B-before-A (u5) miss
    assert(counts(st2) == Map("a" -> 6L, "b" -> 4L, "c" -> 3L))
  }

  test("funnelAdvanceLate: a late batch ≡ full recompute; no late rows ≡ the plain fold") {
    // watermark = minute 10. b2 carries LATE rows (ts <= wm) that the pure
    // fold cannot absorb — each shape below would come out wrong without
    // the recompute route:
    val all = Seq(
      // u1: late A at minute 1 UNLOCKS a history B at minute 2 that the
      // phase-1 fold discarded (no A yet) — fold-only would miss b
      (1L, ts(2), "B"), (1L, ts(1), "A"),
      // u2: late A EARLIER than its state _t0 re-anchors the cascade: the
      // history B at minute 3 then counts (old anchor was minute 5)
      (2L, ts(5), "A"), (2L, ts(3), "B"), (2L, ts(1), "A"),
      // u3: on-time rows only — must take the plain fold path untouched
      (3L, ts(4), "A"), (3L, ts(12), "B"),
      // u4: late row for an entity the state never saw
      (4L, ts(6), "A"))
    val b1 = Seq(all(0), all(2), all(3), all(5))            // history: ts <= 10 on time
    val b2 = Seq(all(1), all(4), all(6), all(7))            // late A's + u3's fresh B + u4
    val hist = b1.toDF("u", "ts", "t")
    val st1 = advance(Aggregates.funnelEmptyState(spark, steps.length), b1)
    val st2 = Aggregates.funnelAdvanceLate(st1, b2.toDF("u", "ts", "t"), hist,
      col("u"), col("ts"), steps, ts(10)).localCheckpoint()
    assert(counts(st2) == run(all), s"late advance must equal recompute: ${counts(st2)} vs ${run(all)}")
    // u1 and u2 reach b ONLY via the recompute route
    val byU = st2.collect().map(r => r.getLong(0) -> r).toMap
    assert(byU(1L).getTimestamp(2) != null, "u1's unlocked history B must count")
    assert(byU(2L).getTimestamp(1) == ts(1), "u2's anchor must move to the late A")
    assert(byU(2L).getTimestamp(2) == ts(3), "u2's history B must count off the new anchor")
    // and a batch with NO late rows short-circuits to the plain fold
    val fresh = Seq((3L, ts(15), "C"))
    val viaLate = Aggregates.funnelAdvanceLate(st2, fresh.toDF("u", "ts", "t"),
      all.toDF("u", "ts", "t"), col("u"), col("ts"), steps, ts(12))
    val viaFold = advance(st2, fresh)
    assert(viaLate.collect().toSet == viaFold.collect().toSet)
  }

  test("Sessions.advanceLate: late rows bridge/extend existing sessions ≡ full re-sessionization") {
    import graft.operators.Sessions
    val gapSec = 30 * 60L
    def ev(rows: Seq[(Long, Timestamp, Double)]) = rows.toDF("u", "ts", "v")
    val all = Seq(
      // u1: two phase-1 sessions 40 min apart; a LATE bridge event at
      // 10:20 lands within the gap of both → they chain-merge into one
      (1L, ts2("10:00"), 1.0), (1L, ts2("10:40"), 2.0), (1L, ts2("10:20"), 3.0),
      // u2: a late event BEFORE its first session, past the gap → a new
      // earlier session appears (session_no renumbers)
      (2L, ts2("10:00"), 4.0), (2L, ts2("08:00"), 5.0),
      // u3: on-time only — plain boundary stitch must still apply
      (3L, ts2("10:00"), 6.0), (3L, ts2("11:10"), 7.0))
    val wm = ts2("10:45")
    val b1 = Seq(all(0), all(1), all(3), all(5))
    val b2 = Seq(all(2), all(4), all(6))
    val st1 = Sessions.advance(Sessions.emptyState(spark), ev(b1),
      col("u"), col("ts"), col("v"), gapSec).localCheckpoint()
    val st2 = Sessions.advanceLate(st1, ev(b2), ev(b1),
      col("u"), col("ts"), col("v"), gapSec, wm).localCheckpoint()
    def rows(d: org.apache.spark.sql.DataFrame) = Sessions.report(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getDouble(5))).toSet
    val want = rows(Sessions.advance(Sessions.emptyState(spark), ev(all),
      col("u"), col("ts"), col("v"), gapSec))
    assert(rows(st2) == want, s"late advance ≠ recompute:\n${rows(st2)}\nvs\n$want")
    assert(rows(st2).count(_._1 == 1L) == 1, "u1's bridge must chain-merge to ONE session")
    assert(rows(st2).filter(_._1 == 2L).map(_._2) == Set(1L, 2L),
      "u2's late earlier session must renumber to session 1")
  }

  test("within-batch cascade: a user can complete several steps in one advance") {
    val st = advance(Aggregates.funnelEmptyState(spark, steps.length),
      Seq((1L, ts(1), "A"), (1L, ts(2), "B"), (1L, ts(3), "C")))
    assert(counts(st) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("Sessions.advance: boundary sessions stitch exactly; separated ones don't; chain ≡ recompute") {
    import graft.operators.Sessions
    val gapSec = 30 * 60L
    def ev(rows: Seq[(Long, Timestamp, Double)]) = rows.toDF("u", "ts", "v")
    val all = Seq(
      // u1: one session spanning the boundary (14 min gap at the split)
      (1L, ts2("10:00"), 1.0), (1L, ts2("10:20"), 2.0),
      (1L, ts2("10:34"), 3.0), (1L, ts2("10:50"), 4.0),
      // u2: boundary gap of exactly 31 min — stays TWO sessions
      (2L, ts2("10:00"), 5.0), (2L, ts2("10:55"), 6.0),
      // u3: all activity before the boundary
      (3L, ts2("09:30"), 7.0),
      // u4: all activity after, two sessions within the batch
      (4L, ts2("11:00"), 8.0), (4L, ts2("12:00"), 9.0))
    val split = ts2("10:24")
    val (b1, b2) = all.partition(_._2.before(split))
    val st1 = Sessions.advance(Sessions.emptyState(spark), ev(b1),
      col("u"), col("ts"), col("v"), gapSec).localCheckpoint()
    val st2 = Sessions.advance(st1, ev(b2),
      col("u"), col("ts"), col("v"), gapSec).localCheckpoint()
    def rows(d: org.apache.spark.sql.DataFrame) = Sessions.report(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getDouble(5))).toSet
    val want = rows(Sessions.advance(Sessions.emptyState(spark), ev(all),
      col("u"), col("ts"), col("v"), gapSec))
    assert(rows(st2) == want, "chained ≡ one-shot recompute")
    val u1 = rows(st2).filter(_._1 == 1L)
    assert(u1.size == 1 && u1.head._5 == 4L && u1.head._6 == 10.0,
      s"u1's boundary session must stitch into one 4-event session: $u1")
    assert(rows(st2).count(_._1 == 2L) == 2,
      "u2's 31-min boundary gap must stay two sessions")
    assert(rows(st2).count(_._1 == 4L) == 2)
    // schema stability: the advance must not let SUM widen the state's
    // total past the emptyState contract (decimal(18,2) forever)
    val want18 = org.apache.spark.sql.types.DecimalType(18, 2)
    assert(st1.schema("total").dataType == want18 &&
      st2.schema("total").dataType == want18,
      s"state total drifted: ${st2.schema("total").dataType}")
  }

  private def ts2(hm: String) = Timestamp.valueOf(s"2026-01-01 $hm:00")

  test("rfmAdvance: monoid merge ≡ recompute, exact under out-of-order back-fill") {
    def tsd(d: Int) = java.sql.Date.valueOf(f"1998-06-$d%02d")
    val all = Seq(
      (1L, tsd(10), 1000L), (1L, tsd(20), 500L), // two orders, later wins recency
      (2L, tsd(5), 2500L),
      (3L, tsd(15), 100L), (3L, tsd(1), 900L))   // back-filled earlier order
    def df(rows: Seq[(Long, java.sql.Date, Long)]) =
      rows.toDF("cust", "d", "cents")
    // out-of-order split: the back-fill and the LATEST order land in batch 2
    val b1 = Seq(all(0), all(2), all(3))
    val b2 = Seq(all(1), all(4))
    val st1 = Aggregates.rfmAdvance(Aggregates.rfmEmptyState(spark),
      df(b1), col("cust"), col("d"), col("cents")).localCheckpoint()
    val st2 = Aggregates.rfmAdvance(st1, df(b2),
      col("cust"), col("d"), col("cents"))
    val got = st2.collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getLong(3))).toSet
    val full = Aggregates.rfmAdvance(Aggregates.rfmEmptyState(spark),
        df(all), col("cust"), col("d"), col("cents")).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == full, s"$got vs $full")
    assert(got == Set(
      (1L, tsd(20), 2L, 1500L),
      (2L, tsd(5), 1L, 2500L),
      (3L, tsd(15), 2L, 1000L)),
      s"hand check: $got")
  }

  test("rfmSegments: an all-null metric gets a null label; the others still rank") {
    val none: Option[Long] = None
    val per = (1 to 5).map(i => (i.toLong, Option(i.toLong), none, Option(10L * i)))
      .toDF("e", "rec", "freq", "mon")
    def cells(r: String, f: String, m: String) =
      Aggregates.rfmSegments(per, "e", r, f, m).collect().map { x =>
        def q(i: Int) = if (x.isNullAt(i)) None else Some(x.getInt(i))
        (q(0), q(1), q(2), x.getLong(3))
      }.toSet
    // recency ranks ascending, monetary descending, frequency all-null
    assert(cells("rec", "freq", "mon") ==
      (1 to 5).map(i => (Some(i), None, Some(6 - i), 1L)).toSet)
    // an all-null recency still segments on frequency and monetary
    assert(cells("freq", "rec", "mon") ==
      (1 to 5).map(i => (None, Some(6 - i), Some(6 - i), 1L)).toSet)
  }

  test("retention: bootstrap+delta ≡ recompute, exact even for OUT-OF-ORDER batches") {
    def tsd(d: Int) = Timestamp.valueOf(f"2026-01-$d%02d 10:00:00")
    val all = Seq(
      (1L, tsd(1), "A"), (1L, tsd(3), "B"),  // cohort day 1, active offset 0 and 2
      (2L, tsd(2), "A"), (3L, tsd(4), "B"), (2L, tsd(5), "C"))
    def days(rows: Seq[(Long, Timestamp, String)]) = rows.toDF("u", "ts", "t")
    // split NOT by time: batch2 holds the EARLIEST event (back-fill) — the
    // union+distinct state is exact anyway because cohorts re-derive
    val b1 = all.drop(1)
    val b2 = all.take(1)
    val d1 = Aggregates.retentionAdvance(
      Aggregates.retentionEmptyState(spark), days(b1), col("u"), col("ts"))
    val d2 = Aggregates.retentionAdvance(d1, days(b2), col("u"), col("ts"))
      .localCheckpoint()
    val inc = Aggregates.retentionMatrix(d2)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val full = Aggregates.retentionCohorts(days(all), col("u"), col("ts"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full)
    // replaying a batch is a no-op (idempotent union)
    val d3 = Aggregates.retentionAdvance(d2, days(b2), col("u"), col("ts"))
    assert(d3.count() == d2.count())
  }
}
