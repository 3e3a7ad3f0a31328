package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming slice: incremental hourly buckets equal the batch
  * twin; sessionization closes sessions past the event-time gap; the
  * foreachBatch upsert sink converges to merge semantics.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnelStream: keyed-state cascade equals the batch funnel across trigger boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val stepTypes = Seq("view", "click", "purchase")
    val reach = EventStream.funnelStream(input.toDS(), stepTypes)
    val q = reach.writeStream.format("memory").queryName("funnel_reach")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: u1 completes view+click; u2 views; u3 clicks only (never
    // enters the cascade); u4 view+click at the SAME ts (strict > rejects)
    val b1 = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 0),
      Event(3, ts("2024-01-01 10:01:00"), 2, "view", 0),
      Event(4, ts("2024-01-01 10:02:00"), 3, "click", 0),
      Event(5, ts("2024-01-01 10:03:00"), 4, "view", 0),
      Event(6, ts("2024-01-01 10:03:00"), 4, "click", 0))
    input.addData(b1: _*)
    q.processAllAvailable()
    // batch 2 (watermark loads: strictly later): u1 purchases (completes);
    // u2 clicks then purchases within the trigger; u4 clicks properly now
    val b2 = Seq(
      Event(7, ts("2024-01-01 11:00:00"), 1, "purchase", 0),
      Event(8, ts("2024-01-01 11:01:00"), 2, "click", 0),
      Event(9, ts("2024-01-01 11:02:00"), 2, "purchase", 0),
      Event(10, ts("2024-01-01 11:03:00"), 4, "click", 0))
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // latest reach row per user
    val rows = spark.table("funnel_reach")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val latest = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
    def counts(i: Int): Long = latest.values.count(_(i) >= 0L)
    val batchCounts = graft.operators.Aggregates.funnel(
      (b1 ++ b2).toDF().select(col("user_id"), col("ts"), col("event_type")),
      col("user_id"), col("ts"),
      stepTypes.zipWithIndex.map { case (t, i) =>
        s"s$i" -> (col("event_type") === t)
      })
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert((0 until 3).forall(i => counts(i) == batchCounts(i)),
      s"stream state ${latest} vs batch $batchCounts")
    // the cross-boundary completion really happened through state
    assert(latest(1L).forall(_ >= 0L), s"u1 must complete all steps: ${latest(1L)}")
    assert(latest(4L)(1) == ts("2024-01-01 11:03:00").getTime,
      "u4's same-ts click must be rejected in b1 and accepted in b2")
  }

  test("retentionBatch sink: replayed micro-batch never double-counts; matrix equals batch recompute") {
    val dir = Files.createTempDirectory("graft_retention_sink").toString
    def df(rows: Seq[(Long, Timestamp)]) = rows.toDF("u", "ts")
    val b1 = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")),
      (2L, ts("2024-01-02 09:00:00")))
    val b2 = Seq((1L, ts("2024-01-03 10:00:00")), (2L, ts("2024-01-02 23:00:00")),
      (3L, ts("2024-01-04 08:00:00")))
    val sink = graft.operators.Aggregates.retentionBatch(dir, col("u"), col("ts")) _
    val r1 = sink(df(b1), 0L).head().getLong(1)
    val r2 = sink(df(b2), 1L).head().getLong(1)
    assert(r1 == 2L, s"b1 lands 2 distinct entity-days, got $r1") // u1 twice same day
    assert(r2 == 2L, s"b2 adds u1-day3 and u3-day4; u2-day2 already seen: $r2")
    // replay batch 1: identical content, nothing doubles
    val r1b = sink(df(b1), 0L).head().getLong(1)
    assert(r1b == 2L)
    val inc = graft.operators.Aggregates.retentionMatrixFrom(spark, dir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.operators.Aggregates.retentionCohorts(
        df(b1 ++ b2), col("u"), col("ts"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full, s"$inc vs $full")
  }

  test("triangleBatch and retentionBatch: an empty first micro-batch, then a non-empty one, equals the non-empty one alone") {
    import graft.operators.{Aggregates, Rank}
    // an empty batch lands no partition, only _SUCCESS: the next batch's
    // state read must see "no state", not fail schema inference
    def fresh(tag: String) = Files.createTempDirectory(tag).toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
    def tri(dir: String, rows: Seq[(Long, Long)], id: Long) =
      Rank.triangleBatch(dir)(rows.toDF("src", "dst"), id).collect().map(_.toSeq).toSeq
    def triState(dir: String) = (
      spark.read.parquet(s"$dir/edges").select("u", "v").as[(Long, Long)]
        .collect().toSet,
      Rank.triangleStateTotals(spark, dir).head().toSeq)
    val (triAfterEmpty, triAlone) = (fresh("graft_tri_empty"), fresh("graft_tri_alone"))
    tri(triAfterEmpty, Nil, 0L)
    assert(tri(triAfterEmpty, edges, 1L) === tri(triAlone, edges, 1L))
    assert(triState(triAfterEmpty) === triState(triAlone))
    assert(triState(triAlone)._2 === Seq(5L, 2L))

    val days = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-03 10:00:00")),
      (2L, ts("2024-01-02 09:00:00")))
    def ret(dir: String, rows: Seq[(Long, Timestamp)], id: Long) =
      Aggregates.retentionBatch(dir, col("u"), col("ts"))(rows.toDF("u", "ts"), id)
        .collect().map(_.toSeq).toSeq
    def retState(dir: String) =
      Aggregates.retentionMatrixFrom(spark, dir).collect().map(_.toSeq).toSet
    val (retAfterEmpty, retAlone) = (fresh("graft_ret_empty"), fresh("graft_ret_alone"))
    ret(retAfterEmpty, Nil, 0L)
    assert(ret(retAfterEmpty, days, 1L) === ret(retAlone, days, 1L))
    assert(retState(retAfterEmpty) === retState(retAlone))
    assert(ret(retAlone, days, 1L) === Seq(Seq(1L, 3L)))
  }

  test("retentionMatrixFrom after only an empty retentionBatch is an empty matrix") {
    val dir = Files.createTempDirectory("graft_ret_only_empty").toString
    graft.operators.Aggregates.retentionBatch(dir, col("u"), col("ts"))(
      Seq.empty[(Long, Timestamp)].toDF("u", "ts"), 0L).collect()
    val m = graft.operators.Aggregates.retentionMatrixFrom(spark, dir)
    assert(m.columns.toSeq === Seq("cohort_day", "day_offset", "active_users"))
    assert(m.collect().isEmpty)
  }

  test("rfmBatch sink: snapshot-per-batch monoid state; replay rewrites identically") {
    val dir = Files.createTempDirectory("graft_rfm_sink").toString
    def df(rows: Seq[(Long, String, Long)]) = rows.toDF("cust", "d", "cents")
      .select(col("cust"), col("d").cast("date").as("d"), col("cents"))
    val b1 = Seq((1L, "1998-06-10", 1000L), (2L, "1998-06-05", 2500L))
    val b2 = Seq((1L, "1998-06-20", 500L), (3L, "1998-06-15", 100L))
    val sink = graft.operators.Aggregates.rfmBatch(
      dir, col("cust"), col("d"), col("cents")) _
    sink(df(b1), 0L)
    sink(df(b2), 1L)
    def snap = graft.operators.Aggregates.rfmStateFrom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3))).toSet
    val after = snap
    assert(after == Set((1L, "1998-06-20", 2L, 1500L),
      (2L, "1998-06-05", 1L, 2500L), (3L, "1998-06-15", 1L, 100L)), s"$after")
    // replay of batch 1 re-derives from snapshot 0 — same content
    sink(df(b2), 1L)
    assert(snap == after, "replay must rewrite the same snapshot")
  }

  test("kmeansBatch sink: snapshot-per-batch monoid state; centroids from state ≡ one-pass; replay identical") {
    import graft.operators.Features
    val dir = Files.createTempDirectory("graft_km_sink").toString
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Seq((if (i % 2 == 0) -1.0f else 1.0f) + i * 0.001f, 0.5f))
    }.toDF("vec_id", "embedding")
    val all = vecs(0L until 24L)
    val frozen = Features.kmeansCentroids(all, "vec_id", "embedding", 2, 2)
    val sink = Features.kmeansBatch(dir, "vec_id", "embedding", frozen) _
    sink(vecs(0L until 12L), 0L)
    sink(vecs(12L until 24L), 1L)
    def state = Features.kmeansStateFrom(spark, dir)
    def sset(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val want = sset(Features.kmeansCellStats(all, "vec_id", "embedding", frozen))
    assert(sset(state) == want, "streamed state must equal the one-pass stats")
    assert(Features.kmeansCentroidsFrom(state, frozen) ==
      Features.kmeansCentroidsFrom(
        Features.kmeansCellStats(all, "vec_id", "embedding", frozen), frozen))
    // replay of batch 1: re-derives from snapshot 0, rewrites identically
    sink(vecs(12L until 24L), 1L)
    assert(sset(state) == want, "replay must rewrite the same snapshot")
  }

  test("Dsir.histBatch sink: snapshot-per-batch histogram state; scores from state ≡ one-shot; replay identical") {
    import graft.operators.Dsir
    val dir = Files.createTempDirectory("graft_dsir_sink").toString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "gamma delta alpha"), (4L, "delta alpha beta"))
      .toDF("doc_id", "text")
    val tgt = org.apache.spark.sql.functions.col("doc_id") % 2 === 0
    val sink = Dsir.histBatch(dir, "text", tgt) _
    sink(docs.filter(org.apache.spark.sql.functions.col("doc_id") <= 2), 0L)
    sink(docs.filter(org.apache.spark.sql.functions.col("doc_id") > 2), 1L)
    def hset(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = hset(Dsir.histOf(docs, "text", tgt))
    assert(hset(Dsir.histStateFrom(spark, dir)) == want)
    val fromState = Dsir.scoreWith(docs, "doc_id", "text",
        Dsir.histStateFrom(spark, dir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val oneShot = Dsir.importanceWeights(docs, "doc_id", "text", tgt)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(fromState == oneShot)
    sink(docs.filter(org.apache.spark.sql.functions.col("doc_id") > 2), 1L)
    assert(hset(Dsir.histStateFrom(spark, dir)) == want,
      "replay must rewrite the same snapshot")
  }

  test("rfmStateFrom/frontFrom: a state dir with NO snapshots reads as the empty state, not an NPE") {
    // simulates a read before the first batch commits / after compaction
    // emptied the dir: schema present, zero rows → max(bid) is NULL
    val rdir = Files.createTempDirectory("graft_rfm_empty").toString
    graft.operators.Aggregates.rfmEmptyState(spark)
      .withColumn("bid", org.apache.spark.sql.functions.lit(0L))
      .filter(org.apache.spark.sql.functions.lit(false))
      .write.parquet(s"$rdir/state")
    assert(graft.operators.Aggregates.rfmStateFrom(spark, rdir).count() == 0L)
    val sdir = Files.createTempDirectory("graft_sky_empty").toString
    graft.operators.Skyline.pareto2dEmptyState(spark)
      .withColumn("bid", org.apache.spark.sql.functions.lit(0L))
      .filter(org.apache.spark.sql.functions.lit(false))
      .write.parquet(s"$sdir/front")
    assert(graft.operators.Skyline.frontFrom(spark, sdir).count() == 0L)
  }

  test("paretoBatch sink: carried front persists per batch; late dominator evicts") {
    val dir = Files.createTempDirectory("graft_sky_sink").toString
    def df(rows: Seq[(Long, Long)]) = rows.toDF("x", "y")
    val sink = graft.operators.Skyline.paretoBatch(dir, col("x"), col("y")) _
    sink(df(Seq((1L, 9L), (5L, 5L), (9L, 1L), (3L, 3L))), 0L)
    val f0 = graft.operators.Skyline.frontFrom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f0 == Set((1L, 9L), (5L, 5L), (9L, 1L)), s"$f0")
    sink(df(Seq((10L, 10L))), 1L) // dominates everything
    val f1 = graft.operators.Skyline.frontFrom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f1 == Set((10L, 10L)), s"$f1")
    // replay: same predecessor, same result
    sink(df(Seq((10L, 10L))), 1L)
    assert(graft.operators.Skyline.frontFrom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 10L)))
  }

  test("triangleBatch as a foreachBatch sink: edge stream maintains exact triangle totals") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_tri_sink").toString
    val input = MemoryStream[(Long, Long)]
    val q = input.toDS().toDF("src", "dst").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.Rank.triangleBatch(dir)(batch, id); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    val wave1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)) // 4-cycle: 0 triangles
    val wave2 = Seq((1L, 3L), (2L, 4L)) // both chords: closes 4 triangles
    input.addData(wave1: _*)
    q.processAllAvailable()
    input.addData(wave2: _*)
    q.processAllAvailable()
    q.stop()
    val tot = graft.operators.Rank.triangleStateTotals(spark, dir).head()
    assert(tot.getLong(0) == 6L && tot.getLong(1) == 4L,
      s"expected 6 edges / 4 triangles, got $tot")
    val recount = graft.operators.Rank.triangleCount(
      (wave1 ++ wave2).toDF("src", "dst"))
    assert(tot.getLong(1) == recount)
  }

  test("pageRankBatch sink: residual state per edge micro-batch; drained state equals bootstrap+push-advance; replay idempotent") {
    import graft.operators.Rank
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_pr_sink").toString
    val n = 40L
    val nodes = spark.range(n).toDF("node")
    val all = (0L until n).flatMap(i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * 13 + 5) % n)))
      .filter { case (s, d) => s != d }.distinct
    val (w1, w2) = all.partition { case (s, d) => (s + d) % 5 != 0 }
    assert(w2.nonEmpty && w1.size > w2.size, "delta wave must be the small one")
    val eps = math.max(1L, 1000000000000L / (n * 8L))
    val sink = Rank.pageRankBatch(dir, nodes, eps, 6, 12) _
    val input = MemoryStream[(Long, Long)]
    val q = input.toDS().toDF("src", "dst").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(b, id); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(w1: _*)
    q.processAllAvailable()
    input.addData(w2: _*)
    q.processAllAvailable()
    q.stop()
    def sset(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = sset(Rank.pageRankStateFrom(spark, dir))
    // the batch pipeline the drained state must equal: bootstrap on wave 1,
    // delta-scoped push advance for wave 2 — exact integer arithmetic, so
    // equality is set equality on (node, x, s, deg), not approximate
    val b1 = w1.toDF("src", "dst")
    val st1 = Rank.pageRankResidualState(nodes, b1, Rank.pageRank(nodes, b1, 12))
    val want = sset(Rank.pageRankPushAdvance(st1, b1, w2.toDF("src", "dst"), eps, 6))
    assert(got == want, "drained sink state must equal the batch pipeline")
    // at-least-once replay of the last batch: re-derives from snapshot 0
    // and the strictly-earlier edge partitions — rewrites identically
    sink(w2.toDF("src", "dst"), 1L)
    assert(sset(Rank.pageRankStateFrom(spark, dir)) == got,
      "replay must rewrite the same snapshot")
  }

  test("Trigger.AvailableNow drains a file backlog across micro-batches then stops (T1 catch-up)") {
    // the reference's scheduled 30-min DAG loop is "process whatever landed,
    // then exit" — AvailableNow is that contract on a streaming source
    val srcDir = Files.createTempDirectory("graft-backfill-src").toString
    val events = Tables.events(spark, sf).select("event_id", "event_type", "value")
    events.repartition(4).write.mode("overwrite").parquet(srcDir)
    val nFiles = new java.io.File(srcDir).list().count(_.endsWith(".parquet"))
    assert(nFiles > 1, "fixture must span several files to prove multi-batch drain")

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1) // force one micro-batch per file
      .parquet(srcDir)
      .groupBy("event_type").agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("backfill")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-backfill-ck").toString)
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate by itself")

    // epsilon compare, not 2dp rounding: the incremental and batch plans
    // accumulate doubles in different orders, and a sum near an x.xx5
    // boundary would round the two a cent apart — a cliff, not a tolerance
    val got = spark.table("backfill").as[(String, Double, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val want = events.groupBy("event_type")
      .agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, (s, n)) =>
      assert(n === want(k)._2, s"count drift for $k")
      assert(math.abs(s - want(k)._1) < 1e-6, s"sum drift for $k: $s vs ${want(k)._1}")
    }
  }

  test("streaming hourly buckets equal the batch aggregation (incremental over memory stream)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.5),
      Event(2, ts("2024-01-01 00:40:00"), 2, "click", 2.5),
      Event(3, ts("2024-01-01 01:10:00"), 1, "view", 3.0),
      Event(4, ts("2024-01-01 02:05:00"), 3, "click", 4.0))

    val q = EventStream.hourlyBuckets(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    // two micro-batches: the aggregate must update incrementally
    input.addData(events.take(2): _*)
    q.processAllAvailable()
    input.addData(events.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly")
      .orderBy("bucket_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = EventStream.hourlyBuckets(events.toDF())
      .orderBy("bucket_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch && batch.length === 3)
  }

  test("sessionize: an out-of-order event past the gap BEFORE a session splits backward too") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // open a session at 12:00, then deliver an event from 11:52 — above the
    // watermark (11:50, 10-min delay) so Spark does not drop it, but more
    // than the 5-min gap BEFORE the session start. Merging it would
    // manufacture a session holding an 8-min internal gap; it must close as
    // its own session instead (batch semantics).
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 7, "click", 1.0))
    val sessions = EventStream.sessionize(input.toDS(), gapMs = 5 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions_backsplit")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    input.addData(Event(2, ts("2024-01-01 11:52:00"), 7, "late", 5.0))
    q.processAllAvailable()
    // push the watermark far forward so the 12:00 session times out too
    input.addData(Event(3, ts("2024-01-02 00:00:00"), 8, "tick", 0.0))
    q.processAllAvailable()
    input.addData(Event(4, ts("2024-01-02 01:00:00"), 8, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val u7 = spark.table("sessions_backsplit").as[EventStream.Session]
      .collect().filter(_.user_id == 7).sortBy(_.session_start.getTime)
    assert(u7.length === 2, s"expected backward split, got ${u7.toSeq}")
    assert(u7(0).session_start === ts("2024-01-01 11:52:00") && u7(0).n_events === 1)
    assert(u7(1).session_start === ts("2024-01-01 12:00:00") && u7(1).n_events === 1)
  }

  test("sessionize: a backward bridge event chain-merges still-earlier events (batch semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // open a session at 12:00; then ONE batch carries 11:56 (a 'bridge',
    // within the 5-min gap of the session start) and 11:52 (past the gap
    // from 12:00 but within it of the bridge). Batch sessionization chains
    // 11:52—11:56—12:00 into ONE session; the old original-start split
    // emitted 11:52 as its own closed session.
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 7, "click", 1.0))
    val sessions = EventStream.sessionize(input.toDS(), gapMs = 5 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions_bridge")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    input.addData(
      Event(2, ts("2024-01-01 11:56:00"), 7, "bridge", 2.0),
      Event(3, ts("2024-01-01 11:52:00"), 7, "early", 4.0))
    q.processAllAvailable()
    input.addData(Event(4, ts("2024-01-02 00:00:00"), 8, "tick", 0.0))
    q.processAllAvailable()
    input.addData(Event(5, ts("2024-01-02 01:00:00"), 8, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val u7 = spark.table("sessions_bridge").as[EventStream.Session]
      .collect().filter(_.user_id == 7)
    assert(u7.length === 1, s"bridge chain must merge into one session, got ${u7.toSeq}")
    assert(u7.head.session_start === ts("2024-01-01 11:52:00")
      && u7.head.session_end === ts("2024-01-01 12:00:00")
      && u7.head.n_events === 3
      && math.abs(u7.head.total_value - 7.0) < 1e-9)
  }

  test("sessionize closes sessions after the event-time gap and aggregates per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:05:00"), 1, "view", 2.0),
      Event(3, ts("2024-01-01 00:02:00"), 2, "click", 5.0))

    val sessions = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()

    // push watermark far past the gap to time the sessions out; one more
    // empty-progress batch lets the timeout fire
    input.addData(Event(9, ts("2024-01-01 12:00:00"), 9, "late", 0.0))
    q.processAllAvailable()
    input.addData(Event(10, ts("2024-01-01 13:00:00"), 9, "late", 0.0))
    q.processAllAvailable()
    q.stop()

    val all = spark.table("sessions").as[EventStream.Session].collect()
    // user 9's 13:00 event arrived before the 12:00 session's timeout fired
    // but past the gap — it must SPLIT, closing the 12:00 session
    val u9 = all.filter(_.user_id == 9)
    assert(u9.length === 1 && u9.head.session_start === ts("2024-01-01 12:00:00")
      && u9.head.n_events === 1)

    val out = all.filter(_.user_id < 9).sortBy(_.user_id)
    assert(out.length === 2)
    assert(out(0).user_id === 1 && out(0).n_events === 2
      && out(0).session_start === ts("2024-01-01 00:00:00")
      && out(0).session_end === ts("2024-01-01 00:05:00")
      && math.abs(out(0).total_value - 3.0) < 1e-9)
    assert(out(1).user_id === 2 && out(1).n_events === 1)
  }

  test("session_window streaming sessionize equals its batch run and closes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0),  // same session (10 min gap)
      Event(3, ts("2024-01-01 01:00:00"), 1, "click", 4.0), // 50 min > gap → new session
      Event(4, ts("2024-01-01 00:05:00"), 2, "click", 8.0))
    // watermark-advancing flush event, far past every session close
    val flush = Event(99, ts("2024-01-01 12:00:00"), 9, "click", 0.0)

    val q = EventStream.sessionizeNative(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(events: _*)
    q.processAllAvailable()
    input.addData(flush)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("native_sessions")
      .filter(col("user_id") =!= 9)
      .select("user_id", "session_start", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(streamed === Set(
      Seq(1L, ts("2024-01-01 00:00:00"), 2L, 3.0),
      Seq(1L, ts("2024-01-01 01:00:00"), 1L, 4.0),
      Seq(2L, ts("2024-01-01 00:05:00"), 1L, 8.0)))

    // identical rows from the batch run of the same plan builder
    val batch = EventStream.sessionizeNative(events.toDF())
      .select("user_id", "session_start", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(batch === streamed)
  }

  test("composed pipeline: dedup -> stream-static enrich -> hourly agg in one query, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue")).toDF("event_type", "category")
    val events = Seq(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.5),
      Event(2, ts("2024-01-01 00:20:00"), 2, "purchase", 10.0),
      Event(3, ts("2024-01-01 01:10:00"), 1, "view", 3.0),
      Event(4, ts("2024-01-01 01:30:00"), 3, "click", 2.0))

    val q = EventStream.dedupEnrichHourly(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1 carries a duplicate of event 1; batch 2 redelivers events 1
    // and 2 again within the horizon — all must count exactly once
    input.addData(events(0), events(0), events(1))
    q.processAllAvailable()
    input.addData(events(0), events(1), events(2), events(3))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("enriched")
      .orderBy("bucket_start", "category").collect().map(_.toSeq).toSeq
    val batch = events.toDF().dropDuplicates("event_id")
      .join(broadcast(dim), Seq("event_type"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("category"),
        col("n_events"), col("sum_value"))
      .orderBy("bucket_start", "category").collect().map(_.toSeq).toSeq
    assert(streamed === batch && batch.length === 3)
  }

  test("stream-stream interval join attributes purchases to in-window clicks, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 00:50:00"), 1, "purchase", 10.0), // joins click 1 (40 min before)
      Event(3, ts("2024-01-01 02:30:00"), 1, "purchase", 20.0), // click 1 outside 1h lookback
      Event(4, ts("2024-01-01 02:00:00"), 2, "click", 2.0),
      Event(5, ts("2024-01-01 02:20:00"), 2, "click", 3.0),
      Event(6, ts("2024-01-01 02:40:00"), 2, "purchase", 30.0)) // joins clicks 4 AND 5

    val q = EventStream.attributeToClicks(input.toDF(), lookback = "1 hour")
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(events.take(3): _*)
    q.processAllAvailable()
    input.addData(events.drop(3): _*) // clicks arriving in a later batch still join
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("attributed")
      .select("purchase_id", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(streamed === Set(
      (2L, ts("2024-01-01 00:10:00")),
      (6L, ts("2024-01-01 02:00:00")),
      (6L, ts("2024-01-01 02:20:00"))))

    // batch twin over the same plan builder: identical rows
    val batch = EventStream.attributeToClicks(events.toDF(), lookback = "1 hour")
      .select("purchase_id", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(batch === streamed)
  }

  test("foreachBatch media-dedup sink: parquet index advances per micro-batch, equals the sequential chain") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_media").toString
    val (idxDir, repDir) = (s"$base/index", s"$base/report")
    // wave 1: items 1-4; 3 and 4 are a FRESH pair (same signature, nothing
    // seen yet -> both survive and advance the index)
    val w1 = Seq((1L, 5L, 9L), (2L, 5L, 9L), (3L, 77L, 88L), (4L, 77L, 88L))
    // wave 2: 10 duplicates wave-1's fresh pair (catchable ONLY via the
    // advanced index), 11 is new, 12 near-dups 11's twin at hamming 1
    val w2 = Seq((10L, 77L, 88L), (11L, 200L, 300L), (12L, 201L, 300L))
    val input = MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("id", "hi", "lo")
      .writeStream
      .foreachBatch(Multimodal.mediaDedupBatch(idxDir, repDir,
        "id", "hi", "lo", 32, 32, "img", maxHamming = 1) _)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(w2: _*); q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(repDir)
      .select("batch_id", "id", "is_dup", "n_matches", "min_seen_id")
      .as[(Long, Long, Boolean, Long, Option[Long])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // wave 1 against the EMPTY index: everything fresh
    assert(rep.filter(_._1 == 0L).forall(!_._3), s"wave 1 must all survive: $rep")
    // wave 2: 10 matches BOTH advanced entries (3 and 4); 11 fresh;
    // 12 matches 11? no — 11 is in the SAME batch, the index advances
    // BETWEEN batches, so 12 is fresh too (batch-vs-index semantics)
    val b1 = rep.filter(_._1 == 1L)
    assert(b1 === Seq(
      (1L, 10L, true, 2L, Some(3L)),
      (1L, 11L, false, 0L, None),
      (1L, 12L, false, 0L, None)), s"wave 2 report: $b1")
    // the stored index now holds wave-1 survivors (1,2,3,4) + wave-2
    // survivors (11,12): 6 items x 4 chunk rows
    assert(spark.read.parquet(idxDir).count() === 24L)
    // and a THIRD wave twin of 12 would now match: sequential-chain parity
    val idx = spark.read.parquet(idxDir).drop("batch_id")
    val got = Multimodal.mediaIncrementalPairs(
        Seq((20L, 201L, 300L)).toDF("id", "hi", "lo"), idx,
        "id", "hi", "lo", 32, 32, "img", maxHamming = 1)
      .as[(Long, Long, Int)].collect().sortBy(_._2).toSeq
    assert(got === Seq((20L, 11L, 1), (20L, 12L, 0)))

    // RETRY idempotence: Structured Streaming replays a failed batch with
    // the SAME batchId and contents — the dynamic partition overwrite must
    // REPLACE that batch's report/index partitions, never re-append
    Multimodal.mediaDedupBatch(idxDir, repDir, "id", "hi", "lo", 32, 32,
      "img", maxHamming = 1)(w2.toDF("id", "hi", "lo"), 1L)
    assert(spark.read.parquet(repDir).count() === 7L,
      "replaying batch 1 must not duplicate report rows")
    assert(spark.read.parquet(idxDir).count() === 24L,
      "replaying batch 1 must not duplicate index rows")
  }

  test("foreachBatch sample-dedup sink: joint text/img/aud verdict per micro-batch, all three states advance atomically on survivors, replay idempotent") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_sample_dedup").toString
    val (fpDir, imgDir, audDir, repDir) =
      (s"$base/textfp", s"$base/img", s"$base/aud", s"$base/report")
    // sample = (id, textFp, imgHi, imgLo, audHi, audLo)
    val w1: Seq[(Long, String, Long, Long, Long, Long)] = Seq(
      (1L, "fpA", 1000L, 2000L, 7L, 8L),
      (2L, "fpB", 3000L, 4000L, 9L, 10L),
      (3L, "fpC", 5000L, 6000L, 11L, 12L),
      (4L, "fpD", 7000L, 8000L, 13L, 14L))
    // wave 2: twins of wave-1 SURVIVORS, one per modality — catchable only
    // via the advanced state
    val w2: Seq[(Long, String, Long, Long, Long, Long)] = Seq(
      (10L, "fpA", 9100L, 9200L, 70L, 80L), // text twin of 1 only
      (11L, "fpX", 3001L, 4000L, 71L, 81L), // img hamming-1 twin of 2 only
      (12L, "fpY", 9300L, 9400L, 11L, 12L), // aud exact twin of 3 only
      (13L, "fpZ", 9500L, 9600L, 72L, 82L), // fresh: survives
      (14L, "fpD", 7001L, 8000L, 13L, 14L)) // all three twins of 4
    val sink = Multimodal.sampleDedupBatch(fpDir, imgDir, audDir, repDir,
      "id", "fp", "ihi", "ilo", "ahi", "alo") _
    def df(rows: Seq[(Long, String, Long, Long, Long, Long)]) =
      rows.toDF("id", "fp", "ihi", "ilo", "ahi", "alo")
    val input = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val q = input.toDF().toDF("id", "fp", "ihi", "ilo", "ahi", "alo")
      .writeStream.foreachBatch(sink)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(w2: _*); q.processAllAvailable()
    q.stop()
    def report(): Seq[(Long, Long, Boolean, Boolean, Boolean, Boolean, Long)] =
      spark.read.parquet(repDir)
        .select("batch_id", "id", "text_dup", "img_dup", "aud_dup", "is_dup", "n_mod")
        .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = Seq(
      (0L, 1L, false, false, false, false, 0L),
      (0L, 2L, false, false, false, false, 0L),
      (0L, 3L, false, false, false, false, 0L),
      (0L, 4L, false, false, false, false, 0L),
      (1L, 10L, true, false, false, true, 1L),
      (1L, 11L, false, true, false, true, 1L),
      (1L, 12L, false, false, true, true, 1L),
      (1L, 13L, false, false, false, false, 0L),
      (1L, 14L, true, true, true, true, 3L))
    assert(report() === expected)
    // ATOMIC advance: each state dir holds exactly the survivor ids —
    // wave-1's four plus wave-2's 13 — in lockstep across all three
    val surv = Set(1L, 2L, 3L, 4L, 13L)
    assert(spark.read.parquet(fpDir).select("id").as[Long]
      .collect().toSet === surv)
    assert(spark.read.parquet(imgDir).select("id").distinct().as[Long]
      .collect().toSet === surv)
    assert(spark.read.parquet(audDir).select("id").distinct().as[Long]
      .collect().toSet === surv)
    // RETRY idempotence: replaying batch 1 replaces its partitions in all
    // four dirs — report and state byte-for-byte stable
    val idxRowsBefore = spark.read.parquet(imgDir).count()
    sink(df(w2), 1L)
    assert(report() === expected)
    assert(spark.read.parquet(fpDir).select("id").as[Long].collect().toSet === surv)
    assert(spark.read.parquet(imgDir).count() === idxRowsBefore)
    // a third batch twinning batch-2 survivor 13 across any modality hits:
    // proves 13 entered ALL indexes (one probe per modality)
    sink(df(Seq((20L, "fpZ", 9700L, 9800L, 90L, 91L),
      (21L, "fpQ", 9501L, 9600L, 92L, 93L),
      (22L, "fpR", 9900L, 9950L, 72L, 82L))), 2L)
    val b2 = report().filter(_._1 == 2L)
    assert(b2 === Seq(
      (2L, 20L, true, false, false, true, 1L),
      (2L, 21L, false, true, false, true, 1L),
      (2L, 22L, false, false, true, true, 1L)), s"batch 2: $b2")
    // flat (non-partitioned) text-fp state refuses loudly
    val flat = Files.createTempDirectory("stream_sample_flat").toString
    df(w1).select(col("id"), col("fp")).write.parquet(s"$flat/textfp")
    val e = intercept[IllegalArgumentException] {
      Multimodal.sampleDedupBatch(s"$flat/textfp", s"$flat/img", s"$flat/aud",
        s"$flat/report", "id", "fp", "ihi", "ilo", "ahi", "alo")(df(w1), 0L)
    }
    assert(e.getMessage.contains("seedTextFpIndex"))
    // seeded pre-history: all three modalities probe the batch_id=-1 seed
    val seeded = Files.createTempDirectory("stream_sample_seed").toString
    Multimodal.seedTextFpIndex(df(w1).select(col("id"), col("fp")),
      s"$seeded/textfp", "id", "fp")
    Multimodal.seedMediaIndex(Multimodal.buildMediaIndex(
      df(w1), "id", "ihi", "ilo", 32, 32, "img"), s"$seeded/img")
    Multimodal.seedMediaIndex(Multimodal.buildMediaIndex(
      df(w1), "id", "ahi", "alo", 8, 8, "wav"), s"$seeded/aud")
    Multimodal.sampleDedupBatch(s"$seeded/textfp", s"$seeded/img",
      s"$seeded/aud", s"$seeded/report",
      "id", "fp", "ihi", "ilo", "ahi", "alo")(df(w2), 0L)
    val seededRep = spark.read.parquet(s"$seeded/report")
      .select("id", "is_dup", "n_mod").as[(Long, Boolean, Long)]
      .collect().sortBy(_._1).toSeq
    assert(seededRep === Seq((10L, true, 1L), (11L, true, 1L),
      (12L, true, 1L), (13L, false, 0L), (14L, true, 3L)))
  }

  test("media index lifecycle: seeded pre-history probes, flat seeds refuse, compaction folds below the replay barrier") {
    import graft.operators.Multimodal
    val base = Files.createTempDirectory("stream_media_life").toString
    val (idxDir, repDir) = (s"$base/index", s"$base/report")
    // external backfill enters via seedMediaIndex (batch_id=-1 partition)
    val seedIdx = Multimodal.buildMediaIndex(
      Seq((100L, 5L, 9L), (101L, 300L, 400L)).toDF("id", "hi", "lo"),
      "id", "hi", "lo", 32, 32, "img")
    Multimodal.seedMediaIndex(seedIdx, idxDir)
    def run(batch: Seq[(Long, Long, Long)], id: Long): Unit =
      Multimodal.mediaDedupBatch(idxDir, repDir, "id", "hi", "lo", 32, 32,
        "img", maxHamming = 1)(batch.toDF("id", "hi", "lo"), id)
    // batch 0: 1 duplicates the SEED, 2 fresh; batch 1's read-after-append
    // is exactly where a flat seed used to break partition discovery
    run(Seq((1L, 5L, 9L), (2L, 50L, 60L)), 0L)
    run(Seq((3L, 50L, 60L), (4L, 70L, 80L)), 1L)
    run(Seq((5L, 70L, 80L), (6L, 90L, 95L)), 2L)
    def report(): Seq[(Long, Long, Boolean, Option[Long])] =
      spark.read.parquet(repDir).select("batch_id", "id", "is_dup", "min_seen_id")
        .as[(Long, Long, Boolean, Option[Long])].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = Seq(
      (0L, 1L, true, Some(100L)), (0L, 2L, false, None),
      (1L, 3L, true, Some(2L)), (1L, 4L, false, None),
      (2L, 5L, true, Some(4L)), (2L, 6L, false, None))
    assert(report() === expected)
    // a FLAT (non-partitioned) external seed refuses loudly up front
    val flat = Files.createTempDirectory("stream_media_flat").toString
    seedIdx.write.parquet(s"$flat/index")
    val e = intercept[IllegalArgumentException] {
      Multimodal.mediaDedupBatch(s"$flat/index", s"$flat/report",
        "id", "hi", "lo", 32, 32, "img")(Seq((1L, 5L, 9L)).toDF("id", "hi", "lo"), 0L)
    }
    assert(e.getMessage.contains("seedMediaIndex"))
    // compaction below the replay barrier: seed + batches 0,1 fold into
    // batch_id=-1; batch 2 (still replayable) keeps its own partition;
    // the row multiset is untouched
    def idxRows(): Seq[String] = spark.read.parquet(idxDir).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    val beforeRows = idxRows()
    Multimodal.compactMediaIndex(spark, idxDir, upToBatchId = 2L)
    val parts = new java.io.File(idxDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts === Set("batch_id=-1", "batch_id=2"), s"got $parts")
    assert(idxRows() === beforeRows, "compaction must not change index rows")
    // SAFE replay: batch 2 re-runs after compaction of EARLIER batches —
    // its probe cut (batch_id < 2) now reads the folded pre-history and
    // the report/index land identically. (The UNSAFE case the strict <
    // barrier refuses by construction: compacting upTo=3 would fold batch
    // 2's OWN survivors into pre-history, and this very replay would then
    // read item 6 as a pre-batch dup of itself.)
    run(Seq((5L, 70L, 80L), (6L, 90L, 95L)), 2L)
    assert(report() === expected, "replay after safe compaction must be a no-op")
    assert(idxRows() === beforeRows)
    intercept[IllegalArgumentException](
      Multimodal.compactMediaIndex(spark, idxDir, upToBatchId = -1L))
  }

  test("foreachBatch fuzzy text-dedup sink: banded state advances per micro-batch; seed/replay/compact lifecycle") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_text_dedup").toString
    val (idxDir, seenDir, repDir) = (s"$base/index", s"$base/seen", s"$base/report")
    // 20-token docs: one appended token keeps word-3-shingle Jaccard ~0.95
    def doc(words: String*): String = words.mkString(" ")
    val hist = doc("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon")
    val freshA = doc("one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine", "ten", "eleven", "twelve", "thirteen", "fourteen",
      "fifteen", "sixteen", "seventeen", "eighteen", "nineteen", "twenty")
    val freshB = doc("red", "orange", "yellow", "green", "blue", "indigo",
      "violet", "umber", "ochre", "teal", "pink", "navy", "cyan", "magenta",
      "lime", "olive", "maroon", "coral", "amber", "jade")
    val freshC = doc("lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
      "adipiscing", "elit", "sed", "do", "eiusmod", "tempor", "incididunt",
      "ut", "labore", "et", "dolore", "magna", "aliqua", "enim")
    // external history enters via seedTextIndex (batch_id=-1 on BOTH dirs)
    Dedup.seedTextIndex(Seq((100L, hist)).toDF("id", "text"),
      idxDir, seenDir, "id", "text")
    // wave 1: 1 near-dups the SEED; 2+3 near-dup each other IN batch; 4 fresh
    val w1 = Seq((1L, hist + " zulu"), (2L, freshA), (3L, freshA + " extra"),
      (4L, freshB))
    // wave 2: 10 near-dups wave-1 SURVIVOR 2 — catchable only via the
    // advanced state; 11 fresh
    val w2 = Seq((10L, freshA + " more"), (11L, freshC))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "text").writeStream
      .foreachBatch(Dedup.fuzzyDedupBatch(idxDir, seenDir, repDir, "id", "text") _)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(w2: _*); q.processAllAvailable()
    q.stop()
    def report(): Seq[(Long, Long, Long, Boolean)] =
      spark.read.parquet(repDir).select("batch_id", "id", "dup_of", "kept")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = Seq(
      (0L, 1L, 100L, false), // seed wins over the batch doc
      (0L, 2L, 2L, true), (0L, 3L, 2L, false), // within-batch cluster, min kept
      (0L, 4L, 4L, true),
      (1L, 10L, 2L, false), // caught ONLY via the advanced banded state
      (1L, 11L, 11L, true))
    assert(report() === expected)
    // state dirs hold exactly the seed + survivors (8 band rows / 1 text row per doc)
    assert(spark.read.parquet(seenDir).count() === 4L) // 100, 2, 4, 11
    assert(spark.read.parquet(idxDir).count() === 32L)
    // RETRY idempotence: replaying batch 1 replaces its partitions
    Dedup.fuzzyDedupBatch(idxDir, seenDir, repDir, "id", "text")(
      w2.toDF("id", "text"), 1L)
    assert(report() === expected)
    assert(spark.read.parquet(seenDir).count() === 4L)
    // flat (non-partitioned) state refuses loudly
    val flat = Files.createTempDirectory("stream_text_flat").toString
    Seq((100L, hist)).toDF("id", "text").write.parquet(s"$flat/seen")
    Dedup.bandedSignatures(Seq((100L, hist)).toDF("id", "text"), "id", "text")
      .write.parquet(s"$flat/index")
    val e = intercept[IllegalArgumentException] {
      Dedup.fuzzyDedupBatch(s"$flat/index", s"$flat/seen", s"$flat/report",
        "id", "text")(w1.toDF("id", "text"), 0L)
    }
    assert(e.getMessage.contains("seedTextIndex"))
    // compaction below the replay barrier on BOTH dirs, then a SAFE replay
    // of the newest batch is a no-op
    Dedup.compactTextIndex(spark, idxDir, upToBatchId = 1L)
    Dedup.compactTextIndex(spark, seenDir, upToBatchId = 1L)
    val parts = new java.io.File(seenDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts === Set("batch_id=-1", "batch_id=1"), s"got $parts")
    Dedup.fuzzyDedupBatch(idxDir, seenDir, repDir, "id", "text")(
      w2.toDF("id", "text"), 1L)
    assert(report() === expected)
    assert(spark.read.parquet(seenDir).count() === 4L)
  }

  test("foreachBatch WebDataset export sink: batch-scoped shard namespaces, per-batch manifests, replay leaves no duplicate or orphan shard") {
    import graft.sources.WebDataset
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream_wds_export").toString + "/landing"
    def pay(id: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => ((id + i) % 251).toByte)
    val payUdf = udf((id: Long) => pay(id, 700))
    val w1 = (1L to 8L).toSeq
    val w2 = (20L to 24L).toSeq
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("id")
      .withColumn("img", payUdf(col("id")))
      .writeStream
      .foreachBatch(WebDataset.exportBatch(dir, col("id"),
        Seq("bin" -> col("img")), maxBytesPerShard = 4096L) _)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(w2: _*); q.processAllAvailable()
    q.stop()
    // every sample landed exactly once, in its batch's namespace
    val back = WebDataset.readBatches(spark, dir)
      .select("batch_id", "key", "content")
      .as[(Long, String, Array[Byte])].collect()
    assert(back.map(r => (r._1, r._2)).toSet ===
      (w1.map(id => (0L, id.toString)) ++ w2.map(id => (1L, id.toString))).toSet)
    back.foreach { case (_, k, c) =>
      assert(java.util.Arrays.equals(c, pay(k.toLong, 700)), s"payload $k corrupted")
    }
    // a manifest per batch, agreeing with what landed
    (0L to 1L).foreach { b =>
      val m = WebDataset.manifestStats(spark, s"$dir/batch_id=$b")
      val total = m.agg(sum("n_samples")).as[Long].collect().head
      assert(total === (if (b == 0L) w1.size else w2.size).toLong,
        s"batch $b manifest samples")
      assert(WebDataset.verifyManifest(spark, s"$dir/batch_id=$b").isEmpty)
    }
    // multiple shards per batch (the 4 KiB budget forces cuts)
    def shardFiles(b: Long): Map[String, String] =
      new java.io.File(s"$dir/batch_id=$b").listFiles()
        .filter(_.getName.endsWith(".tar"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> md.map("%02x".format(_)).mkString
        }.toMap
    val batch1Before = shardFiles(1L)
    assert(shardFiles(0L).size > 1)
    // REPLAY with an orphan planted (a dead attempt that landed a shard a
    // shorter re-export wouldn't): the namespace replacement must remove
    // it and land byte-identical shards — no duplicates, no orphans
    val orphan = java.nio.file.Paths.get(s"$dir/batch_id=1", "shard-99999.tar")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    WebDataset.exportBatch(dir, col("id"), Seq("bin" -> col("img")),
      maxBytesPerShard = 4096L)(
      w2.toDF("id").withColumn("img", payUdf(col("id"))), 1L)
    assert(!java.nio.file.Files.exists(orphan), "replay must sweep the orphan shard")
    assert(shardFiles(1L) === batch1Before,
      "replayed batch must land byte-identical shards")
    // and batch 0's namespace was never touched
    assert(WebDataset.readBatches(spark, dir).count() === (w1.size + w2.size).toLong)
  }

  test("container lifecycle composition: stream-landed batch namespaces compact to the direct-export layout") {
    import graft.sources.WebDataset
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream_wds_life").toString + "/landing"
    def pay(id: Long): Array[Byte] = Array.tabulate(600)(i => ((id * 7 + i) % 251).toByte)
    val payUdf = udf((id: Long) => pay(id))
    val w1 = (1L to 10L).toSeq
    val w2 = (30L to 39L).toSeq
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("id").withColumn("bin", payUdf(col("id")))
      .writeStream
      .foreachBatch(WebDataset.exportBatch(dir, col("id"),
        Seq("bin" -> col("bin")), maxBytesPerShard = 2048L) _)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(w2: _*); q.processAllAvailable()
    q.stop()
    // a day of micro-batches → fragmented namespaces; compact them
    val compacted = Files.createTempDirectory("stream_wds_cmp").toString
    WebDataset.compactShards(spark,
      Seq(s"$dir/batch_id=0", s"$dir/batch_id=1"), compacted,
      Seq("bin"), maxBytesPerShard = 16384L)
    // byte-identical to having exported the union directly
    val direct = Files.createTempDirectory("stream_wds_direct").toString
    WebDataset.writeShards((w1 ++ w2).toDF("id").withColumn("bin", payUdf(col("id"))),
      direct, col("id"), Seq("bin" -> col("bin")), maxBytesPerShard = 16384L)
    def digests(d: String): Map[String, String] =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".tar"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> md.map("%02x".format(_)).mkString
        }.toMap
    assert(digests(compacted) === digests(direct) && digests(compacted).nonEmpty)
    assert(WebDataset.verifyManifest(spark, compacted).isEmpty)
    // every sample present exactly once in the compacted layout
    val keys = WebDataset.read(spark, compacted)
      .select("key").as[String].collect().map(_.toLong).sorted.toSeq
    assert(keys === (w1 ++ w2).sorted)
  }

  test("foreachBatch upsert sink converges to merge semantics across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream_upsert").toString + "/target"
    val input = MemoryStream[(Int, String, Int)]
    val q = input.toDF().toDF("k", "name", "v")
      .writeStream
      .foreachBatch(EventStream.upsertBatch(dir, Seq("k")) _)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    input.addData((1, "a", 10), (2, "b", 20))
    q.processAllAvailable()
    input.addData((2, "b2", 21), (3, "c", 30))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(dir).as[(Int, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1, "a", 10), (2, "b2", 21), (3, "c", 30)))
  }

  test("foreachBatch SCD2 sink maintains a Type-2 dimension, equal to sequential merges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("stream_scd2").toString + "/dim"
    val b1 = Seq(
      (1, "alpha", ts("2024-01-01 10:00:00")),
      (1, "alpha2", ts("2024-01-01 11:00:00")), // same key twice: last wins
      (2, "beta", ts("2024-01-01 10:30:00")))
    val b2 = Seq(
      (1, "alpha3", ts("2024-01-02 09:00:00")), // changed -> new version
      (2, "beta", ts("2024-01-02 09:00:00")),   // unchanged -> no new version
      (3, "gamma", ts("2024-01-02 10:00:00")))  // new key

    val input = MemoryStream[(Int, String, Timestamp)]
    val q = input.toDF().toDF("k", "name", "ts")
      .writeStream
      .foreachBatch(EventStream.scd2Batch(dir, Seq("k"), Seq("name"), "ts") _)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val dim = spark.read.parquet(dir)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    // one current row per key; intervals chain at the batch watermark
    assert(dim.count(_._5) === 3)
    assert(dim === Seq(
      (1, "alpha2", ts("2024-01-01 11:00:00"), Some(ts("2024-01-02 10:00:00")), false),
      (1, "alpha3", ts("2024-01-02 10:00:00"), None, true),
      (2, "beta", ts("2024-01-01 11:00:00"), None, true),
      (3, "gamma", ts("2024-01-02 10:00:00"), None, true)))

    // streaming == the same batches applied sequentially through the sink fn
    val dir2 = Files.createTempDirectory("stream_scd2_twin").toString + "/dim"
    EventStream.scd2Batch(dir2, Seq("k"), Seq("name"), "ts")(
      b1.toDF("k", "name", "ts"), 0L)
    EventStream.scd2Batch(dir2, Seq("k"), Seq("name"), "ts")(
      b2.toDF("k", "name", "ts"), 1L)
    val twin = spark.read.parquet(dir2)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(twin === dim)
  }

  test("scd2Batch: null-event-time rows cannot stamp validity — dropped, never an NPE") {
    val dir = Files.createTempDirectory("stream_scd2_nullts").toString + "/dim"
    val sink = EventStream.scd2Batch(dir, Seq("k"), Seq("name"), "ts") _
    // an all-null-ts batch is a no-op (previously NPE'd in the clamp)
    sink(Seq((1, "a", Option.empty[Timestamp])).toDF("k", "name", "ts"), 0L)
    assert(!graft.etl.SnapshotIO.hasParquet(spark, dir))
    // a mixed batch applies only its timed rows
    sink(Seq((1, "a", Option(ts("2024-01-02 12:00:00"))),
      (2, "b", Option.empty[Timestamp])).toDF("k", "name", "ts"), 1L)
    val dim = spark.read.parquet(dir)
    assert(dim.select("k").as[Int].collect().toSeq === Seq(1))
  }

  test("scd2BatchEventGrain: two versions of one key in ONE batch become two chained rows") {
    val dir = Files.createTempDirectory("stream_scd2_event").toString + "/dim"
    val sink = EventStream.scd2BatchEventGrain(dir, Seq("k"), Seq("name"), "ts") _
    sink(Seq(
      (1, "a", ts("2024-01-01 10:00:00")),
      (1, "b", ts("2024-01-01 11:00:00")), // same key, same batch: a VERSION, not a collapse
      (2, "x", ts("2024-01-01 10:30:00"))).toDF("k", "name", "ts"), 0L)
    val dim = spark.read.parquet(dir)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(dim === Seq(
      (1, "a", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 11:00:00")), false),
      (1, "b", ts("2024-01-01 11:00:00"), None, true),
      (2, "x", ts("2024-01-01 10:30:00"), None, true)))

    // next batch: unchanged state compresses onto the current version
    // (keeping ITS valid_from); a changed one opens at its event time
    sink(Seq(
      (1, "b", ts("2024-01-01 12:00:00")),
      (2, "y", ts("2024-01-01 13:00:00"))).toDF("k", "name", "ts"), 1L)
    val dim2 = spark.read.parquet(dir)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(dim2 === Seq(
      (1, "a", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 11:00:00")), false),
      (1, "b", ts("2024-01-01 11:00:00"), None, true),
      (2, "x", ts("2024-01-01 10:30:00"), Some(ts("2024-01-01 13:00:00")), false),
      (2, "y", ts("2024-01-01 13:00:00"), None, true)))
  }

  test("scd2BatchEventGrain clamps below-current event times — closed history never overlapped") {
    val dir = Files.createTempDirectory("stream_scd2_event_late").toString + "/dim"
    val sink = EventStream.scd2BatchEventGrain(dir, Seq("k"), Seq("name"), "ts") _
    sink(Seq((1, "a", ts("2024-01-02 12:00:00"))).toDF("k", "name", "ts"), 0L)
    // late change: 11:00 < current valid_from 12:00 — clamps up to 12:00
    sink(Seq((1, "b", ts("2024-01-02 11:00:00"))).toDF("k", "name", "ts"), 1L)
    val dim = spark.read.parquet(dir)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime, r._2)).toSeq
    dim.foreach { case (_, _, from, to, _) =>
      to.foreach(t => assert(!t.before(from),
        s"inverted interval: valid_to $t < valid_from $from")) }
    assert(dim.count(_._5) === 1 && dim.find(_._5).get._2 === "b")
    // 'a' closed zero-width at the clamp boundary, not dropped
    assert(dim.exists(r => r._2 == "a" && !r._5
      && r._4.contains(ts("2024-01-02 12:00:00"))))
  }

  test("scd2Batch clamps a late batch's effective time — no inverted intervals") {
    val dir = Files.createTempDirectory("stream_scd2_late").toString + "/dim"
    val sink = EventStream.scd2Batch(dir, Seq("k"), Seq("name"), "ts") _
    sink(Seq((1, "a", ts("2024-01-02 12:00:00"))).toDF("k", "name", "ts"), 0L)
    // late batch: event time BEFORE the dimension's newest valid_from
    sink(Seq((1, "b", ts("2024-01-02 11:00:00"))).toDF("k", "name", "ts"), 1L)
    val dim = spark.read.parquet(dir)
      .as[(Int, String, Timestamp, Option[Timestamp], Boolean)].collect()
    // without the clamp: 'a' closes at 11:00 < its valid_from 12:00
    dim.foreach { case (_, _, from, to, _) =>
      to.foreach(t => assert(!t.before(from),
        s"inverted interval: valid_to $t < valid_from $from")) }
    assert(dim.count(_._5) === 1 && dim.find(_._5).get._2 === "b")
  }

  test("socket-source CDC stream: network readStream -> from_json topic routing -> upsert targets (S9/T3 end-to-end)") {
    // The Kafka jars are absent from this environment, so this is the
    // closest executable proof of the S9/T3 topology
    // (`scripts/test/transform.py:46-83`): a NETWORK streaming source (the
    // built-in socket source) feeding the untouched from_json -> route by
    // topic -> EventStream.upsertBatch pipeline. Swapping the source line
    // for sources.Kafka.readStream is the only delta against a real broker.
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    @volatile var out: java.io.PrintWriter = null
    val accepted = new java.util.concurrent.CountDownLatch(1)
    val acceptor = new Thread(() => {
      val sock = server.accept()
      out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), true)
      accepted.countDown()
    })
    acceptor.setDaemon(true)
    acceptor.start()

    val base = Files.createTempDirectory("socket_cdc").toString
    val masterDir = s"$base/sales_master"
    val itemsDir = s"$base/sales_items"
    val msgSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "topic STRING, k INT, name STRING, v INT")

    val parsed = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
      .select(from_json(col("value"), msgSchema).as("m"))
      .select("m.*")
    val q = parsed.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val b = df.persist()
        try if (!b.isEmpty) {
          // the reference's topic-suffix routing: one upsert target per table
          EventStream.upsertBatch(masterDir, Seq("k"))(
            b.filter(col("topic") === "sqlserver.silverstr.sales_master")
              .select("k", "name", "v"), id)
          EventStream.upsertBatch(itemsDir, Seq("k"))(
            b.filter(col("topic") === "sqlserver.silverstr.sales_items")
              .select("k", "name", "v"), id)
        } finally b.unpersist()
        ()
      }
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      assert(accepted.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "socket source never connected")

      // snapshot state poll: the TCP push -> source read -> micro-batch ->
      // staged swap chain is asynchronous end-to-end, so assert by waiting
      // on the TARGET state, tolerating mid-swap transients
      def stateOf(dir: String): Set[(Int, String, Int)] =
        try spark.read.parquet(dir).as[(Int, String, Int)].collect().toSet
        catch { case _: Throwable => Set.empty }
      def waitFor(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
        assert(cond, s"timed out waiting for $what")
      }

      out.println("""{"topic":"sqlserver.silverstr.sales_master","k":1,"name":"a","v":10}""")
      out.println("""{"topic":"sqlserver.silverstr.sales_master","k":2,"name":"b","v":20}""")
      out.println("""{"topic":"sqlserver.silverstr.sales_items","k":7,"name":"x","v":70}""")
      waitFor(stateOf(masterDir) == Set((1, "a", 10), (2, "b", 20))
        && stateOf(itemsDir) == Set((7, "x", 70)), "first CDC batch to apply")

      // second wave: an update to k=2 and an insert, across both topics —
      // merge semantics, not append
      out.println("""{"topic":"sqlserver.silverstr.sales_master","k":2,"name":"b2","v":21}""")
      out.println("""{"topic":"sqlserver.silverstr.sales_items","k":8,"name":"y","v":80}""")
      waitFor(stateOf(masterDir) == Set((1, "a", 10), (2, "b2", 21))
        && stateOf(itemsDir) == Set((7, "x", 70), (8, "y", 80)),
        "second CDC batch to upsert")
    } finally {
      q.stop()
      server.close()
    }
  }

  test("funnelBatch sink: a LATE micro-batch repairs the cascade; drained state equals batch recompute; replay identical") {
    import graft.operators.Aggregates
    val dir = Files.createTempDirectory("graft_funnel_sink").toString
    val steps = Seq("a" -> (col("event_type") === "view"),
      "b" -> (col("event_type") === "click"))
    def df(rows: Seq[(Long, Timestamp, String)]) =
      rows.toDF("u", "ts", "event_type")
    // batch 1 folds u1's click FIRST; batch 2 carries u1's view EARLIER
    // than batch 1's max — the order a blind fold silently corrupts
    // (strict-> cascade would never see view-before-click)
    val b1 = Seq((1L, ts("2024-01-01 12:00:00"), "click"),
      (2L, ts("2024-01-01 11:00:00"), "view"))
    val b2 = Seq((1L, ts("2024-01-01 09:00:00"), "view"),
      (2L, ts("2024-01-01 13:00:00"), "click"))
    val sink = Aggregates.funnelBatch(dir, col("u"), col("ts"), steps) _
    sink(df(b1), 0L)
    sink(df(b2), 1L)
    def state = graft.etl.BatchSnapshots.latest(spark, s"$dir/state",
        Seq("_e", "_t0", "_t1"), Aggregates.funnelEmptyState(spark, 2))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .toSet
    val drained = state
    val want = Aggregates.funnelAdvance(Aggregates.funnelEmptyState(spark, 2),
        df(b1 ++ b2), col("u"), col("ts"), steps)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .toSet
    assert(drained == want, s"$drained vs $want")
    // u1's late view must have repaired the cascade: click follows view
    assert(drained.exists(t => t._1 == 1L && t._2 != null && t._3 != null),
      s"late repair missing: $drained")
    // at-least-once replay of batch 2 rewrites identical state
    sink(df(b2), 1L)
    assert(state == drained, "replay must rewrite the same snapshot")
  }

  test("sessionsBatch sink: a LATE micro-batch re-sessionizes its users; state equals full recompute; replay identical") {
    import graft.operators.Sessions
    val dir = Files.createTempDirectory("graft_sessions_sink").toString
    def df(rows: Seq[(Long, Timestamp, Double)]) =
      rows.toDF("u", "ts", "v")
    // batch 2's late event BRIDGES u1's two batch-1 sessions (gap 30 min)
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 11:00:00"), 2.0),
      (2L, ts("2024-01-01 10:00:00"), 5.0))
    val b2 = Seq((1L, ts("2024-01-01 10:30:00"), 3.0),
      (2L, ts("2024-01-01 12:00:00"), 7.0))
    val sink = Sessions.sessionsBatch(dir, col("u"), col("ts"), col("v"),
      gapSec = 1800L) _
    sink(df(b1), 0L)
    sink(df(b2), 1L)
    def state = graft.etl.BatchSnapshots.latest(spark, s"$dir/state",
        Seq("_u", "session_start", "session_end", "n_events", "total"),
        Sessions.emptyState(spark))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDecimal(4).toPlainString)).toSet
    val drained = state
    val want = Sessions.sessionsOf(df(b1 ++ b2), col("u"), col("ts"),
        col("v"), 1800L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDecimal(4).toPlainString)).toSet
    assert(drained == want, s"$drained vs $want")
    // the bridge must have merged u1 into ONE session of 3 events
    assert(drained.exists(t => t._1 == 1L && t._4 == 3L),
      s"late bridge did not merge: $drained")
    sink(df(b2), 1L)
    assert(state == drained, "replay must rewrite the same snapshot")
  }
}
