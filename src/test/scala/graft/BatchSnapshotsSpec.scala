package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{BatchSnapshots, EtlLog, SnapshotIO}

/** The shared per-batch state discipline's edge contracts: a dir that
  * exists but holds no readable parquet (post-compaction, marker files
  * only, a crashed overwrite's staging leftovers) reads as the EMPTY
  * state, never a schema-inference throw; the append-form read takes the
  * seed and every partition strictly below K; a flat dir refuses; and
  * `bid=K` snapshots are readable time travel — the state AT batch K.
  */
class BatchSnapshotsSpec extends SparkSpec {

  private def empty() = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType, nullable = false))))
  }

  test("latest() of a dir with zero parquet footers is the empty state") {
    val dir = Files.createTempDirectory("graft_bsnap").toString
    // dir exists, carries only a marker file and an empty bid= dir — the
    // all-partitions-compacted shape the advisor flagged
    Files.createFile(Paths.get(s"$dir/_SUCCESS"))
    Files.createDirectories(Paths.get(s"$dir/bid=3"))
    val got = BatchSnapshots.latest(spark, dir, Seq("k", "v"), empty())
    assert(got.count() == 0L)
    assert(got.columns.toSeq == Seq("k", "v"))
  }

  test("advanceAndLand is replay-idempotent and bid=K reads are the state after batch K") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bsnap2").toString + "/state"
    def adv(rows: Seq[(Long, Long)])(prior: org.apache.spark.sql.DataFrame) =
      prior.unionByName(rows.toDF("k", "v"))
        .groupBy("k").agg(sum("v").as("v"))
    BatchSnapshots.advanceAndLand(spark, dir, 0L, Seq("k", "v"), empty())(
      adv(Seq((1L, 10L), (2L, 5L))))
    BatchSnapshots.advanceAndLand(spark, dir, 1L, Seq("k", "v"), empty())(
      adv(Seq((1L, 1L))))
    BatchSnapshots.advanceAndLand(spark, dir, 2L, Seq("k", "v"), empty())(
      adv(Seq((2L, 2L))))
    def stateAt(bid: Long): Map[Long, Long] =
      BatchSnapshots.latest(spark, dir, Seq("k", "v"), empty(),
          belowBid = Some(bid + 1))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // time travel: mid-stream reads equal the state after that batch
    assert(stateAt(0L) == Map(1L -> 10L, 2L -> 5L))
    assert(stateAt(1L) == Map(1L -> 11L, 2L -> 5L))
    assert(stateAt(2L) == Map(1L -> 11L, 2L -> 7L))
    // at-least-once replay of batch 1 re-derives from bid=0 and rewrites
    // bid=1 identically; later snapshots are untouched
    BatchSnapshots.advanceAndLand(spark, dir, 1L, Seq("k", "v"), empty())(
      adv(Seq((1L, 1L))))
    assert(stateAt(1L) == Map(1L -> 11L, 2L -> 5L))
    assert(stateAt(2L) == Map(1L -> 11L, 2L -> 7L))
  }

  test("a dir holding only a crashed overwrite's .spark-staging-* parquet is the empty state") {
    import spark.implicits._
    val scratch = Files.createTempDirectory("graft_bsnap_part").toString
    Seq((1L, 2L)).toDF("k", "v").write.parquet(s"$scratch/out")
    val part = new java.io.File(s"$scratch/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dir = Files.createTempDirectory("graft_bsnap_staging").toString
    Files.createDirectories(Paths.get(s"$dir/.spark-staging-1"))
    Files.move(part.toPath, Paths.get(s"$dir/.spark-staging-1/${part.getName}"))
    assert(!SnapshotIO.hasParquet(spark, dir))
    assert(EtlLog.readWatermark(spark, dir, "orders").isEmpty)
    assert(BatchSnapshots.allBelow(spark, dir, 0L, "bid", empty()).count() == 0L)
    assert(BatchSnapshots.latest(spark, dir, Seq("k", "v"), empty()).count() == 0L)
  }

  test("allBelow reads the seed and every partition strictly below K; a flat dir refuses naming its seeder") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bsnap_append").toString + "/state"
    BatchSnapshots.seed(Seq((0L, 0L)).toDF("k", "v"), dir, "batch_id")
    Seq(0L, 1L, 2L).foreach(b =>
      BatchSnapshots.land(Seq((b + 1, b + 10)).toDF("k", "v"), dir, b, "batch_id"))
    def keysBelow(b: Long): Set[Long] =
      BatchSnapshots.allBelow(spark, dir, b, "batch_id", empty())
        .as[(Long, Long)].collect().map(_._1).toSet
    assert(keysBelow(0L) == Set(0L))
    assert(keysBelow(2L) == Set(0L, 1L, 2L))
    // a replay of batch 1 replaces its own partition, never appends to it
    BatchSnapshots.land(Seq((2L, 11L)).toDF("k", "v"), dir, 1L, "batch_id")
    assert(keysBelow(3L) == Set(0L, 1L, 2L, 3L))
    assert(BatchSnapshots.allBelow(spark, dir, 3L, "batch_id", empty())
      .filter($"k" === 2L).as[(Long, Long)].collect().toSeq == Seq((2L, 11L)))
    val flat = Files.createTempDirectory("graft_bsnap_flat").toString + "/state"
    Seq((0L, 0L)).toDF("k", "v").write.parquet(flat)
    val e = intercept[IllegalArgumentException](
      BatchSnapshots.allBelow(spark, flat, 0L, "batch_id", empty(), "seedSomething"))
    assert(e.getMessage.contains("seedSomething"))
  }
}
