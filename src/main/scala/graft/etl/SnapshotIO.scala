package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot filesystem mechanics shared by the merge/pipeline sinks.
  *
  * Two invariants the naive patterns break:
  *   - existence probes must go through the Hadoop FileSystem API —
  *     `java.io.File` silently answers false on HDFS/S3 paths, which would
  *     turn every incremental run into a full bootstrap;
  *   - a plan whose lineage READS the target directory must never overwrite
  *     that directory in place (cache loss between materialization and write
  *     would recompute from files the overwrite already deleted). Writes go
  *     to a staging directory and swap in via rename — atomic per directory
  *     on HDFS/local; on object stores swap non-atomicity is the documented
  *     residual (a real deployment fronts it with a manifest commit).
  */
object SnapshotIO {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  /** True when `dir` holds at least one parquet file Spark's file index
    * would read — THE state-existence probe. An absent or parquet-free
    * state dir (fresh checkout, compacted away, an empty first micro-batch
    * that left only `_SUCCESS`) must read as "no state", not as an
    * unreadable snapshot. Names starting with `_` or `.` are skipped at
    * every level, as Spark's file index skips them: a crashed dynamic
    * overwrite leaves `.spark-staging-*` dirs with parquet inside the
    * target. The walk stops at the first hit. */
  def hasParquet(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    def walk(p: Path): Boolean = f.listStatus(p).exists { st =>
      val name = st.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) false
      else if (st.isDirectory) walk(st.getPath)
      else name.endsWith(".parquet")
    }
    val p = new Path(dir)
    f.exists(p) && walk(p)
  }

  /** Replace the whole snapshot: write staging, move old aside, swap
    * staging in, delete the old copy last — there is no window in which the
    * target is deleted but the new data not yet in place (a crash mid-swap
    * leaves either the old snapshot or the new one, never neither). Failed
    * writes clean their staging dir up instead of orphaning a full copy. */
  def replace(spark: SparkSession, df: DataFrame, dir: String): Unit =
    stagedSwap(spark, dir)(staging => df.write.mode("overwrite").parquet(staging))

  /** The ONE staged-swap discipline every whole-directory rewrite goes
    * through ([[replace]], [[compact]]'s layout-preserving branch): run
    * `write` against a tokened staging path, move the old target aside,
    * rename staging in, delete the old copy last; on rename failure the old
    * target is restored, and failed writes clean their staging instead of
    * orphaning a full copy. */
  private[graft] def stagedSwap(spark: SparkSession, dir: String)
                               (write: String => Unit): Unit = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = dir + ".staging-" + token
    val f = fs(spark, dir)
    var written = false
    try {
      write(staging)
      written = true
      val target = new Path(dir)
      val old = new Path(dir + ".old-" + token)
      val hadOld = f.exists(target) && f.rename(target, old)
      if (!f.rename(new Path(staging), target)) {
        if (hadOld) f.rename(old, target) // restore
        throw new java.io.IOException(s"rename $staging -> $dir failed")
      }
      if (hadOld) f.delete(old, true)
    } finally {
      if (!written || f.exists(new Path(staging))) f.delete(new Path(staging), true)
    }
  }

  /** Small-file compaction: rewrite the snapshot into ~`targetRowsPerFile`
    * rows per file and swap it in via [[stagedSwap]] (same crash-safety as
    * every whole-directory rewrite). An
    * incrementally-merged snapshot accretes one file set per run; at scale
    * the scan's task count — and the NameNode/listing pressure — grows with
    * file count, not data size, until a compaction pass resets it. Content
    * is untouched: same rows, fewer files.
    *
    * Uses repartition (round-robin shuffle) for uniformly-sized output
    * files; pass `byCols` to cluster by those columns instead (hash
    * shuffle) so later filters on them skip whole files via min/max stats.
    * One count() to size the output — a metadata-cheap aggregate against
    * one full rewrite is noise.
    *
    * A snapshot maintained by [[replacePartitions]] keeps its Hive-style
    * layout: the partition column is re-discovered from the directory
    * names and the rewrite goes through `partitionBy` — flattening it
    * would make the NEXT replacePartitions call rename partition dirs
    * into a directory that also holds root-level files covering every
    * partition (conflicting structures / duplicated rows on read). On
    * that path the shuffle keys on the partition column (salted per value,
    * bounded by each value's row count) rather than round-robin: a
    * round-robin spread hands every task rows of every partition value,
    * and `partitionBy` then fans out up to nFiles × nPartitions files —
    * growth, not compaction. Returns the file count aimed for. */
  def compact(spark: SparkSession, dir: String, targetRowsPerFile: Long,
              byCols: Seq[String] = Nil): Long = {
    require(targetRowsPerFile > 0)
    val partCols = partitionColumnsOf(spark, dir)
    require(partCols.length <= 1,
      s"multi-level partitioned snapshots unsupported by compact: $partCols")
    val snap = spark.read.parquet(dir)
    val rows = snap.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
      .min(Int.MaxValue.toLong).toInt
    import org.apache.spark.sql.functions._
    val byExprs = byCols.map(col)
    var targetFiles = nFiles.toLong
    val laidOut =
      if (partCols.nonEmpty && byCols.isEmpty) {
        // partitioned snapshot: round-robin repartition(nFiles) + partitionBy
        // lets EVERY task hold rows of EVERY partition value — up to
        // nFiles × nPartitions output files, an anti-compaction. Shuffle on
        // the partition column instead, salted per VALUE so a hot partition
        // still splits into ~ceil(rows/target) files while small ones get
        // exactly one. The per-value bucket counts are one tiny aggregate
        // (bounded by partition-value cardinality — the same tiny-artifact
        // collect as replacePartitions' touched-partition list).
        val pc = partCols.head
        val buckets = snap.groupBy(col(pc))
          .agg(ceil(count(lit(1)) / targetRowsPerFile.toDouble).cast("int").as("__nb"))
          .withColumn("__nb", greatest(lit(1), col("__nb")))
        val totalBuckets = buckets
          .agg(sum(col("__nb"))).head.getLong(0).min(Int.MaxValue.toLong).toInt
        targetFiles = totalBuckets.toLong
        snap.join(broadcast(buckets), Seq(pc))
          .withColumn("__salt", pmod(monotonically_increasing_id(), col("__nb")))
          .repartition(totalBuckets, col(pc), col("__salt"))
          .drop("__nb", "__salt")
      }
      else if (byCols.isEmpty) snap.repartition(nFiles)
      else snap.repartition(nFiles, byExprs: _*).sortWithinPartitions(byExprs: _*)
    stagedSwap(spark, dir) { staging =>
      val w = laidOut.write.mode("overwrite")
      partCols.headOption.fold(w)(pc => w.partitionBy(pc)).parquet(staging)
    }
    targetFiles
  }

  /** Hive-style partition columns of a snapshot directory, discovered from
    * first-level `col=value` subdirectory names (the layout
    * [[replacePartitions]] maintains). Empty for flat snapshots. */
  private def partitionColumnsOf(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName.takeWhile(_ != '='))
      .distinct
  }

  /** Replace ONLY the partitions present in `df` (written partitioned by
    * `partitionCol`): write staging partitioned, then swap each staged
    * partition directory into the target. Untouched partitions' files are
    * never opened or rewritten.
    *
    * Swap order per partition mirrors [[replace]]: the old partition moves
    * ASIDE (rename), the staged one renames in, the set-aside copies delete
    * only after every swap landed — old data is never deleted before its
    * replacement is in place, and a mid-loop crash leaves each partition
    * either old, new, or recoverable from its `.old-…` sibling (a
    * delete-then-rename loop would leave crashed partitions simply gone). */
  def replacePartitions(spark: SparkSession, df: DataFrame, dir: String,
                        partitionCol: String): Unit = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = dir + ".staging-" + token
    df.write.partitionBy(partitionCol).mode("overwrite").parquet(staging)
    val f = fs(spark, dir)
    // set-aside lives in a SIBLING dir, not inside the target: a dir named
    // `day=X.old-…` under the target would parse as a phantom partition
    // value during discovery
    val aside = new Path(dir + ".old-" + token)
    try {
      f.mkdirs(new Path(dir))
      val parts = f.listStatus(new Path(staging))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      if (parts.nonEmpty) f.mkdirs(aside)
      parts.foreach { s =>
        val dest = new Path(dir, s.getPath.getName)
        val old = new Path(aside, s.getPath.getName)
        val hadOld = f.exists(dest) && f.rename(dest, old)
        if (!f.rename(s.getPath, dest)) {
          if (hadOld) f.rename(old, dest) // restore this partition
          throw new java.io.IOException(s"rename ${s.getPath} -> $dest failed")
        }
      }
    } finally {
      f.delete(new Path(staging), true)
      f.delete(aside, true)
    }
  }
}
