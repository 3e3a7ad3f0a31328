package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Packing

/** WebDataset-style .tar shard export — the container multimodal training
  * loaders actually stream (a shard is a tar whose member files group by
  * sample key: `KEY.jpg`, `KEY.txt`, `KEY.json` sit adjacently, so a
  * sequential read yields whole samples): the multimodal twin of
  * [[Jsonl]]'s text export. Reference anchor: the delimited landing step
  * of `scripts/test/transform.py:31-44`, upgraded to the binary-sample
  * container the image/audio pipelines consume.
  *
  * Deterministic by construction, like [[Jsonl]]: sample order comes from
  * the [[Packing.mix2]] layout, shard cuts from the bucketed byte cumsum,
  * and the tar metadata is pinned (mtime 0, fixed mode, ustar magic) — so
  * re-exporting the same data yields BYTE-IDENTICAL shard files, which is
  * what makes shard-level caching, rsync-style delta pushes, and
  * resume-from-shard work.
  *
  * Pure-JDK tar (ustar headers, 512-byte blocks, two-block terminator) —
  * no codec dependency; [[read]] parses the shards back through Spark's
  * binaryFile source, one flatMap per shard file.
  *
  * 100 TB shape: identical to [[Jsonl.writeShardsByBytes]] — the cumsum
  * is bucketed (no single-partition window), the densified cut map is
  * shard-count-sized and broadcast, each task streams its shards straight
  * to the filesystem, and the returned manifest counts what LANDED. Tar
  * overhead is exact arithmetic (512-byte header + 512-padding per file),
  * so the byte budget is honored to one sample's spill.
  */
object WebDataset {

  /** On-disk size of one tar member: header block + data padded to 512. */
  private def entrySize(n: Long): Long = 512L + ((n + 511L) / 512L) * 512L

  /** ustar header, metadata pinned for deterministic archives. */
  private[graft] def tarHeader(name: String, size: Long): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"tar member name too long: $name")
    require(size >= 0, s"negative size for $name")
    // the 12-byte octal ustar size field holds 11 digits: 8^11 - 1 bytes.
    // A larger member would silently overflow into the mtime field and
    // corrupt every subsequent offset — reject it loudly (WebDataset
    // samples are MB-scale; an 8 GiB member is a caller bug)
    require(size < 8589934592L,
      s"tar member $name is $size bytes — exceeds the ustar 11-digit octal size field (8^11 - 1)")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644\u0000") // mode
    put(108, "0000000\u0000") // uid
    put(116, "0000000\u0000") // gid
    put(124, f"$size%011o" + "\u0000")
    put(136, "00000000000\u0000") // mtime 0 — determinism over provenance
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaces while summing
    h(156) = '0' // typeflag: regular file
    put(257, "ustar\u000000") // magic + version
    val sum = h.iterator.map(b => b & 0xff).sum
    put(148, f"$sum%06o" + "\u0000 ")
    h
  }

  /** Parse one tar archive to (memberName, bytes) in member order. */
  private[graft] def parseTar(b: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    var done = false
    while (!done && off + 512 <= b.length) {
      if (b(off) == 0) done = true // terminator blocks
      else {
        val name = new String(b, off, 100, "UTF-8").takeWhile(_ != '\u0000')
        val size = java.lang.Long.parseLong(
          new String(b, off + 124, 11, "US-ASCII").trim, 8)
        out += ((name, java.util.Arrays.copyOfRange(b, off + 512,
          off + 512 + size.toInt)))
        off += 512 + ((size + 511L) / 512L).toInt * 512
      }
    }
    out.result()
  }

  /** Write one `.tar` shard per byte-budget cut under `dir`
    * (`shard-NNNNN.tar`), each sample contributing one `KEY.ext` member
    * per payload column, then persist and return the landed manifest
    * (shard, n_samples, n_members, n_bytes, payload_bytes). `idCol` must
    * be numeric (it seeds the deterministic layout and names the sample
    * key). The manifest is the [[manifestStats]] fast path's source of
    * truth — it counts what LANDED, tallied by the same loop that wrote
    * the bytes. */
  def writeShards(df: DataFrame, dir: String, idCol: Column,
                  payloads: Seq[(String, Column)],
                  maxBytesPerShard: Long): DataFrame = {
    require(payloads.nonEmpty, "at least one payload column required")
    // member names split KEY.ext at the LAST dot on read (both the helper
    // reader and the DSv2 source) — an ext containing a dot would silently
    // mis-split the round trip (e.g. ext "json.gz" reads back as key
    // "KEY.json", ext "gz"). Reject at write time so the contract is
    // explicit; keys MAY contain dots.
    payloads.foreach { case (ext, _) =>
      require(!ext.contains('.') && ext.nonEmpty,
        s"payload ext '$ext' must be non-empty and dot-free — member names " +
          "split at the last dot on read, so a dotted ext breaks the round trip")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val exts = payloads.map(_._1)
    // a NULL payload coalesces to a zero-byte member BEFORE the cumsum:
    // un-coalesced it would null octet_length -> null __bytes -> a
    // corrupted byte cumsum upstream AND an NPE at data.length mid-archive
    // downstream (the round-7 advisory). Absence stays representable (a
    // 0-byte KEY.ext member), and the byte budget stays exact.
    val sel = df.select(
      (idCol.cast("long").as("__id") +: idCol.cast("string").as("__key") +:
        payloads.zipWithIndex.map { case ((_, c), i) =>
          coalesce(c.cast("binary"), lit(Array.emptyByteArray)).as(s"__p$i")
        }): _*)
    val sizeExpr = payloads.indices
      .map(i => lit(512L) +
        (((octet_length(col(s"__p$i")).cast("long") + 511L) / 512L).cast("long") * 512L))
      .reduce(_ + _)
    // PIN the sized batch once: the placement DAG references it from four
    // branches (bucket totals, the offsets join, the shard-id distinct,
    // the placed join), and un-pinned each branch re-evaluated the whole
    // upstream source — for a container export whose input is itself a
    // decode/transform DAG that is four extra source passes per call
    // (measured: q167's writeShards at 3-9 s for a 10 MB batch, dominated
    // by repeated media re-derivation). The batch is the write set — one
    // batch-sized materialization is strictly cheaper than re-deriving it
    // per branch at any scale.
    val sized = sel.withColumn("__bytes", sizeExpr).localCheckpoint()
    val cum = Packing.bucketedCumSum(sized,
      orderCol = Packing.mix2(col("__id")),
      bucket = Packing.mix2(col("__id")) / lit(2097152L),
      measure = col("__bytes"), alias = "__cum", tieBreak = Seq(col("__id")))
    val cut = cum.withColumn("__raw",
      ((col("__cum") - col("__bytes")) / lit(maxBytesPerShard)).cast("long"))
    val ids = cut.select(col("__raw")).distinct()
      .withColumn("shard",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__raw"))).cast("long") - 1L)
    val placed = cut.join(broadcast(ids), "__raw")
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__cum"))
    // the session's hadoopConfiguration (fs.defaultFS, s3a credentials,
    // user overrides) must reach the executor-side FileSystem resolution —
    // `new Configuration()` inside the task silently drops all of it (the
    // round-7 advisory). Configuration isn't serializable, so ship its
    // entries and rebuild per task.
    val hadoopEntries: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    val confBc = spark.sparkContext.broadcast(hadoopEntries)
    // per-partition imperative container IO — the one shape mapPartitions
    // exists for; shards are co-located and contiguous after the
    // repartition+sort, so each task streams whole shard files. Commit
    // protocol: each shard writes to an ATTEMPT-SCOPED temp name and
    // renames into place on success — with speculative execution or a
    // mid-task retry, two attempts writing `shard-N.tar` directly could
    // interleave on filesystems without single-writer create semantics;
    // with the rename, the loser's (byte-identical — the layout is
    // deterministic) temp file is simply discarded.
    val manifestRows = placed.rdd.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      confBc.value.foreach { case (k, v) => conf.set(k, v) }
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      val written = scala.collection.mutable.Set.empty[Long]
      var out: java.io.OutputStream = null
      var curShard = -1L
      var tmpPath: org.apache.hadoop.fs.Path = null
      var fs: org.apache.hadoop.fs.FileSystem = null
      var n = 0L
      var bytes = 0L
      var members = 0L
      var pbytes = 0L
      def closeShard(): Unit = if (out != null) {
        out.write(new Array[Byte](1024)) // end-of-archive
        out.close()
        val dst = new org.apache.hadoop.fs.Path(dir, f"shard-$curShard%05d.tar")
        if (!fs.rename(tmpPath, dst)) {
          // a concurrent attempt already committed this shard: its bytes
          // are identical by construction — drop ours
          if (fs.exists(dst)) fs.delete(tmpPath, false)
          else throw new java.io.IOException(s"rename $tmpPath -> $dst failed")
        }
        written += curShard
        results += ((curShard, n, members, bytes + 1024L, pbytes))
        out = null
      }
      def sweepDeadAttempts(): Unit = if (written.nonEmpty && fs != null) {
        // best-effort sweep of stale temp files from attempts that died
        // mid-write for the shards THIS task committed (theirs never
        // reached the rename, so nothing else deletes them; reads glob
        // shard-*.tar and are unaffected, but the garbage accrues across
        // retries). ONE directory listing per TASK — a per-shard-close
        // glob lists the directory once per shard, which is O(shards²)
        // name matching and was measured dominating a 2000-fragment
        // export (q175 at an 8 KiB budget). A survivor matching the
        // pattern is a dead attempt's ONLY when speculative execution is
        // off: under speculation a concurrent live attempt's
        // still-being-written temp matches too, so skip the sweep there
        // (worst case is orphaned temp garbage, never a failed commit —
        // the victim attempt's rename recovers via the fs.exists(dst)
        // path above).
        try {
          val speculating = org.apache.spark.SparkEnv.get != null &&
            org.apache.spark.SparkEnv.get.conf.getBoolean("spark.speculation", false)
          if (!speculating)
            fs.globStatus(new org.apache.hadoop.fs.Path(dir, ".shard-*.tar.*.tmp"))
              .foreach { st =>
                val sh = st.getPath.getName.stripPrefix(".shard-")
                  .takeWhile(_.isDigit)
                if (sh.nonEmpty && written.contains(sh.toLong))
                  fs.delete(st.getPath, false)
              }
        } catch { case _: Throwable => () } // cleanup must never fail a commit
      }
      it.foreach { row =>
        val shard = row.getAs[Long]("shard")
        if (shard != curShard) {
          closeShard()
          curShard = shard; n = 0L; bytes = 0L; members = 0L; pbytes = 0L
          tmpPath = new org.apache.hadoop.fs.Path(
            dir, f".shard-$shard%05d.tar.$attempt%d.tmp")
          fs = tmpPath.getFileSystem(conf)
          out = fs.create(tmpPath, true)
        }
        val key = row.getAs[String]("__key")
        exts.zipWithIndex.foreach { case (ext, i) =>
          val data = row.getAs[Array[Byte]](s"__p$i")
          out.write(tarHeader(s"$key.$ext", data.length.toLong))
          out.write(data)
          val pad = (((data.length + 511) / 512) * 512) - data.length
          if (pad > 0) out.write(new Array[Byte](pad))
          bytes += entrySize(data.length.toLong)
          members += 1L
          pbytes += data.length.toLong
        }
        n += 1L
      }
      closeShard()
      sweepDeadAttempts()
      results.iterator
    }
    // MATERIALIZE the manifest rows before the single-file json write:
    // `coalesce(1)` extends down to the previous shuffle boundary, so
    // applied directly it collapsed the post-repartition stage — the
    // per-shard SORT and the tar-writing mapPartitions itself — into ONE
    // task, serializing the whole container export on one core at every
    // scale (measured: q167's writeShards 8.8 s cold / 3.2 s warm for a
    // 10 MB corpus, the query's dominant cost). The checkpoint runs the
    // export wide (one task per shard run); only the shard-count-sized
    // manifest coalesces.
    val manifest = manifestRows.toDF(
      "shard", "n_samples", "n_members", "n_bytes", "payload_bytes")
      .localCheckpoint()
    manifest.coalesce(1)
      .write.mode(SaveMode.Overwrite).json(s"$dir/_manifest")
    Jsonl.manifest(spark, dir)
  }

  /** foreachBatch sink: STREAMING WebDataset export — the container twin
    * of [[graft.operators.Dedup.fuzzyDedupBatch]] /
    * [[graft.operators.Multimodal.mediaDedupBatch]], completing the
    * container lifecycle (graft could dedup continuously but until now
    * exported containers only as a batch job):
    *
    *   crawl.writeStream.foreachBatch(
    *     WebDataset.exportBatch(dir, col("id"),
    *       Seq("bmp" -> col("img")), 1L << 20) _).start()
    *
    * Each micro-batch lands as tar shards under its OWN batch-scoped
    * namespace `dir/batch_id=N/shard-*.tar` with its own `_manifest` —
    * the batch_id dynamic-partition-overwrite discipline materialized on
    * directories: a retry REPLACES its whole namespace (delete + rewrite),
    * so a replay can never leave duplicate or orphan shards, and the
    * deterministic [[writeShards]] layout makes the replacement
    * byte-identical. Other batches' namespaces are never touched.
    *
    * The `batch_id=N` path convention is the parquet partition-discovery
    * one on purpose: downstream parquet-side state (the dedup sinks) and
    * container-side landing share one naming scheme, and [[readBatches]]
    * recovers batch_id as a column. 100 TB shape: identical to
    * [[writeShards]] per batch (bucketed cumsum, per-task streaming IO);
    * namespaces mean shard NUMBERS restart per batch, so global shard
    * identity is (batch_id, shard) — exactly what a resumable loader
    * wants, because a late replay renumbers nothing outside its batch.
    * Reference anchor: the scheduled landing loop of
    * `dags/get_data_api.py` (per-interval extract-and-land), upgraded to
    * the binary-sample container with exactly-once namespace replacement. */
  def exportBatch(dir: String, idCol: Column, payloads: Seq[(String, Column)],
                  maxBytesPerShard: Long)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val ns = new org.apache.hadoop.fs.Path(dir, s"batch_id=$batchId")
    val fs = ns.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // replay discipline: replace the batch's OWN namespace whole — a
    // previous attempt may have died after landing some shards, and a
    // shorter re-export must not leave its orphans behind
    if (fs.exists(ns)) fs.delete(ns, true)
    writeShards(batch, ns.toString, idCol, payloads, maxBytesPerShard)
    ()
  }

  /** Read an [[exportBatch]] landing back to
    * (batch_id, shard, key, ext, content) across every batch namespace. */
  def readBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/batch_id=*/shard-*.tar")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val parts = path.split('/')
        val bid = parts(parts.length - 2).stripPrefix("batch_id=").toLong
        val shard = parts.last.stripPrefix("shard-").stripSuffix(".tar").toLong
        parseTar(bytes).map { case (name, data) =>
          val dot = name.lastIndexOf('.')
          (bid, shard, name.substring(0, dot), name.substring(dot + 1), data)
        }
      }.toDF("batch_id", "shard", "key", "ext", "content")
  }

  /** Shard COMPACTION: re-layout the members of one or more shard
    * layouts (typically [[exportBatch]]'s accreted per-batch namespaces —
    * a day of micro-batches lands hundreds of under-budget shards) into
    * ONE budget-sized [[writeShards]] layout under `dstDir` — the
    * container twin of [[graft.etl.BatchSnapshots.compactBatchPartitions]],
    * closing the small-files problem on the container side: loaders and
    * object stores price file COUNT as well as bytes, and a crawl landing
    * at micro-batch grain fragments both.
    *
    * Because the [[writeShards]] layout is deterministic in the DATA
    * (mix2 order, byte-budget cuts, pinned tar metadata), compaction is
    * byte-identical to having exported the union directly — so shard
    * caching, rsync delta pushes, and the manifest byte math all survive
    * re-layout (spec-pinned; q175 puts the invariant in the oracle gate).
    *
    * Contract: `exts` enumerates the payload members per sample (the
    * writeShards convention — every key gets every ext, absence is a
    * 0-byte member); a DUPLICATE (key, ext) across the source layouts
    * refuses loudly at execution (an overlapping landing is the dedup
    * sinks' job, not compaction's to paper over). Keys must be numeric
    * (the writeShards id contract).
    *
    * 100 TB shape: members stream through the pruned DSv2 source, one
    * key-shuffle (the pivot carries payload and dup count together), then
    * the writeShards path — nothing is ever whole-corpus resident.
    * Reference anchor: the full-table replicate/compaction posture of
    * the `scripts/ETL Pipeline` overwrite-refresh jobs applied to the
    * container layout. */
  def compactShards(spark: SparkSession, srcDirs: Seq[String], dstDir: String,
                    exts: Seq[String], maxBytesPerShard: Long): DataFrame = {
    require(srcDirs.nonEmpty && exts.nonEmpty, "srcDirs and exts required")
    val members = srcDirs.map(d =>
        spark.read.format("graft-webdataset").load(d)
          .select(col("key"), col("ext"), col("content")))
      .reduce(_ unionByName _)
      .filter(col("ext").isin(exts: _*))
    // ONE key-shuffle: the pivot carries both the payload and a per-cell
    // count, and the dup check rides the projection (a separate
    // (key, ext) pre-aggregate would push every payload byte through a
    // second exchange)
    val pivoted0 = members.groupBy("key").pivot("ext", exts)
      .agg(first(col("content")).as("c"), count(lit(1)).as("n"))
    val pivoted = pivoted0.select(col("key") +: exts.map { e =>
      when(col(s"${e}_n") > 1,
        raise_error(concat(lit("compactShards: duplicate member "),
          col("key"), lit(s".$e across source layouts"))).cast("binary"))
        .otherwise(col(s"${e}_c")).as(e)
    }: _*)
    writeShards(pivoted, dstDir, col("key").cast("long"),
      exts.map(e => e -> col(e)), maxBytesPerShard)
  }

  /** Manifest-backed metadata FAST PATH: per-shard (shard, n_samples,
    * n_members, n_bytes, payload_bytes) from the `_manifest` the export
    * landed — WITHOUT opening a single tar. The pruned DSv2 header walk
    * costs 512 bytes/member across O(shards) file opens; this costs one
    * manifest read regardless of corpus size — at 100 TB that is the
    * difference between a metadata query and a million object-store GETs.
    * The manifest counts what LANDED (written by the export's own commit
    * path), so it is authoritative for an untouched layout; when shards
    * may have been mutated out-of-band, run [[verifyManifest]] first. */
  def manifestStats(spark: SparkSession, dir: String): DataFrame =
    Jsonl.manifest(spark, dir).select(
      col("shard").cast("long").as("shard"),
      col("n_samples").cast("long").as("n_samples"),
      col("n_members").cast("long").as("n_members"),
      col("n_bytes").cast("long").as("n_bytes"),
      col("payload_bytes").cast("long").as("payload_bytes"))

  /** Verification mode for the fast path: the manifest's per-shard counts
    * against a PRUNED header walk of the actual tars (the graft-webdataset
    * DSv2 scan — 512 bytes/member, zero payload bytes). Returns one row
    * per DISAGREEING shard with both sides' numbers (empty = verified);
    * a shard present on only one side surfaces with nulls on the other.
    * Run this after any out-of-band mutation suspicion, then trust
    * [[manifestStats]] again. */
  def verifyManifest(spark: SparkSession, dir: String): DataFrame = {
    val walk = spark.read.format("graft-webdataset").load(dir)
      .groupBy("shard").agg(
        count(lit(1)).as("walk_members"),
        countDistinct(col("key")).as("walk_samples"),
        sum("size").as("walk_payload_bytes"))
    manifestStats(spark, dir)
      .select(col("shard"), col("n_members"), col("n_samples"),
        col("payload_bytes"))
      .join(walk, Seq("shard"), "full_outer")
      .filter(
        coalesce(col("n_members"), lit(-1L)) =!=
          coalesce(col("walk_members"), lit(-2L)) ||
        coalesce(col("n_samples"), lit(-1L)) =!=
          coalesce(col("walk_samples"), lit(-2L)) ||
        coalesce(col("payload_bytes"), lit(-1L)) =!=
          coalesce(col("walk_payload_bytes"), lit(-2L)))
  }

  /** Read a [[writeShards]] layout back to (shard, key, ext, content) —
    * one binaryFile row per shard tar, parsed in a flatMap. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/shard-*.tar")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val shard = path.split('/').last
          .stripPrefix("shard-").stripSuffix(".tar").toLong
        parseTar(bytes).map { case (name, data) =>
          val dot = name.lastIndexOf('.')
          (shard, name.substring(0, dot), name.substring(dot + 1), data)
        }
      }.toDF("shard", "key", "ext", "content")
  }
}
