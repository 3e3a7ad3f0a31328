package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.BatchSnapshots

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise per partition.
  *
  * The Spark-side mechanics here are real and tested — schema, partition
  * iteration, batch shape, feature-column output. Decode comes in two
  * tiers:
  *
  *  - UNCOMPRESSED containers decode for real on the bare JDK:
  *    [[decodeBmpGray8]] (8-bit grayscale BMP — header validation, palette
  *    skip, bottom-up rows, 4-byte row padding) and [[decodeWavPcm16]]
  *    (RIFF chunk walk, PCM16 little-endian). q89 round-trips synthesized
  *    files through these parsers and hash-checks the decoded statistics.
  *  - COMPRESSED images decode for real via the JDK's `javax.imageio`
  *    (PNG/JPEG/GIF/TIFF/BMP readers ship with the JRE): [[decodeImageGray]]
  *    validates declared dimensions from the header BEFORE allocating or
  *    decoding, then reads band-0 samples (1-band rasters) or integer
  *    BT.601 luma (RGB). q91 round-trips synthesized PNGs (lossless, so an
  *    external oracle replays the pixel arithmetic exactly); JPEG is lossy
  *    and gets a tolerance-bounded spec instead of a hash oracle.
  *  - Remaining CODEC formats (MP3/H.264 — genuinely absent from the JRE)
  *    stay a STUB: [[decodeFeatures]] computes a deterministic fake (byte
  *    histogram + length) for unknown mimes where a real deployment would
  *    call the codec. Swap `stubDecode` for the real kernel; nothing else
  *    changes.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, mime: String, media: Array[Byte])
  final case class MediaFeatures(media_id: Long, mime: String, n_bytes: Int,
                                 features: Array[Float])

  /** STUB decode kernel: 16-bin byte histogram, L1-normalized, plus length.
    * Deterministic stand-in for image decode / audio feature extraction. */
  def stubDecode(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    bytes.foreach(b => hist((b & 0xFF) >> 4) += 1f)
    val n = math.max(bytes.length, 1)
    hist.map(_ / n)
  }

  /** 16-bin L1-normalized histogram over decoded gray pixels (0-255). */
  def grayHistogram(px: Array[Int]): Array[Float] = {
    val hist = new Array[Float](16)
    px.foreach(p => hist(p >> 4) += 1f)
    val n = math.max(px.length, 1)
    hist.map(_ / n)
  }

  /** Per-partition batch decode: one iterator pass per partition (the
    * mapInPandas batch shape), no shuffle, preserves partitioning. The
    * kernel dispatches on mime: image mimes run the REAL javax.imageio
    * decode ([[decodeImageGray]]) and histograms actual pixels;
    * `audio/wav` runs the real PCM16 parse and histograms amplitude;
    * anything else (codec-less formats in this env) gets the labeled stub. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real codecs amortize per-partition init (decoder handles, model
      // weights) here — exactly why this is mapPartitions, not map
      rows.map { r =>
        val feats = r.mime match {
          case m if m.startsWith("image/") =>
            grayHistogram(decodeImageGray(r.media)._3)
          case "audio/wav" =>
            // shift signed PCM16 to 0-65535, bin by the high nibble's twin
            grayHistogram(decodeWavPcm16(r.media).map(v => (v + 32768) >> 8))
          case _ => stubDecode(r.media)
        }
        MediaFeatures(r.media_id, r.mime, r.media.length, feats)
      }
    }
  }

  /** Frame sampling shape: byte-range windows standing in for video frame
    * extraction — emits (media_id, frame_no, frame_bytes). */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int,
                   everyN: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.media.grouped(frameSize).zipWithIndex.collect {
        case (frame, i) if i % everyN == 0 => (r.media_id, i, frame)
      }
    }.toDF("media_id", "frame_no", "frame_bytes")
  }

  /** Resize shape: deterministic stride-downsample of the payload (every
    * `factor`-th byte) standing in for image resize / audio resample —
    * same row count, smaller payload, mime tagged with the factor. A real
    * deployment swaps the stride loop for the codec's resampler; the
    * partition-preserving mapPartitions shape is the part that matters. */
  def resize(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1, "factor must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val out = new Array[Byte]((r.media.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = r.media(i * factor); i += 1 }
        MediaRow(r.media_id, s"${r.mime};resize=1/$factor", out)
      }
    }
  }

  /** REAL image resize: exact 2×2 box downsample over decoded gray pixels.
    * Output pixel (x,y) is the rounded mean of the four source pixels
    * (2x,2y),(2x+1,2y),(2x,2y+1),(2x+1,2y+1) — pure integer arithmetic
    * `(sum + 2) / 4`, so an external oracle replays the result exactly
    * (no float resampling kernels whose rounding differs per platform).
    * Requires even dimensions: production resizers pad or crop the last
    * row/column; refusing keeps the arithmetic contract unambiguous. */
  def boxDownsample2(width: Int, height: Int, px: Array[Int]): (Int, Int, Array[Int]) = {
    require(width % 2 == 0 && height % 2 == 0,
      s"boxDownsample2 requires even dimensions, got ${width}x$height")
    require(px.length == width * height,
      s"pixel buffer ${px.length} != ${width}x$height")
    val w2 = width / 2; val h2 = height / 2
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val o = 2 * y * width + 2 * x
        out(y * w2 + x) =
          (px(o) + px(o + 1) + px(o + width) + px(o + width + 1) + 2) / 4
        x += 1
      }
      y += 1
    }
    (w2, h2, out)
  }

  /** Full real resize pipeline for one image payload: ImageIO decode →
    * [[boxDownsample2]] → gray-PNG re-encode. PNG is lossless on both
    * ends, so decode(resizePngGray(bytes)) returns exactly the box-averaged
    * pixels — q94 round-trips synthesized PNGs through this and
    * hash-checks the resized statistics against an oracle that replays the
    * generator + box arithmetic without touching a byte. */
  def resizePngGray(bytes: Array[Byte]): Array[Byte] = {
    val (w, h, px) = decodeImageGray(bytes)
    val (w2, h2, out) = boxDownsample2(w, h, px)
    val img = new java.awt.image.BufferedImage(
      w2, h2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) { raster.setSample(x, y, 0, out(y * w2 + x)); x += 1 }
      y += 1
    }
    encodeImage(img, "png")
  }

  // ---- real decoders for uncompressed containers (bare-JDK, no codecs) ----

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
  private def putLe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def putLe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
    b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
  }

  /** Deterministic 8-bit grayscale BMP: BITMAPFILEHEADER + BITMAPINFOHEADER
    * + 256-entry gray palette + bottom-up, 4-byte-padded rows. Pixel (x,y)
    * of media `id` is `((id*31 + y*width + x) * 17) mod 256` — pure integer
    * arithmetic an external oracle reproduces without parsing a byte. */
  def syntheticBmpGray8(id: Long, width: Int, height: Int): Array[Byte] = {
    val rowSize = (width + 3) / 4 * 4
    val dataOffset = 14 + 40 + 256 * 4
    val out = new Array[Byte](dataOffset + rowSize * height)
    out(0) = 'B'; out(1) = 'M'
    putLe32(out, 2, out.length); putLe32(out, 10, dataOffset)
    putLe32(out, 14, 40); putLe32(out, 18, width); putLe32(out, 22, height)
    putLe16(out, 26, 1); putLe16(out, 28, 8) // planes, bpp
    putLe32(out, 30, 0) // BI_RGB
    (0 until 256).foreach { k =>
      val o = 54 + k * 4
      out(o) = k.toByte; out(o + 1) = k.toByte; out(o + 2) = k.toByte
    }
    var y = 0
    while (y < height) {
      val rowStart = dataOffset + (height - 1 - y) * rowSize // bottom-up
      var x = 0
      while (x < width) {
        out(rowStart + x) = (((id * 31 + y.toLong * width + x) * 17) % 256).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL 8-bit grayscale BMP parse: magic, offsets, bpp/compression
    * checks, bottom-up row order, row padding. Returns (width, height,
    * pixels row-major top-down, values 0-255).
    *
    * Every header field is validated against the BUFFER, not trusted: a
    * media column is opaque bytes from the wild, and a header-lying or
    * truncated file must refuse with IllegalArgumentException — never
    * AIOOBE/negative-allocation crashes inside a task (or a giant
    * pre-allocation an attacker sizes for an executor OOM). */
  def decodeBmpGray8(b: Array[Byte]): (Int, Int, Array[Int]) = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
    val dataOffset = le32(b, 10)
    val width = le32(b, 18)
    val height = le32(b, 22)
    require(le16(b, 28) == 8, s"not 8bpp: ${le16(b, 28)}")
    require(le32(b, 30) == 0, "compressed BMP unsupported")
    require(width > 0 && height > 0, "top-down/degenerate BMP unsupported")
    require(width <= (1 << 20) && height <= (1 << 20) &&
      width.toLong * height <= (1L << 28), s"implausible dimensions ${width}x$height")
    val rowSize = (width + 3) / 4 * 4
    require(dataOffset >= 54 &&
      dataOffset.toLong + rowSize.toLong * height <= b.length,
      s"pixel array out of bounds: offset=$dataOffset rows=$height rowSize=$rowSize len=${b.length}")
    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val rowStart = dataOffset + (height - 1 - y) * rowSize
      var x = 0
      while (x < width) { px(y * width + x) = b(rowStart + x) & 0xFF; x += 1 }
      y += 1
    }
    (width, height, px)
  }

  /** 64-bit average hash (aHash) of an 8×8 grayscale tile — the classic
    * perceptual image-dedup fingerprint: bit i set iff pixel i is strictly
    * brighter than the tile mean. The comparison is `px·64 > Σpx` — pure
    * integer arithmetic (no division, no float mean), so an external SQL
    * oracle replays it exactly, and the hash is EXACTLY invariant under a
    * uniform brightness shift ((p+c)·64 > Σ+64c ⟺ p·64 > Σ) — the
    * robustness property aHash is used for. Returned as (hi, lo) 32-bit
    * halves: packing bit 63 into one BIGINT goes negative in both engines,
    * a sign trap the split sidesteps. Feed tiles from [[decodeImageGray]] +
    * [[boxDownsample2]] chains (or any 8×8 thumbnail). */
  def aHash64(px: Array[Int]): (Long, Long) = {
    require(px.length == 64, s"aHash64 needs an 8x8 tile, got ${px.length} px")
    var s = 0L
    var i = 0
    while (i < 64) { s += px(i); i += 1 }
    var lo = 0L
    var hi = 0L
    i = 0
    while (i < 64) {
      if (px(i).toLong * 64L > s) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  /** Deterministic 8-bit grayscale PNG via the JDK's ImageIO writer. Pixel
    * (x,y) of media `id` is `((id*31 + y*width + x) * 17) mod 256` — the
    * same generator arithmetic as [[syntheticBmpGray8]], so an external
    * oracle reproduces the decoded statistics without parsing a byte. PNG
    * is lossless: encode→decode round-trips samples exactly. */
  def syntheticPngGray8(id: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raster.setSample(x, y, 0, (((id * 31 + y.toLong * width + x) * 17) % 256).toInt)
        x += 1
      }
      y += 1
    }
    encodeImage(img, "png")
  }

  /** ImageIO encode to bytes through a memory-cached stream — never the
    * default disk-backed cache (a per-row temp file inside an executor task
    * is an I/O tax and a /tmp-exhaustion hazard at scale). */
  def encodeImage(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try require(javax.imageio.ImageIO.write(img, format, ios), s"no ImageIO writer for $format")
    finally { ios.flush(); ios.close() }
    baos.toByteArray
  }

  /** REAL image decode on the JDK's javax.imageio (PNG/JPEG/GIF/TIFF/BMP
    * readers ship with the JRE). Returns (width, height, gray pixels
    * row-major top-down, 0-255): band-0 samples verbatim for 1-band
    * rasters (gray PNG round-trips exactly), integer BT.601 luma
    * ((299r+587g+114b+500)/1000) for color images.
    *
    * Untrusted-bytes discipline, same as [[decodeBmpGray8]]: declared
    * dimensions are validated from the HEADER before any pixel allocation
    * or decode runs — a hostile file sizing its header for an executor OOM
    * refuses with IllegalArgumentException instead. Streams are
    * memory-cached, not ImageIO's default disk cache. */
  def decodeImageGray(b: Array[Byte]): (Int, Int, Array[Int]) = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no ImageIO reader recognizes these bytes")
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val width = reader.getWidth(0)
        val height = reader.getHeight(0)
        require(width > 0 && height > 0, s"degenerate dimensions ${width}x$height")
        require(width <= (1 << 20) && height <= (1 << 20) &&
          width.toLong * height <= (1L << 28), s"implausible dimensions ${width}x$height")
        val img =
          try reader.read(0)
          catch { // truncated/corrupt payload past the header
            case e: java.io.IOException =>
              throw new IllegalArgumentException(s"image decode failed: ${e.getMessage}", e)
          }
        val px = new Array[Int](width * height)
        if (img.getRaster.getNumBands == 1) {
          img.getRaster.getSamples(0, 0, width, height, 0, px) // row-major
        } else {
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val bl = rgb & 0xFF
              px(y * width + x) = (r * 299 + g * 587 + bl * 114 + 500) / 1000
              x += 1
            }
            y += 1
          }
        }
        (width, height, px)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Frame-energy audio fingerprint — the audio sibling of [[aHash64]]:
    * the sample stream splits into `frames` equal frames, bit f set iff
    * frame f's energy (Σ v², exact int64) strictly exceeds the mean frame
    * energy — again as the division-free integer comparison
    * `e_f·frames > Σe`, so an external oracle replays it exactly and the
    * fingerprint is EXACTLY invariant under integer gain (v→c·v scales
    * every energy by c², both comparison sides alike) — the robustness an
    * energy signature is used for. 16 frames → fingerprint fits 16 bits,
    * no sign traps. */
  def energyHash16(samples: Array[Int], frames: Int = 16): Long = {
    require(samples.nonEmpty && samples.length % frames == 0,
      s"energyHash16 needs a multiple of $frames samples, got ${samples.length}")
    val flen = samples.length / frames
    val e = new Array[Long](frames)
    var i = 0
    while (i < samples.length) {
      e(i / flen) += samples(i).toLong * samples(i)
      i += 1
    }
    var s = 0L
    var f = 0
    while (f < frames) { s += e(f); f += 1 }
    var fp = 0L
    f = 0
    while (f < frames) {
      if (e(f) * frames > s) fp |= 1L << f
      f += 1
    }
    fp
  }

  /** Deterministic PCM16 mono WAV: RIFF/WAVE with fmt + data chunks.
    * Sample t of media `id` is `((id*7 + t*13) mod 65536) - 32768`. */
  def syntheticWavPcm16(id: Long, nSamples: Int, sampleRate: Int = 16000): Array[Byte] = {
    val dataBytes = nSamples * 2
    val out = new Array[Byte](44 + dataBytes)
    "RIFF".getBytes.copyToArray(out, 0); putLe32(out, 4, 36 + dataBytes)
    "WAVE".getBytes.copyToArray(out, 8)
    "fmt ".getBytes.copyToArray(out, 12); putLe32(out, 16, 16)
    putLe16(out, 20, 1); putLe16(out, 22, 1) // PCM, mono
    putLe32(out, 24, sampleRate); putLe32(out, 28, sampleRate * 2)
    putLe16(out, 32, 2); putLe16(out, 34, 16) // block align, bits
    "data".getBytes.copyToArray(out, 36); putLe32(out, 40, dataBytes)
    var t = 0
    while (t < nSamples) {
      putLe16(out, 44 + t * 2, (((id * 7 + t.toLong * 13) % 65536) - 32768).toInt & 0xFFFF)
      t += 1
    }
    out
  }

  /** REAL PCM16 WAV parse: RIFF/WAVE magic, then a proper chunk WALK to
    * `data` (fmt validated on the way; extra chunks skipped, odd sizes
    * padded per spec). Returns signed samples.
    *
    * Chunk sizes are SIGNED 32-bit fields read from untrusted bytes: a
    * negative or buffer-exceeding size must refuse, not loop forever (a
    * size of -8 makes the naive advance zero — one hostile row would spin
    * an executor task for good) or crash on allocation. */
  def decodeWavPcm16(b: Array[Byte]): Array[Int] = {
    require(b.length >= 12 && new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "WAVE", "not a WAV")
    var o = 12
    var fmtValidated = false
    var samples: Array[Int] = null
    while (o + 8 <= b.length && samples == null) {
      val cid = new String(b, o, 4, "US-ASCII")
      val size = le32(b, o + 4)
      require(size >= 0 && o + 8 + size.toLong <= b.length,
        s"chunk '$cid' size $size exceeds buffer (${b.length} bytes, offset $o)")
      cid match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too short: $size")
          require(le16(b, o + 8) == 1, "non-PCM WAV unsupported")
          require(le16(b, o + 10) == 1, "stereo unsupported")
          require(le16(b, o + 22) == 16, "not 16-bit")
          fmtValidated = true
        case "data" =>
          // a data chunk before fmt would be decoded with the PCM/mono/16-bit
          // checks never having run — refuse instead of misreading the bytes
          require(fmtValidated, "data chunk before validated fmt chunk")
          samples = Array.tabulate(size / 2) { t =>
            val u = le16(b, o + 8 + t * 2)
            if (u >= 32768) u - 65536 else u
          }
        case _ => () // skip unknown chunk
      }
      o += 8 + size + (size & 1) // chunks pad to even length; size >= 0 ⇒ progress
    }
    require(samples != null, "no data chunk")
    samples
  }

  // ---------------------------------------------------------------------
  // Perceptual incremental dedup index — the media member of the
  // incremental family (exact `Dedup.incremental`, fuzzy
  // `Dedup.fuzzyDedupIncremental`, substring `Dedup.repeatedSpansIncremental`,
  // SimHash `Dedup.buildSimhashIndex`, cosine `Similarity.CosineLshIndex`):
  // a daily image/audio crawl must not rescan the seen corpus. Reference
  // anchor: the CDC increment loop of `scripts/test/transform.py:46-83`
  // applied to the media modality.
  //
  // A signature is an (hi, lo) pair of NON-NEGATIVE fingerprint halves —
  // [[aHash64]]'s 32+32-bit image hash lands as-is; [[energyHash16]]'s
  // 16-bit audio hash splits as (fp >> 8, fp & 0xFF). Splitting keeps bit
  // 63 out of play (the aHash sign-trap note) in BOTH engines, and each
  // half pigeonhole-chunks in two, giving 4 chunks over the full bit space:
  // any pair within hamming <= 3 shares at least one chunk — the same
  // completeness guarantee (and the same loud rejection above 3) as
  // [[Dedup.simhashPairs]].
  // ---------------------------------------------------------------------

  /** Normalized (id, hi, lo) signatures. The id contract is NUMERIC:
    * malformed strings fail the ANSI cast loudly on their own; a NULL id
    * (or a non-ANSI session's failed cast) would slip through as null,
    * match no probe, report every item fresh, and fill the persisted index
    * with null ids (silent degradation) — refuse per row instead, the
    * hiBits-require posture (one codegen branch, no extra action). */
  private def mediaSigs(hashed: DataFrame, idCol: String, hiCol: String,
                        loCol: String): DataFrame = {
    val idL = col(idCol).cast("long")
    val idChecked = when(idL.isNull, raise_error(concat(
        lit(s"mediaChunks: id column '$idCol' must be numeric and non-null, got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idL)
    hashed.select(idChecked.as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
  }

  /** Pigeonhole chunk rows of an ALREADY-normalized (id, hi, lo) frame. */
  private def sigChunks(sigs: DataFrame, hiBits: Int, loBits: Int,
                        modality: String): DataFrame = {
    require(hiBits > 0 && hiBits <= 32 && hiBits % 2 == 0 &&
      loBits > 0 && loBits <= 32 && loBits % 2 == 0,
      s"hiBits/loBits must be even and in 2..32, got $hiBits/$loBits")
    val hiMask = (1L << (hiBits / 2)) - 1L
    val loMask = (1L << (loBits / 2)) - 1L
    sigs.select(col("id"), col("hi"), col("lo"), lit(modality).as("modality"),
      posexplode(array(
        shiftrightunsigned(col("hi"), hiBits / 2),
        col("hi").bitwiseAND(lit(hiMask)),
        shiftrightunsigned(col("lo"), loBits / 2),
        col("lo").bitwiseAND(lit(loMask)))).as(Seq("chunk_idx", "chunk")))
  }

  private def mediaChunks(hashed: DataFrame, idCol: String, hiCol: String,
                          loCol: String, hiBits: Int, loBits: Int,
                          modality: String): DataFrame =
    sigChunks(mediaSigs(hashed, idCol, hiCol, loCol), hiBits, loBits, modality)

  /** The persisted perceptual-hash index of a seen media corpus: chunked
    * signatures (modality, chunk_idx, chunk, id, hi, lo) — 4 rows x ~44
    * bytes per seen item (a 10¹⁰-item corpus indexes in ~1.8 TB),
    * partitioned by (modality, chunk_idx, chunk). Build once, persist,
    * probe every crawl batch with [[mediaIncrementalPairs]], advance on
    * accepted survivors with [[advanceMediaIndex]]. `hashed` carries the
    * already-fingerprinted items (aHash64 / energyHash16 run at ingest);
    * hi/lo must be non-negative and fit hiBits/loBits. */
  def buildMediaIndex(hashed: DataFrame, idCol: String, hiCol: String,
                      loCol: String, hiBits: Int, loBits: Int,
                      modality: String): DataFrame =
    mediaChunks(hashed, idCol, hiCol, loCol, hiBits, loBits, modality)

  /** In-corpus perceptual near-dup pairs — the batch/self twin of
    * [[mediaIncrementalPairs]] (the [[Dedup.simhashPairs]] shape for
    * media): every unordered pair within `maxHamming` of each other, via
    * the same 4-chunk pigeonhole (complete for hamming <= 3, loud above).
    * Feed the pairs to [[Dedup.dupClusters]] for connected-component
    * cluster labels and a min-id survivor rule (q161).
    *
    * Scale shape: one chunk self-join — a viral chunk value (near-constant
    * images, silence-heavy audio) fans out quadratically inside its
    * bucket. Two escapes, composable: `maxBucket` caps it — chunk buckets
    * holding more than that many entries are DROPPED from candidate
    * generation (the [[Dedup.jaccardPairs]] `dfMaxFraction` posture — an
    * explicit, documented recall trade, never a silent one; a pair loses
    * candidacy only if ALL FOUR of its shared chunks are viral). And
    * `dedupExactFirst` folds exact-duplicate mass BEFORE the self-join:
    * identical (hi, lo) classes collapse to their min-id representative,
    * the chunk join runs over DISTINCT signatures only, and each class
    * re-emits as a hamming-0 STAR on its representative — a viral
    * exact-dup class of k items costs k−1 output rows and ONE join-side
    * entry instead of C(k,2) bucket fan-out. The emitted pair set is then
    * closure-EQUIVALENT, not equal: [[Dedup.dupClusters]] components (and
    * min-id survivors) are identical because every in-class pair is
    * bridged by the star and every cross-class pair by the representative
    * edge (all members share the signature, so member-level hamming ==
    * representative-level hamming). The incremental path (probe small
    * batches against the stored index) is the other at-scale escape. */
  def mediaPairs(hashed: DataFrame, idCol: String, hiCol: String,
                 loCol: String, hiBits: Int, loBits: Int,
                 maxHamming: Int = 3, maxBucket: Option[Long] = None,
                 dedupExactFirst: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk pigeonhole guarantee (<= 3); " +
        "chunk the signature finer instead")
    val sigs = mediaSigs(hashed, idCol, hiCol, loCol)
    val (joinSide, starPairs) =
      if (!dedupExactFirst) (sigs, None)
      else {
        val reps = sigs.groupBy("hi", "lo").agg(min("id").as("id"))
        val stars = sigs.join(reps.withColumnRenamed("id", "__rep"), Seq("hi", "lo"))
          .filter(col("id") =!= col("__rep"))
          .select(col("__rep").as("id_a"), col("id").as("id_b"),
            lit(0).as("hamming"))
        (reps.select("id", "hi", "lo"), Some(stars))
      }
    val chunkedAll = sigChunks(joinSide, hiBits, loBits, "self")
    val chunked = maxBucket.fold(chunkedAll) { cap =>
      val hot = chunkedAll.groupBy("chunk_idx", "chunk")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select("chunk_idx", "chunk")
      chunkedAll.join(hot, Seq("chunk_idx", "chunk"), "left_anti")
    }
    val near = chunked.as("a").join(chunked.as("b"), Seq("chunk_idx", "chunk"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
         bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    starPairs.fold(near)(near.unionByName(_))
  }

  /** Batch-vs-seen perceptual near-dup pairs WITHOUT touching seen media:
    * the batch's chunked signatures probe the persisted index on
    * (modality, chunk_idx, chunk) — complete for hamming <= 3 by the
    * 4-chunk pigeonhole. Emits (batch_id, seen_id, hamming).
    *
    * Scale shape: the batch side (4 rows/item) BROADCASTS; the index
    * streams through the join with no exchange and no per-batch re-sort —
    * per-batch cost is one index scan regardless of history size (the
    * [[Dedup.simhashIncrementalPairs]] probe direction; BENCH_INDEXSCALE
    * measures the media curve flat across 25x index growth). Seen media
    * bytes are never re-decoded — their fingerprints live in the index. */
  def mediaIncrementalPairs(batchHashed: DataFrame, seenIndex: DataFrame,
                            idCol: String, hiCol: String, loCol: String,
                            hiBits: Int, loBits: Int, modality: String,
                            maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk pigeonhole guarantee (<= 3); " +
        "chunk the signature finer instead")
    val batchChunks = mediaChunks(batchHashed, idCol, hiCol, loCol,
        hiBits, loBits, modality)
      .select(col("id").as("batch_id"), col("hi").as("__bhi"),
        col("lo").as("__blo"), col("modality"), col("chunk_idx"), col("chunk"))
    seenIndex.join(broadcast(batchChunks), Seq("modality", "chunk_idx", "chunk"))
      .select(col("batch_id"), col("id").as("seen_id"),
        (bit_count(col("__bhi").bitwiseXOR(col("hi"))) +
         bit_count(col("__blo").bitwiseXOR(col("lo")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Advance the media index: append the accepted batch survivors' chunked
    * signatures. Pure union — existing index rows are never read, so
    * chaining batches costs O(batch) per advance. */
  def advanceMediaIndex(seenIndex: DataFrame, survivorsHashed: DataFrame,
                        idCol: String, hiCol: String, loCol: String,
                        hiBits: Int, loBits: Int, modality: String): DataFrame =
    seenIndex.unionByName(buildMediaIndex(survivorsHashed, idCol, hiCol, loCol,
      hiBits, loBits, modality))

  /** foreachBatch sink: STREAMING perceptual dedup with a parquet-persisted
    * index advancing between micro-batches — the daily-crawl loop of q158
    * as a `writeStream` citizen (the [[graft.streaming.EventStream]]
    * upsert/SCD2 sink family, media member):
    *
    *   media.writeStream.foreachBatch(
    *     Multimodal.mediaDedupBatch(idxDir, repDir, "id", "hi", "lo",
    *       32, 32, "img") _).start()
    *
    * Per micro-batch: probe the stored index ([[mediaIncrementalPairs]] —
    * broadcast-probe, one index scan), land the per-item report
    * (batch_id, id, is_dup, n_matches, min_seen_id) in `reportDir`, and
    * ADVANCE the index by landing the survivors' chunk rows in
    * `indexDir` — the pure-union contract as an O(batch) parquet append;
    * the seen corpus is never rewritten.
    *
    * Delivery: replay-idempotent — both dirs are in the
    * [[graft.etl.BatchSnapshots]] append form under `batch_id`, so the
    * report and the index stay duplicate-free across failures without an
    * external ledger; the epoch-ledger DSv2 sink (`format("graft-sink")`,
    * SinkV2) remains the multi-writer/transactional upgrade path. Seed
    * external history with [[seedMediaIndex]]; compact with
    * [[compactMediaIndex]]. */
  def mediaDedupBatch(indexDir: String, reportDir: String, idCol: String,
                      hiCol: String, loCol: String, hiBits: Int, loBits: Int,
                      modality: String, maxHamming: Int = 3)
                     (batch: DataFrame, batchId: Long): Unit = {
    val idx = BatchSnapshots.allBelow(batch.sparkSession, indexDir, batchId,
      "batch_id",
      buildMediaIndex(batch.limit(0), idCol, hiCol, loCol, hiBits, loBits, modality),
      "seedMediaIndex")
    // one pass over the (bounded) batch feeds probe + report + advance:
    // cut the upstream lineage once so the three consumers don't recompute
    // the streaming source projection (the q146 rule)
    val b = batch.localCheckpoint()
    // the probe aggregate is batch-bounded and has TWO consumers (report +
    // survivor anti-join) — checkpoint it so the index scans exactly once
    val agg = mediaIncrementalPairs(b, idx, idCol, hiCol, loCol,
        hiBits, loBits, modality, maxHamming)
      .groupBy(col("batch_id").as(idCol))
      .agg(count(lit(1)).as("__nm"), min("seen_id").as("__ms"))
      .localCheckpoint()
    val report = b.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        col("__nm").isNotNull.as("is_dup"),
        coalesce(col("__nm"), lit(0L)).as("n_matches"),
        col("__ms").as("min_seen_id"))
    BatchSnapshots.land(report, reportDir, batchId, "batch_id")
    val survivors = b.join(agg.select(idCol), Seq(idCol), "left_anti")
    BatchSnapshots.land(
      buildMediaIndex(survivors, idCol, hiCol, loCol, hiBits, loBits, modality),
      indexDir, batchId, "batch_id")
  }

  /** foreachBatch sink: SAMPLE-LEVEL multimodal dedup at micro-batch
    * grain — q168's joint verdict (a sample is a duplicate if ANY of its
    * text / image / audio fingerprints matches the seen corpus) as a
    * `writeStream` citizen composing the three probe machineries over
    * three persisted state dirs:
    *
    *   - `textFpDir`  (id, fp, batch_id): exact text fingerprints (md5 —
    *     16-byte join keys, bytes never ship);
    *   - `imgIdxDir`  ([[buildMediaIndex]] layout): perceptual aHash
    *     chunks, probed at `imgMaxHamming` (default 1);
    *   - `audIdxDir`  (same layout, audio modality): energyHash16 chunks,
    *     probed EXACT by default (the q168 finding: a 1-bit tolerance on
    *     a 16-bit hash flags ~everything).
    *
    * Batches arrive PRE-FINGERPRINTED (id, textFp, imgHi/Lo, audHi/Lo) —
    * decode happens once upstream, the sink never sees media bytes (the
    * [[mediaDedupBatch]] contract extended to the sample). Per
    * micro-batch: three probes against the pre-batch state, one report
    * row per sample (batch_id, id, text_dup, img_dup, aud_dup, is_dup,
    * n_mod), and ALL THREE state dirs advance on the SAME survivor set —
    * a sample surviving means its text AND image AND audio fingerprints
    * enter their indexes together, so the three views of "seen" can never
    * drift (advancing only the matched modality would let a re-crawled
    * page with one swapped member re-enter the corpus through the stale
    * index).
    *
    * Delivery: replay-idempotent — all four dirs are in the
    * [[graft.etl.BatchSnapshots]] append form under `batch_id` (whose
    * replay discipline is also why the four-dir advance needs no
    * transaction). Seed pre-history with [[seedMediaIndex]] (img/aud) and
    * [[seedTextFpIndex]] (text); compact any of the dirs with
    * [[compactMediaIndex]]. */
  def sampleDedupBatch(textFpDir: String, imgIdxDir: String, audIdxDir: String,
                       reportDir: String, idCol: String, textFpCol: String,
                       imgHiCol: String, imgLoCol: String,
                       audHiCol: String, audLoCol: String,
                       imgHiBits: Int = 32, imgLoBits: Int = 32,
                       audHiBits: Int = 8, audLoBits: Int = 8,
                       imgMaxHamming: Int = 1, audMaxHamming: Int = 0)
                      (batch: DataFrame, batchId: Long): Unit = {
    def below(dir: String, empty: DataFrame, seedWith: String): DataFrame =
      BatchSnapshots.allBelow(batch.sparkSession, dir, batchId, "batch_id",
        empty, seedWith)
    // one lineage cut feeds three probes + report + three advances
    val b = batch.localCheckpoint()
    def mediaDupFlag(dir: String, hiCol: String, loCol: String,
                     hiBits: Int, loBits: Int, modality: String,
                     maxHamming: Int, flag: String): DataFrame = {
      val idx = below(dir, buildMediaIndex(b.limit(0), idCol, hiCol, loCol,
        hiBits, loBits, modality), "seedMediaIndex")
      mediaIncrementalPairs(b, idx, idCol, hiCol, loCol,
          hiBits, loBits, modality, maxHamming)
        .select(col("batch_id").as(idCol)).distinct()
        .withColumn(flag, lit(true))
    }
    val imgDup = mediaDupFlag(imgIdxDir, imgHiCol, imgLoCol,
      imgHiBits, imgLoBits, "img", imgMaxHamming, "__img")
    val audDup = mediaDupFlag(audIdxDir, audHiCol, audLoCol,
      audHiBits, audLoBits, "wav", audMaxHamming, "__aud")
    val seenFp = below(textFpDir, b.select(col(textFpCol).as("fp")).limit(0),
        "seedTextFpIndex")
      .select(col("fp").as("__fp")).distinct()
    val txtDup = b.select(col(idCol), col(textFpCol).as("__fp"))
      .join(seenFp, "__fp")
      .select(idCol).distinct().withColumn("__txt", lit(true))
    // batch-bounded, consumed by the report write AND the survivor joins
    val report = b.select(col(idCol))
      .join(txtDup, Seq(idCol), "left")
      .join(imgDup, Seq(idCol), "left")
      .join(audDup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__txt"), lit(false)).as("text_dup"),
        coalesce(col("__img"), lit(false)).as("img_dup"),
        coalesce(col("__aud"), lit(false)).as("aud_dup"))
      .withColumn("is_dup", col("text_dup") || col("img_dup") || col("aud_dup"))
      .withColumn("n_mod", col("text_dup").cast("long") +
        col("img_dup").cast("long") + col("aud_dup").cast("long"))
      .localCheckpoint()
    def put(df: DataFrame, dir: String): Unit =
      BatchSnapshots.land(df, dir, batchId, "batch_id")
    put(report, reportDir)
    val survivors = b.join(
      report.filter(!col("is_dup")).select(idCol), Seq(idCol), "left_semi")
    put(survivors.select(col(idCol), col(textFpCol).as("fp")), textFpDir)
    put(buildMediaIndex(survivors, idCol, imgHiCol, imgLoCol,
      imgHiBits, imgLoBits, "img"), imgIdxDir)
    put(buildMediaIndex(survivors, idCol, audHiCol, audLoCol,
      audHiBits, audLoBits, "wav"), audIdxDir)
  }

  /** Seed a [[sampleDedupBatch]] text-fingerprint dir from external
    * history: (id, fp) rows land as the [[graft.etl.BatchSnapshots]] seed
    * partition `batch_id=-1`. */
  def seedTextFpIndex(seen: DataFrame, dir: String, idCol: String,
                      fpCol: String): Unit =
    BatchSnapshots.seed(seen.select(col(idCol), col(fpCol).as("fp")), dir,
      "batch_id")

  /** Seed a [[mediaDedupBatch]] index directory from an externally built
    * index frame ([[buildMediaIndex]] output — e.g. the one-time backfill
    * over the historical corpus) as the [[graft.etl.BatchSnapshots]] seed
    * partition `batch_id=-1`. */
  def seedMediaIndex(index: DataFrame, indexDir: String): Unit =
    BatchSnapshots.seed(index, indexDir, "batch_id")

  /** Fold the per-batch partitions of a [[mediaDedupBatch]] index that lie
    * STRICTLY BELOW the replay barrier `upToBatchId` into the
    * `batch_id=-1` seed partition
    * ([[graft.etl.BatchSnapshots.compactBatchPartitions]]). A streaming
    * index accretes one small partition per micro-batch; scan cost grows
    * with file count, not rows, until this folds them. */
  def compactMediaIndex(spark: SparkSession, indexDir: String,
                        upToBatchId: Long): Unit =
    BatchSnapshots.compactBatchPartitions(spark, indexDir, upToBatchId)

  /** Fixture builder: wrap a text column as binary "media" (UTF-8) so the
    * plumbing is exercisable on the documents table. */
  def fromText(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        lit("text/plain").as("mime"),
        encode(col(textCol), "UTF-8").as("media"))
      .as[MediaRow]
  }
}
