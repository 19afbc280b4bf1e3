package graft.llm

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Shard, Tables}

/** Opaque media payload + typed metadata. */
case class MediaRecord(media_id: Long, payload: Array[Byte], mime: String,
                       source: String, n_bytes: Long)

/** Output of the (stubbed) decode/feature-extract stage. */
case class MediaFeatures(media_id: Long, n_bytes: Long, content_md5: String,
                         feature: Array[Double])

/** Output of the REAL image-decode stage: dimensions + per-channel means. */
case class ImageFeatures(media_id: Long, n_bytes: Long, width: Int, height: Int,
                         mean_r: Double, mean_g: Double, mean_b: Double)

/** Output of the REAL audio-decode stage: PCM stats off the WAV payload. */
case class AudioFeatures(media_id: Long, n_bytes: Long, sample_rate: Int,
                         n_samples: Int, duration_ms: Double, rms: Double)

/** Output of the video frame-sampling stage: container stats + per-sampled-
  * frame pixel means (decoded through the real image path). */
case class VideoFeatures(media_id: Long, n_bytes: Long, n_frames: Int,
                         n_sampled: Int, width: Int, height: Int,
                         mean_luma: Double)

/** Multimodal-column plumbing for a training-data pipeline: media
  * (image/audio/video) travels as an opaque `binary` column with typed
  * metadata, and decode/feature-extraction runs as a batched per-partition
  * stage (the Scala analogue of `mapInPandas`: an iterator-to-iterator
  * transform that amortizes per-batch setup — model load, decoder init —
  * across rows and never materializes a partition in memory).
  *
  * Two decode paths prove the contract from both ends:
  *  - [[extractImageFeatures]] is a REAL decoder: `javax.imageio` (in the
  *    JDK — no external deps) decodes PNG/JPEG payload bytes to pixels and
  *    emits width/height/per-channel means; undecodable payloads are
  *    dropped, PERMISSIVE-style. Exercised on real encoded PNGs in
  *    MultimodalSpec.
  *  - [[extractFeatures]] keeps `decodeStub` (md5-derived pseudo-features)
  *    as the ORACLE-CHECKABLE variant: DuckDB cannot decode images, but it
  *    can reproduce md5 arithmetic, so q37 hash-verifies the full
  *    plumbing. Swapping the stub for a JNI/ONNX embed call is the same
  *    one-function change `extractImageFeatures` demonstrates.
  *
  * Payloads here are built from `documents.text` bytes (the corpus ships no
  * true binary column), which also makes the whole flow oracle-checkable:
  * DuckDB reproduces octet_length + md5 + the md5-derived stub features.
  */
object Multimodal {

  val BatchSize = 64

  /** Documents as media records: UTF-8 payload bytes + typed metadata. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("text/plain").as("mime"),
      col("source"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** STUB decoder — stands in for image decode / resample / embed. Derives
    * 4 doubles from the content md5 so results are deterministic and
    * engine-reproducible. Replace with the real codec at deployment. */
  def decodeStub(payload: Array[Byte]): (String, Array[Double]) = {
    val hex = md5hex(payload)
    val feat = (0 until 4).map { j =>
      Integer.parseInt(hex.substring(j * 2, j * 2 + 2), 16) / 255.0
    }.toArray
    (hex, feat)
  }

  /** Batched per-partition feature extraction. `grouped(BatchSize)` gives
    * the mapInPandas batch shape: per-batch setup cost is paid once per
    * [[BatchSize]] records, and the outer iterator stays lazy so Spark's
    * memory manager sees one batch at a time. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    // Resource audit (round-7): all four extract* blocks hold only JVM
    // heap objects (ImageIO buffers, ByteBuffers), so nothing here needs
    // explicit release. A deployment codec holding NATIVE memory must
    // register graft.core.Resources.closeOnExhaust exactly as
    // TextStats.compressionQuality does for its Deflater.
    media.mapPartitions { records =>
      records.grouped(BatchSize).flatMap { batch =>
        // per-batch decoder/model initialization would go here
        batch.map { r =>
          val (hex, feat) = decodeStub(r.payload)
          MediaFeatures(r.media_id, r.n_bytes, hex, feat)
        }
      }
    }
  }

  /** REAL image decode — not a stub. `javax.imageio` ships in the JDK, so
    * PNG/JPEG/BMP/GIF payloads decode to pixels with zero external deps.
    * Returns None for undecodable payloads (wrong mime, truncated bytes) —
    * the pipeline DROPS them instead of failing the partition, the same
    * tolerance contract as the PERMISSIVE NDJSON scan. */
  def decodeImage(payload: Array[Byte]): Option[ImageFeatures] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Throwable => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      Some(ImageFeatures(0L, payload.length.toLong, w, h,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
    }
  }

  /** Batched per-partition IMAGE decode — the same iterator-to-iterator
    * contract as [[extractFeatures]], but through the real JDK codec:
    * per-batch decoder setup amortized across [[BatchSize]] records, lazy
    * outer iterator, undecodable payloads dropped. This is the "swap the
    * stub for a real codec" path the round-3 review asked to prove. */
  def extractImageFeatures(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      records.grouped(BatchSize).flatMap { batch =>
        // per-batch decoder/model initialization would go here
        batch.flatMap { r =>
          decodeImage(r.payload)
            .map(f => f.copy(media_id = r.media_id, n_bytes = r.n_bytes))
        }
      }
    }
  }

  /** REAL audio decode — a RIFF/WAVE PCM16 parser in plain JVM code (no
    * codec deps at all): walks the chunk list little-endian, reads the
    * fmt block, and computes sample count, duration, and RMS amplitude
    * over the data block. Same tolerance contract as [[decodeImage]]:
    * anything that is not mono 16-bit PCM WAV returns None and is
    * dropped, never failing the partition. */
  def decodeWav(payload: Array[Byte]): Option[AudioFeatures] =
    try {
      if (payload.length < 44 ||
        new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
        new String(payload, 8, 4, "US-ASCII") != "WAVE") None
      else {
        val bb = java.nio.ByteBuffer.wrap(payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var pos = 12
        var sampleRate = 0
        var bitsPerSample = 0
        var channels = 0
        var dataOff = -1
        var dataLen = 0
        while (pos + 8 <= payload.length) {
          val id = new String(payload, pos, 4, "US-ASCII")
          val sz = bb.getInt(pos + 4)
          if (id == "fmt ") {
            channels = bb.getShort(pos + 10)
            sampleRate = bb.getInt(pos + 12)
            bitsPerSample = bb.getShort(pos + 22)
          } else if (id == "data") { dataOff = pos + 8; dataLen = sz }
          pos += 8 + sz + (sz & 1) // chunks are word-aligned
        }
        if (sampleRate <= 0 || dataOff < 0 || bitsPerSample != 16 || channels != 1) None
        else {
          val n = math.min(dataLen, payload.length - dataOff) / 2
          var sum2 = 0.0
          var i = 0
          while (i < n) {
            val s = bb.getShort(dataOff + 2 * i).toDouble
            sum2 += s * s
            i += 1
          }
          Some(AudioFeatures(0L, payload.length.toLong, sampleRate, n,
            n * 1000.0 / sampleRate, math.sqrt(sum2 / math.max(1, n))))
        }
      }
    } catch { case _: Throwable => None }

  /** Batched per-partition AUDIO decode — third modality through the same
    * iterator-to-iterator contract ([[extractFeatures]] stub,
    * [[extractImageFeatures]] PNG, this WAV). */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      records.grouped(BatchSize).flatMap { batch =>
        // per-batch decoder/model initialization would go here
        batch.flatMap { r =>
          decodeWav(r.payload)
            .map(f => f.copy(media_id = r.media_id, n_bytes = r.n_bytes))
        }
      }
    }
  }

  // ------------------------------------------------------------- video

  /** Magic for the fixture's frame container: real video codecs are not in
    * this container image, so frames travel in a minimal length-prefixed
    * envelope (magic, frame count, then [4-byte big-endian length][PNG
    * bytes] per frame). The ENVELOPE is the stand-in; the frames are real
    * encoded images and the per-frame decode is the real JDK codec — at
    * deployment the envelope parser swaps for an mp4 demuxer and nothing
    * else changes. */
  val VideoMagic = "GFV1"
  /** Sample every k-th frame — the standard "1 fps keyframe" shape: a
    * frame-sampling pipeline never decodes what it will not use. */
  val FrameSampleEvery = 3

  /** Build a frame container from encoded frames (test/fixture helper). */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(VideoMagic.getBytes("US-ASCII"))
    val bb = java.nio.ByteBuffer.allocate(4)
    out.write(bb.putInt(0, frames.size).array().clone())
    frames.foreach { f =>
      out.write(java.nio.ByteBuffer.allocate(4).putInt(0, f.length).array().clone())
      out.write(f)
    }
    out.toByteArray
  }

  /** REAL frame-sample + decode: walk the container, decode ONLY every
    * [[FrameSampleEvery]]-th frame through [[decodeImage]], and aggregate
    * dimensions + mean luma over the sampled frames. Undecodable frames
    * and malformed containers are dropped (PERMISSIVE contract). Skipped
    * frames are never decoded — the whole point of sampling at scale. */
  def decodeVideo(payload: Array[Byte], every: Int = FrameSampleEvery): Option[VideoFeatures] =
    try {
      if (payload.length < 8 ||
        new String(payload, 0, 4, "US-ASCII") != VideoMagic) None
      else {
        val bb = java.nio.ByteBuffer.wrap(payload)
        val nFrames = bb.getInt(4)
        var pos = 8
        var idx = 0
        var sampled = 0
        var (w, h) = (0, 0)
        var lumaSum = 0.0
        while (pos + 4 <= payload.length && idx < nFrames) {
          val len = bb.getInt(pos)
          pos += 4
          if (len < 0 || pos + len > payload.length) return None
          if (idx % every == 0) {
            val frame = java.util.Arrays.copyOfRange(payload, pos, pos + len)
            decodeImage(frame).foreach { f =>
              sampled += 1
              w = math.max(w, f.width); h = math.max(h, f.height)
              // ITU-R BT.601 luma from the channel means
              lumaSum += 0.299 * f.mean_r + 0.587 * f.mean_g + 0.114 * f.mean_b
            }
          }
          pos += len
          idx += 1
        }
        if (sampled == 0) None
        else Some(VideoFeatures(0L, payload.length.toLong, nFrames, sampled,
          w, h, lumaSum / sampled))
      }
    } catch { case _: Throwable => None }

  /** Batched per-partition VIDEO frame-sampling — fourth modality through
    * the same iterator-to-iterator contract. */
  def extractVideoFeatures(media: Dataset[MediaRecord]): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      records.grouped(BatchSize).flatMap { batch =>
        // per-batch demuxer/decoder initialization would go here
        batch.flatMap { r =>
          decodeVideo(r.payload)
            .map(f => f.copy(media_id = r.media_id, n_bytes = r.n_bytes))
        }
      }
    }
  }

  /** End-to-end: documents → media records → batched feature extraction.
    * The feature vector is flattened to scalar columns in the final
    * projection (array columns stay internal; the driver's hash compare
    * wants scalars). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    extractFeatures(mediaFromDocuments(spark, Tables.documents(spark, dir)))
      .toDF()
      .select(
        col("media_id"), col("n_bytes"), col("content_md5"),
        col("feature")(0).as("f0"), col("feature")(1).as("f1"),
        col("feature")(2).as("f2"), col("feature")(3).as("f3"))
      .orderBy(col("media_id").asc)
  }

  /** Average-hash (aHash) of a REAL decoded image: downscale to an 8×8
    * grid of mean luminances (integer block sums — no resampling
    * filter, so the hash is bit-deterministic across JVMs), threshold
    * each cell against the global mean, and pack the 64 bits as two
    * 32-bit halves (lo = cells 0–31 row-major, hi = 32–63). Two-int
    * packing keeps every shift < 63, which matters once the same hash
    * is re-derived in SQL engines whose `<<` overflow-checks the sign
    * bit. This is the classic perceptual near-dup fingerprint: small
    * pixel noise moves few cells across the mean, so near-dup frames
    * land within a small Hamming radius. */
  def aHashImage(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val gx = (x.toLong * 8 / w).toInt
        val rgb = img.getRGB(x, y)
        // integer ITU-R 601 luma (×1000) — deterministic, no floats
        val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        val cell = gy * 8 + gx
        sums(cell) += lum; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    // threshold: cell mean > global mean, in exact cross-multiplied
    // integer form (sums(c) * total_n > total_sum * counts(c))
    val totalSum = sums.sum
    val totalN = counts.sum
    var lo = 0L; var hi = 0L
    var c = 0
    while (c < 64) {
      if (counts(c) > 0 && sums(c) * totalN > totalSum * counts(c)) {
        if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
      }
      c += 1
    }
    (lo, hi)
  }

  /** q204: perceptual-hash near-dup census — the aHash pipeline shape
    * (block-average → threshold → 64-bit fingerprint → banded Hamming
    * join → exact verify) run end-to-end on the driver tables. The
    * raster here is a TEXT raster (64 cells of 4 consecutive character
    * code points each, over docs ≥ 256 chars), because the shared
    * testdata carries no real image payloads — the real-codec path is
    * [[aHashImage]], identical math over pixel luma, spec-tested on PNG
    * fixtures; swapping it in changes ONE projection. Everything
    * downstream of the hash is the production shape.
    *
    * Scale shape: hashing is row-local (nested higher-order functions,
    * no explode of the corpus). Candidate generation is the 4-band
    * pigeonhole equi-join on 16-bit band values — with Hamming radius
    * ≤ 3 and 4 bands, one band is ALWAYS untouched, so banding finds
    * every pair within radius whose shared bucket is under
    * [[Shard.Cap]] (the q28 SimHash contract, bounded by the
    * [[Shard.capped]] split; SCALE_GROWTH.json tracks the
    * measured candidate count against the 4·|docs|·(cap−1)/2 bound). A
    * raster-identical mega-cluster split across subshards is still
    * caught by exact dedup (q26). No all-pairs comparison anywhere. */
  /** The text-raster aHash frame: (doc_id, h_lo, h_hi) for docs ≥ 256
    * chars. Row-local nested higher-order functions — no corpus
    * explode; the 64 cells and both packed halves are computed inside
    * one projection.
    *
    * The `transform(array(x), v -> body)[0]` wrappers are LET BINDINGS:
    * without them, CollapseProject inlines the 64-cell array expression
    * into every one of the 64 `element_at` references downstream (and
    * `total` — itself a fold over cells — into every threshold test),
    * re-evaluating the whole raster ~65× per row. Binding cells and
    * total to lambda variables evaluates each exactly once (measured:
    * 30× faster at sf0.001). */
  private[graft] def perceptualHashes(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 256)
      .select(col("doc_id"), expr(
        """transform(
          |  array(transform(sequence(0, 63), i ->
          |    aggregate(sequence(1, 4), CAST(0 AS BIGINT), (acc, j) ->
          |      acc + ascii(substring(text, i * 4 + j, 1))))),
          |  cells -> transform(
          |    array(aggregate(cells, CAST(0 AS BIGINT), (acc, x) -> acc + x)),
          |    total -> named_struct(
          |      'h_lo',
          |      aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) ->
          |        acc + IF(element_at(cells, i + 1) * 64 > total,
          |                 shiftleft(CAST(1 AS BIGINT), i),
          |                 CAST(0 AS BIGINT))),
          |      'h_hi',
          |      aggregate(sequence(32, 63), CAST(0 AS BIGINT), (acc, i) ->
          |        acc + IF(element_at(cells, i + 1) * 64 > total,
          |                 shiftleft(CAST(1 AS BIGINT), i - 32),
          |                 CAST(0 AS BIGINT)))))[0]
          |)[0]""".stripMargin).as("h"))
      .select(col("doc_id"), col("h.h_lo").as("h_lo"), col("h.h_hi").as("h_hi"))

  /** The banded, subshard-capped hash stream of the q204 join:
    * (doc_id, h_lo, h_hi, b, bv, subshard). */
  private[graft] def phashBands(docs: DataFrame): DataFrame = {
    // the 17-byte/doc hash frame feeds the bucket census and both join
    // sides — scratch-persist so the raster pass over the corpus runs
    // once
    val hashed = graft.core.Caches.scratch(perceptualHashes(docs))
    val raw = hashed.select(col("doc_id"), col("h_lo"), col("h_hi"),
        explode(expr(
          """array(
            |  struct(0 AS b, h_lo & 65535 AS bv),
            |  struct(1 AS b, shiftright(h_lo, 16) & 65535 AS bv),
            |  struct(2 AS b, h_hi & 65535 AS bv),
            |  struct(3 AS b, shiftright(h_hi, 16) & 65535 AS bv))"""
            .stripMargin)).as("band"))
      .select(col("doc_id"), col("h_lo"), col("h_hi"),
        col("band.b").as("b"), col("band.bv").as("bv"))
    graft.core.Caches.scratch(Shard.capped(raw, Seq("b", "bv"))
      .select(col("doc_id"), col("h_lo"), col("h_hi"),
        col("b"), col("bv"), col("subshard")))
  }

  def perceptualHashDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = phashBands(docs)
    banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.subshard") === col("b.subshard") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h_lo").as("lo_a"), col("a.h_hi").as("hi_a"),
        col("b.h_lo").as("lo_b"), col("b.h_hi").as("hi_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        (expr("bit_count(lo_a ^ lo_b)") + expr("bit_count(hi_a ^ hi_b)"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }
}
