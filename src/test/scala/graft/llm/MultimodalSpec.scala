package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.{Shard, Tables}

class MultimodalSpec extends SparkSpecBase {

  test("media pipeline: typed records, stub features match the md5 contract") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.mediaFromDocuments(spark, docs)
    assert(media.count() === docs.count())

    val out = Multimodal.mediaFeatures(spark, sf).cache()
    // features are normalized byte values
    for (f <- Seq("f0", "f1", "f2", "f3"))
      assert(out.filter(col(f) < 0 || col(f) > 1).count() === 0)
    // stub md5 agrees with Spark's builtin md5 over the same payload
    val viaSql = docs.select(col("doc_id").as("media_id"),
      md5(encode(col("text"), "UTF-8")).as("sql_md5"))
    val joined = out.join(viaSql, "media_id")
      .filter(col("content_md5") =!= col("sql_md5"))
    assert(joined.count() === 0)
  }

  /** A w×h PNG whose every pixel is (r,g,b) — real bytes through a real
    * encoder, so the decode path is exercised end-to-end. */
  private def pngBytes(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("image decode: real PNG bytes through the batched mapPartitions contract") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, pngBytes(8, 4, 255, 0, 0), "image/png", "srcA", 0L),
      MediaRecord(2L, pngBytes(3, 5, 10, 20, 30), "image/png", "srcA", 0L),
      MediaRecord(3L, "not an image".getBytes("UTF-8"), "text/plain", "srcA", 12L))
      .map(r => r.copy(n_bytes = r.payload.length.toLong))
    val media = spark.createDataset(recs).repartition(2)
    val out = Multimodal.extractImageFeatures(media)
      .collect().map(f => f.media_id -> f).toMap

    assert(out.keySet === Set(1L, 2L), "undecodable payload must be dropped")
    val red = out(1L)
    assert((red.width, red.height) === (8, 4))
    assert((red.mean_r, red.mean_g, red.mean_b) === (255.0, 0.0, 0.0))
    val dim = out(2L)
    assert((dim.width, dim.height) === (3, 5))
    assert((dim.mean_r, dim.mean_g, dim.mean_b) === (10.0, 20.0, 30.0))
    assert(red.n_bytes === recs.head.n_bytes)
  }

  test("image decode over many records exercises multiple batches") {
    import spark.implicits._
    // > BatchSize records so grouped() emits several batches per partition
    val n = Multimodal.BatchSize * 2 + 7
    val recs = (1 to n).map { i =>
      MediaRecord(i.toLong, pngBytes(2, 2, i % 256, 0, 0), "image/png", "srcB", 0L)
    }
    val out = Multimodal.extractImageFeatures(
      spark.createDataset(recs).repartition(3))
    assert(out.count() === n.toLong)
    assert(out.filter(f => f.width == 2 && f.height == 2).count() === n.toLong)
  }

  /** Mono 16-bit PCM WAV: a square wave of the given amplitude (RMS of a
    * square wave IS the amplitude — exact, no trig tolerance games). */
  private def wavBytes(sampleRate: Int, nSamples: Int, amplitude: Short): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until nSamples).foreach { i =>
      bb.putShort(if (i % 2 == 0) amplitude else (-amplitude).toShort)
    }
    bb.array()
  }

  test("audio decode: real WAV bytes, exact rate/duration/rms; junk dropped") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, wavBytes(8000, 4000, 1000), "audio/wav", "srcA", 0L),
      MediaRecord(2L, wavBytes(16000, 800, 500), "audio/wav", "srcA", 0L),
      MediaRecord(3L, "not audio at all".getBytes("UTF-8"), "text/plain", "srcA", 0L))
    val out = Multimodal.extractAudioFeatures(spark.createDataset(recs))
      .collect().map(f => f.media_id -> f).toMap
    assert(out.keySet === Set(1L, 2L), "junk payload must be dropped")
    assert(out(1L).sample_rate === 8000 && out(1L).n_samples === 4000)
    assert(out(1L).duration_ms === 500.0)
    assert(out(1L).rms === 1000.0) // square wave: rms == amplitude, exactly
    assert(out(2L).duration_ms === 50.0 && out(2L).rms === 500.0)
  }

  test("video frame-sample: every 3rd frame decoded, luma exact; junk dropped") {
    import spark.implicits._
    // 7 frames; sampled indices 0,3,6 → grayscale values 0, 90, 180.
    // luma of gray(v) is v exactly (0.299+0.587+0.114 = 1).
    val frames = (0 until 7).map(i => pngBytes(4, 4, i * 30, i * 30, i * 30))
    val recs = Seq(
      MediaRecord(1L, Multimodal.packFrames(frames), "video/x-graft", "srcA", 0L),
      MediaRecord(2L, "not a container".getBytes("UTF-8"), "text/plain", "srcA", 0L),
      // container whose frames are junk → no sampled frame decodes → dropped
      MediaRecord(3L, Multimodal.packFrames(
        Seq("junk".getBytes("UTF-8"))), "video/x-graft", "srcA", 0L))
      .map(r => r.copy(n_bytes = r.payload.length.toLong))
    val out = Multimodal.extractVideoFeatures(spark.createDataset(recs))
      .collect().map(f => f.media_id -> f).toMap
    assert(out.keySet === Set(1L), "junk containers/frames must be dropped")
    val v = out(1L)
    assert(v.n_frames === 7 && v.n_sampled === 3)
    assert((v.width, v.height) === (4, 4))
    // gray(v) luma is v up to coefficient rounding (0.299+0.587+0.114=1)
    assert(math.abs(v.mean_luma - 90.0) < 1e-9)
  }

  test("video sampling never decodes skipped frames") {
    // frame 1 (skipped index) is corrupt; sampling must still succeed,
    // which proves the skipped frame was never handed to the codec
    val good = pngBytes(2, 2, 100, 100, 100)
    val payload = Multimodal.packFrames(
      Seq(good, "corrupt-frame-bytes".getBytes("UTF-8"), good, good))
    val out = Multimodal.decodeVideo(payload)
    assert(out.isDefined)
    assert(out.get.n_frames === 4 && out.get.n_sampled === 2) // indices 0, 3
  }

  test("aHash of a real image: half-split pattern is exact, inversion mirrors it") {
    // 16×16, left half dark (40), right half bright (220): in the 8×8
    // grid, cells with gx >= 4 sit above the global mean → each row
    // byte is 0xF0, packed rows 0–3 into lo and 4–7 into hi
    def half(dark: Int, bright: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = if (x < 8) dark else bright
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val (lo, hi) = Multimodal.aHashImage(half(40, 220))
    assert(lo === 0xF0F0F0F0L && hi === 0xF0F0F0F0L)
    val (lo2, hi2) = Multimodal.aHashImage(half(220, 40))
    assert(lo2 === 0x0F0F0F0FL && hi2 === 0x0F0F0F0FL)
    // Hamming distance between the two is all 64 bits
    assert(java.lang.Long.bitCount(lo ^ lo2) +
      java.lang.Long.bitCount(hi ^ hi2) === 64)
  }

  test("perceptual-hash dups: banding finds exactly the brute-force pairs in radius") {
    val docs = Tables.documents(spark, sf)
    val hashes = Multimodal.perceptualHashes(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hashes.nonEmpty)
    // completeness precondition: no band bucket over the subshard cap
    // (holds on the fixture corpus — every bucket here is single-digit)
    val maxBucket = (for (b <- 0 until 4) yield {
      hashes.groupBy { h =>
        val half = if (b < 2) h._2 else h._3
        (half >> (16 * (b % 2))) & 65535
      }.values.map(_.size).max
    }).max
    assert(maxBucket <= Shard.Cap,
      "fixture corpus saturated a bucket; equality claim no longer applies")
    val brute = (for {
      a <- hashes; b <- hashes if a._1 < b._1
      hd = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if hd <= 3
    } yield (a._1, b._1, hd)).toSet
    val out = Multimodal.perceptualHashDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ≤ 3 bit flips across 4 bands always leave one band intact, so with
    // every bucket under the cap the banded join is COMPLETE within the
    // radius — set equality, not ⊆
    assert(out === brute)
  }

  test("perceptual-hash dups: oversized buckets are subshard-capped, output stays subset") {
    import spark.implicits._
    // 200 identical rasters: one bucket of 200 per band — nsub = 4, so
    // candidates collapse from 200·199/2 per band to ≤ the cap bound
    val text = Seq.fill(64)("abcd").mkString("")
    val docs = (1L to 200L).map(i => (i, text)).toDF("doc_id", "text")
    val bands = Multimodal.phashBands(docs)
    val maxShard = bands.groupBy("b", "bv", "subshard").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    // hash-mod sharding is uneven but each shard must stay well under
    // the un-capped bucket size; the PAIR bound is what matters
    val pairBound = 200L * 4 * (Shard.Cap - 1) / 2
    val candPairs = bands.groupBy("b", "bv", "subshard").count()
      .agg(org.apache.spark.sql.functions
        .sum(org.apache.spark.sql.functions.expr("count * (count - 1) div 2")))
      .head().getLong(0)
    assert(candPairs <= pairBound,
      s"candidate pairs $candPairs exceed the linear bound $pairBound")
    assert(maxShard < 200L, "subsharding did not split the oversized bucket")
    // and the reported dups are still a subset of true near-dups (all
    // identical here, hamming 0)
    val out = Multimodal.perceptualHashDups(docs).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getInt(2) === 0))
    graft.core.Caches.releaseScratch(spark)
  }
}
