package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.core.Tables
import graft.llm.TextDedup

/** Streaming banded-minhash near-dup rejection: per-row bands are
  * bit-identical to the batch q27 index, the streamed one-sided verdicts
  * reproduce q76's incremental dedup exactly, band-bucket state survives
  * a checkpoint restart, reruns are exactly-once, and the bucket cap
  * bounds state deterministically. */
class StreamNearDedupSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("matched_id", LongType)))

  private def docStream(dir: String) =
    spark.readStream.schema(inSchema).json(dir)

  private def writeJson(dir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    Files.write(Paths.get(dir, name),
      df.toJSON.collect().mkString("\n").getBytes)

  private def writeDocs(dir: String, name: String, docs: (Long, String)*): Unit =
    Files.write(Paths.get(dir, name), docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n").getBytes)

  private def sinkPairs(out: String): Seq[(Long, Long)] =
    spark.read.schema(outSchema).parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("per-row bands are bit-identical to the batch minhash band index") {
    val docs = Tables.documents(spark, sf)
    val batch = TextDedup.minhashBands(TextDedup.minhashSignatures(docs))
      .select(col("doc_id"), col("band"), col("bkey"))
    val perRow = TextDedup.perDocBands(docs)
      .select(col("doc_id"), col("band"), col("bkey"))
    assert(perRow.exceptAll(batch).count() === 0,
      "per-row banding produced keys the batch index lacks")
    assert(batch.exceptAll(perRow).count() === 0,
      "per-row banding missed keys the batch index has")
  }

  test("streamed verdicts ≡ q76 one-sided incremental dedup; restart + exactly-once") {
    withRocksDB {
      val in = tmpDir("sndd-in-")
      val out = tmpDir("sndd-out-")
      val ckpt = tmpDir("sndd-ckpt-")
      val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val existing = corpus.filter(col("doc_id") % 5 =!= 0)
      val incoming = corpus.filter(col("doc_id") % 5 === 0)
      def runOnce(): Unit = {
        val q = StreamNearDedup.candidates(spark, docStream(in))
          .toDF().writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
        q.awaitTermination()
      }
      // batch 1: the existing corpus builds the band index. One-sided
      // discipline: empty prior state → zero candidates emitted.
      writeJson(in, "b1.json", existing)
      runOnce()
      assert(sinkPairs(out).isEmpty,
        "existing-corpus backfill must not pair against itself")
      // batch 2 (FRESH query, same checkpoint): only the restored RocksDB
      // band index can produce incoming-vs-existing collisions.
      writeJson(in, "b2.json", incoming)
      runOnce()
      val afterB2 = sinkPairs(out)
      assert(afterB2.nonEmpty, "no collisions — the fixture plants near-dups")
      // exactly-once: a rerun with no new input appends nothing
      runOnce()
      assert(sinkPairs(out) === afterB2, "rerun without input re-emitted rows")
      // every streamed pair is incoming-vs-existing, never in-vs-in
      assert(afterB2.forall { case (d, m) => d % 5 == 0 && m % 5 != 0 },
        "a candidate pair violates the one-sided discipline")
      // full q76 parity: verify streamed candidates with the shared exact
      // Jaccard law — identical (doc_id, n_matches, is_new) relation
      val got = StreamNearDedup.verdicts(
          spark.read.schema(outSchema).parquet(out), corpus, incoming)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val want = TextDedup.incrementalDedup(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      graft.core.Caches.releaseScratch(spark)
      assert(got === want, "streamed verdicts diverge from q76")
    }
  }

  test("bucket cap bounds state: overflow arrivals match but are not indexed") {
    withRocksDB {
      val in = tmpDir("sndd-cap-in-")
      val out = tmpDir("sndd-cap-out-")
      val ckpt = tmpDir("sndd-cap-ckpt-")
      def runOnce(): Unit = {
        val q = StreamNearDedup.candidates(spark, docStream(in), bucketCap = 1)
          .toDF().writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
        q.awaitTermination()
      }
      val text = "one two three four five"
      // batch 1: docs 1,2 share every bucket; cap=1 indexes only doc 1
      // (deterministic: arrivals are sorted). Same-batch → no pairs.
      writeDocs(in, "b1.json", 1L -> text, 2L -> text)
      runOnce()
      assert(sinkPairs(out).isEmpty)
      // batch 2: doc 3 collides with the indexed doc 1 ONLY — doc 2 was
      // never admitted past the cap
      writeDocs(in, "b2.json", 3L -> text)
      runOnce()
      assert(sinkPairs(out).distinct === Seq((3L, 1L)),
        "cap-overflow doc leaked into the band index")
    }
  }
}
