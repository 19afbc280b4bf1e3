package graft.streaming

import java.nio.file.{Files, Paths}
import java.time.Duration

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** transformWithState streaming dedup: first-arrival-wins per content
  * hash, deterministic min-doc_id survivor within a batch, state restored
  * across checkpoint restarts, and TTL-bounded state (post-window
  * duplicates re-admit). RocksDB provider is required by the API and is
  * what a 100 TB deployment runs anyway. Sink is a parquet file sink —
  * the only append sink that supports checkpoint recovery, and the
  * production shape for dedup-at-ingest. */
class StreamDedupSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("content_hash", StringType)))

  private def docStream(dir: String) =
    spark.readStream.schema(inSchema).json(dir)

  private def writeDocs(dir: String, name: String, docs: (Long, String)*): Unit =
    Files.write(Paths.get(dir, name), docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n").getBytes)

  private def survivors(out: String): Seq[Long] =
    spark.read.schema(outSchema).parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("dedups within and across micro-batches; survivor is min doc_id; state survives restart") {
    withRocksDB {
      val in = tmpDir("sdedup-in-")
      val out = tmpDir("sdedup-out-")
      val ckpt = tmpDir("sdedup-ckpt-")
      def runOnce(): Unit = {
        val q = StreamDedup.novelDocs(spark, docStream(in))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
        q.awaitTermination()
      }
      // batch 1: docs 2,3 share text (survivor must be 2); 1 is unique
      writeDocs(in, "b1.json", 1L -> "alpha", 3L -> "beta", 2L -> "beta")
      runOnce()
      assert(survivors(out) === Seq(1L, 2L))
      // batch 2 (fresh query, same checkpoint): 4 duplicates batch 1's
      // "alpha" — only the restored RocksDB state can know that; 5 novel
      writeDocs(in, "b2.json", 4L -> "alpha", 5L -> "gamma")
      runOnce()
      assert(survivors(out) === Seq(1L, 2L, 5L))
    }
  }

  test("streamed survivors match the batch exact-dedup twin") {
    withRocksDB {
      val in = tmpDir("sdedup-twin-in-")
      val out = tmpDir("sdedup-twin-out-")
      val ckpt = tmpDir("sdedup-twin-ckpt-")
      val docs = Seq(10L -> "x", 11L -> "y", 12L -> "x", 13L -> "z",
        14L -> "y", 15L -> "x")
      writeDocs(in, "all.json", docs: _*)
      val q = StreamDedup.novelDocs(spark, docStream(in))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
      q.awaitTermination()
      import spark.implicits._
      val batch = docs.toDF("doc_id", "text")
        .groupBy(sha2(col("text"), 256)).agg(min("doc_id").as("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(survivors(out) === batch.toSeq)
    }
  }

  test("TTL evicts seen-state: a post-window duplicate re-admits") {
    withRocksDB {
      val in = tmpDir("sdedup-ttl-in-")
      val out = tmpDir("sdedup-ttl-out-")
      val ckpt = tmpDir("sdedup-ttl-ckpt-")
      // TTL ⇒ TimeMode.ProcessingTime ⇒ the operator asks for batches
      // forever (so expiry can fire without input), which also keeps
      // AvailableNow/processAllAvailable from ever seeing a quiescent
      // stream — so poll the sink for the expected rows under a deadline.
      def runUntil(expected: Int): Unit = {
        val q = StreamDedup.novelDocs(spark, docStream(in),
            retention = Some(Duration.ofMillis(500)))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (survivors(out).size < expected &&
                 System.nanoTime() < deadline) Thread.sleep(100)
        } finally q.stop()
      }
      writeDocs(in, "t1.json", 1L -> "expiring")
      runUntil(1)
      Thread.sleep(1500) // let the 500 ms TTL lapse
      writeDocs(in, "t2.json", 2L -> "expiring")
      runUntil(2)
      // both emitted: the second arrival found its state expired
      assert(survivors(out) === Seq(1L, 2L))
    }
  }
}
