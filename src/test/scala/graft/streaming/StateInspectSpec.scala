package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** The state data source reads stopped checkpoints back as tables: a
  * StreamDedup checkpoint gives every retained content hash with its
  * surviving doc_id, plus the operator inventory via state-metadata; a
  * TimerSessionize checkpoint gives each user's still-open session. */
class StateInspectSpec extends SparkSpecBase {

  test("dedup seen-state is readable offline with hashes and survivors") {
    withRocksDB {
      val in = tmpDir("sinspect-in-")
      val out = tmpDir("sinspect-out-")
      val ckpt = tmpDir("sinspect-ckpt-")
      Files.write(Paths.get(in, "b1.json"), Seq(
        """{"doc_id":1,"text":"alpha"}""",
        """{"doc_id":2,"text":"beta"}""",
        """{"doc_id":3,"text":"alpha"}""").mkString("\n").getBytes)
      val q = StreamDedup.novelDocs(spark,
          spark.readStream.schema(StructType(Seq(
            StructField("doc_id", LongType), StructField("text", StringType))))
            .json(in))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
      q.awaitTermination()

      val state = StateInspect.dedupState(spark, ckpt).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      // two distinct texts retained; min-doc_id survivors recorded
      assert(state.length === 2)
      assert(state.map(_._2).toSeq === Seq(1L, 2L))
      assert(state.map(_._1).distinct.length === 2)

      val ops = StateInspect.operators(spark, ckpt)
      assert(ops.count() >= 1)
      assert(ops.columns.contains("operatorName"))
    }
  }

  test("open timer sessions are readable offline with their bounds, counts and deadlines") {
    withRocksDB {
      val in = tmpDir("sinspect-sess-in-")
      val out = tmpDir("sinspect-sess-out-")
      val ckpt = tmpDir("sinspect-sess-ckpt-")
      val T0 = 1700000000000L // epoch ms
      val Gap = 1800000L      // the 30 min gap, in ms
      val H3 = T0 + 10800000L // three hours after T0
      def at(u: String, ms: Long) =
        s"""{"user_name":"$u","ts":"${java.time.Instant.ofEpochMilli(ms)}"}"""
      // u1 goes quiet, so the watermark (H3 - 30 s) closes it on a timer;
      // u2's 3 h gap closes its first session inline and leaves one event
      // open; u3 is open with two events inside the gap
      Files.write(Paths.get(in, "b1.json"), Seq(
        at("u1", T0), at("u1", T0 + 60000L), at("u1", T0 + 120000L),
        at("u2", T0), at("u2", H3),
        at("u3", H3 - 60000L), at("u3", H3 - 20000L)).mkString("\n").getBytes)
      val q = TimerSessionize.sessions(spark,
          spark.readStream.schema(StructType(Seq(
            StructField("user_name", StringType), StructField("ts", TimestampType))))
            .json(in), gapSeconds = Gap / 1000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
      q.awaitTermination()

      val open = StateInspect.openSessions(spark, ckpt).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
      assert(open === Seq(
        ("u2", H3, H3, 1L, H3 + Gap),
        ("u3", H3 - 60000L, H3 - 20000L, 2L, H3 - 20000L + Gap)))
      // the sessions missing from the state are the ones emitted
      val closed = spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(closed === Seq(("u1", T0, T0 + 120000L, 3L), ("u2", T0, T0, 1L)))
    }
  }
}
