package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** MapState histogram + ListState bounded buffer + ValueState header in
  * one transformWithState processor: per-batch profile snapshots whose
  * max-version row per user must equal the batch twin, with the recent
  * buffer trimmed to k and MapState entries accumulating across batches
  * and restarts. */
class StreamProfileSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("ts_ms", LongType)))
  private val outSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("version", LongType),
    StructField("n_events", LongType), StructField("type_counts", StringType),
    StructField("recent_ids", ArrayType(LongType))))

  private def writeEvents(dir: String, name: String,
                          evs: (Long, Long, String, Long)*): Unit =
    Files.write(Paths.get(dir, name), evs.map { case (u, e, t, ts) =>
      s"""{"user_id":$u,"event_id":$e,"event_type":"$t","ts_ms":$ts}"""
    }.mkString("\n").getBytes)

  private def latest(out: String): Map[Long, (Long, Long, String, Seq[Long])] =
    spark.read.schema(outSchema).parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getSeq[Long](4)))
      .groupBy(_._1).map { case (u, rows) =>
        val last = rows.maxBy(_._2)
        u -> (last._2, last._3, last._4, last._5.toSeq)
      }

  test("profiles accumulate across batches and restarts; buffer trims to k") {
    withRocksDB {
      val in = tmpDir("sprof-in-")
      val out = tmpDir("sprof-out-")
      val ckpt = tmpDir("sprof-ckpt-")
      def runOnce(): Unit = {
        val q = StreamProfile.profiles(spark,
            spark.readStream.schema(inSchema).json(in), k = 3)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
        q.awaitTermination()
      }
      // batch 1: user 1 gets 2 clicks + 1 view (out-of-order event ids)
      writeEvents(in, "b1.json",
        (1L, 103L, "view", 30L), (1L, 101L, "click", 10L),
        (1L, 102L, "click", 20L), (2L, 201L, "buy", 5L))
      runOnce()
      val p1 = latest(out)
      assert(p1(1L) === ((1L, 3L, "click=2,view=1", Seq(101L, 102L, 103L))))
      assert(p1(2L) === ((1L, 1L, "buy=1", Seq(201L))))

      // batch 2 (fresh query, same checkpoint): MapState entries must be
      // restored from RocksDB; buffer overflows past k=3 and trims
      writeEvents(in, "b2.json",
        (1L, 104L, "view", 40L), (1L, 105L, "click", 50L))
      runOnce()
      val p2 = latest(out)
      assert(p2(1L) === ((2L, 5L, "click=3,view=2", Seq(103L, 104L, 105L))))
      assert(p2(2L) === ((1L, 1L, "buy=1", Seq(201L)))) // untouched users keep v1
    }
  }

  test("max-version snapshots equal the batch twin on one-shot input") {
    withRocksDB {
      val in = tmpDir("sprof-twin-in-")
      val out = tmpDir("sprof-twin-out-")
      val ckpt = tmpDir("sprof-twin-ckpt-")
      val evs = Seq(
        (7L, 1L, "a", 10L), (7L, 2L, "b", 20L), (7L, 3L, "a", 30L),
        (7L, 4L, "c", 40L), (8L, 5L, "b", 15L), (8L, 6L, "b", 25L))
      writeEvents(in, "all.json", evs: _*)
      val q = StreamProfile.profiles(spark,
          spark.readStream.schema(inSchema).json(in), k = 3)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
      q.awaitTermination()
      val got = latest(out)
      // batch twin: histogram + last-3 ids per user in (ts, event_id) order
      val expect = evs.groupBy(_._1).map { case (u, rows) =>
        val hist = rows.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (t, r) => s"$t=${r.size}" }.mkString(",")
        val last3 = rows.sortBy(e => (e._4, e._2)).map(_._2).takeRight(3)
        u -> (rows.size.toLong, hist, last3)
      }
      got.foreach { case (u, (_, n, hist, rec)) =>
        assert((n, hist, rec) === ((expect(u)._1, expect(u)._2, expect(u)._3)),
          s"user $u mismatch")
      }
      assert(got.keySet === expect.keySet)
    }
  }
}
