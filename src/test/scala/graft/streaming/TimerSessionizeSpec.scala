package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Timer-based event-time sessionization: a quiet user's session closes
  * when OTHER traffic advances the watermark past the gap deadline (the
  * scenario the flatMapGroupsWithState sessionizer cannot express),
  * within-batch gap splits still close inline, and state+timers survive
  * a checkpoint restart. */
class TimerSessionizeSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("user_name", StringType),
    StructField("ts", TimestampType)))
  private val outSchema = StructType(Seq(
    StructField("user_name", StringType),
    StructField("start_ms", LongType),
    StructField("end_ms", LongType),
    StructField("n_events", LongType)))

  private val T0 = 1700000000000L // epoch ms

  private def writeEvents(dir: String, name: String,
                          events: (String, Long)*): Unit =
    Files.write(Paths.get(dir, name), events.map { case (u, ms) =>
      val ts = java.time.Instant.ofEpochMilli(ms).toString
      s"""{"user_name":"$u","ts":"$ts"}""" }.mkString("\n").getBytes)

  private def closedSessions(out: String) =
    spark.read.schema(outSchema).parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("watermark-driven timers close quiet users' sessions; restart keeps open state") {
    withRocksDB {
      val in = tmpDir("tsess-in-")
      val out = tmpDir("tsess-out-")
      val ckpt = tmpDir("tsess-ckpt-")
      def runOnce(): Unit = {
        val q = TimerSessionize.sessions(spark,
            spark.readStream.schema(inSchema).json(in), gapSeconds = 1800)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow).start()
        q.awaitTermination()
      }
      // u1: 3 events inside one session, then silence — u1 NEVER speaks
      // again. u2's later traffic must close u1's session via the timer.
      writeEvents(in, "b1.json",
        "u1" -> T0, "u1" -> (T0 + 60000L), "u1" -> (T0 + 120000L))
      runOnce()
      assert(closedSessions(out) === Seq(), "nothing can close yet")
      // u2 speaks 3h later: watermark (max ts - 30 s) passes u1's
      // gap deadline (T0+120 s+30 min) → u1's session fires on a timer
      writeEvents(in, "b2.json", "u2" -> (T0 + 10800000L))
      runOnce()
      assert(closedSessions(out) ===
        Seq(("u1", T0, T0 + 120000L, 3L)))
      // u2's own session is still open (nothing advanced past its gap);
      // more traffic closes it too — proving timer state survived restart
      writeEvents(in, "b3.json", "u3" -> (T0 + 21600000L))
      runOnce()
      assert(closedSessions(out) ===
        Seq(("u1", T0, T0 + 120000L, 3L),
            ("u2", T0 + 10800000L, T0 + 10800000L, 1L)))
    }
  }

  test("a within-batch gap split closes the first session inline") {
    withRocksDB {
      val in = tmpDir("tsess2-in-")
      val out = tmpDir("tsess2-out-")
      val ckpt = tmpDir("tsess2-ckpt-")
      // one batch: two bursts 2 h apart — first closes inline, without
      // any watermark help
      writeEvents(in, "b1.json",
        "u1" -> T0, "u1" -> (T0 + 30000L),
        "u1" -> (T0 + 7200000L), "u1" -> (T0 + 7230000L))
      val q = TimerSessionize.sessions(spark,
          spark.readStream.schema(inSchema).json(in), gapSeconds = 1800)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow).start()
      q.awaitTermination()
      assert(closedSessions(out) === Seq(("u1", T0, T0 + 30000L, 2L)))
    }
  }
}
