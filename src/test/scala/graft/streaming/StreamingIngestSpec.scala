package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.ingest.ListenIngest

class StreamingIngestSpec extends SparkSpecBase {

  private def listen(at: Long, msid: String, user: String): String =
    s"""{"listened_at":$at,"recording_msid":"$msid","user_name":"$user","track_metadata":{"artist_name":"a","track_name":"t","release_name":null,"additional_info":{"artist_msid":"am","recording_msid":"$msid","artist_mbids":[],"tags":[]}}}"""

  test("streaming file ingest: exactly-once across restarts via checkpoint") {
    val in = tmpDir("stream-in-")
    val bronze = tmpDir("stream-bronze-")
    val ckpt = tmpDir("stream-ckpt-")

    Files.write(Paths.get(in, "f1.json"),
      (listen(1700000000L, "m1", "u1") + "\n" + listen(1700000001L, "m2", "u2")).getBytes)
    StreamingIngest.runOnce(spark, in, bronze, ckpt)
    assert(spark.read.parquet(bronze).count() === 2)

    // restart with no new files → no duplicates (checkpoint = ledger)
    StreamingIngest.runOnce(spark, in, bronze, ckpt)
    assert(spark.read.parquet(bronze).count() === 2)

    // new file (one corrupt line) → only its valid rows appended
    Files.write(Paths.get(in, "f2.json"),
      (listen(1700000002L, "m3", "u1") + "\n" + "not-json{{{").getBytes)
    StreamingIngest.runOnce(spark, in, bronze, ckpt)
    val df = spark.read.parquet(bronze)
    assert(df.count() === 3)
    // partitioned layout on disk
    assert(new java.io.File(s"$bronze/user_name=u1").exists())
  }

  test("each streaming micro-batch writes exactly one parquet file per user") {
    val in = tmpDir("stream-layout-in-")
    val bronze = tmpDir("stream-layout-bronze-")
    val ckpt = tmpDir("stream-layout-ckpt-")
    val users = Seq("u1", "u2", "u3")
    def land(batch: Int): Unit =
      for (f <- 0 until 3)
        Files.write(Paths.get(in, s"b$batch-f$f.json"), users.zipWithIndex.map {
          case (u, i) => listen(1700000000L + 1000 * batch + 10 * f + i, s"m$batch$f$i", u)
        }.mkString("\n").getBytes)
    def filesPerUser: Seq[Int] = users.map(u =>
      new java.io.File(s"$bronze/user_name=$u").list().count(_.endsWith(".parquet")))

    land(0)
    StreamingIngest.runOnce(spark, in, bronze, ckpt)
    assert(filesPerUser === Seq(1, 1, 1))
    land(1)
    StreamingIngest.runOnce(spark, in, bronze, ckpt)
    assert(filesPerUser === Seq(2, 2, 2))
    assert(spark.read.parquet(bronze).count() === 18)
  }

  test("watermarked daily-counts stream emits closed windows") {
    val in = tmpDir("agg-in-")
    val ckpt = tmpDir("agg-ckpt-")
    val day = 86400L
    val t0 = 1700000000L
    // 3 listens on day 0 (one duplicate ts → deduped), 1 listen 30 days later
    // (advances the watermark past day 0 so its window closes)
    Files.write(Paths.get(in, "g1.json"), String.join("\n",
      listen(t0, "m1", "u1"), listen(t0, "m1b", "u1"),
      listen(t0 + 60, "m2", "u1"),
      listen(t0 + 30 * day, "m3", "u1")).getBytes)
    val out = StreamingIngest.dailyCountsStream(StreamingIngest.rawStream(spark, in))
    val q = out.writeStream.format("memory").queryName("daily_counts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow).start()
    q.awaitTermination()
    val rows = spark.table("daily_counts")
      .filter(col("user_name") === "u1").collect()
    // day-0 window closed: 2 distinct listens (duplicate ts dropped)
    assert(rows.exists(r => r.getAs[Long]("listen_count") === 2))
  }
}
