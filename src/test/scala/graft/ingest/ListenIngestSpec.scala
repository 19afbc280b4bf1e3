package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** E2E replication of the reference's bronze/silver/gold audit
  * (analysis.ipynb: bronze 4 → silver 4 → gold 2) on a constructed
  * ListenBrainz-shaped fixture: 4 records, 1 user, 2 distinct dates,
  * plus corrupt-line and extension-predicate cases. */
class ListenIngestSpec extends SparkSpecBase {

  private def listen(at: Long, msid: String, user: String, track: String): String =
    s"""{"listened_at":$at,"recording_msid":"$msid","user_name":"$user","track_metadata":{"artist_name":"artist-x","track_name":"$track","release_name":null,"additional_info":{"release_msid":null,"artist_msid":"am-1","recording_msid":"$msid","artist_mbids":[],"tags":[]}}}"""

  // 2019-04-14 has 3 listens, 2019-04-15 has 1 → gold = 2 day-rows.
  private val day1 = 1555286400L
  private val day2 = 1555372800L
  private lazy val fixtureDir: String = {
    val dir = tmpDir("listen-fixture-")
    Files.write(Paths.get(dir, "listens.txt"), String.join("\n",
      listen(day1 + 10, "m1", "userA", "track-1"),
      listen(day1 + 20, "m2", "userA", "track-2"),
      listen(day1 + 30, "m3", "userA", "track-2"),
      listen(day2 + 40, "m4", "userA", "track-3"),
      """{ this line is not json""").getBytes)
    Files.write(Paths.get(dir, "ignored.csv"), "a,b,c".getBytes)
    dir
  }

  test("PERMISSIVE scan captures corrupt rows, glob filter skips non-json") {
    val raw = ListenIngest.readRaw(spark, fixtureDir)
    assert(raw.count() === 5) // 4 valid + 1 corrupt; csv excluded
    assert(raw.filter(col(ListenIngest.CorruptCol).isNotNull).count() === 1)
  }

  test("bronze→silver→gold audit: 4 / 4 / 2 (reference analysis.ipynb)") {
    val bronze = ListenIngest.bronze(ListenIngest.readRaw(spark, fixtureDir))
    val silver = ListenIngest.silver(bronze)
    val gold = ListenIngest.goldDaily(silver)
    assert(bronze.count() === 4)
    assert(silver.count() === 4)
    assert(gold.count() === 2)
    val top = ListenIngest.goldTop3Days(gold)
      .orderBy(col("listened_date").asc).collect()
    assert(top.length === 2)
    assert(top.head.getAs[Long]("listen_count") === 3)
  }

  test("dedup survivor is deterministic (min recording_msid)") {
    val dir = tmpDir("listen-dup-")
    Files.write(Paths.get(dir, "dups.json"), String.join("\n",
      listen(day1, "zz-late", "userB", "track-9"),
      listen(day1, "aa-early", "userB", "track-9")).getBytes)
    val silver = ListenIngest.silver(ListenIngest.bronze(ListenIngest.readRaw(spark, dir)))
    val rows = silver.filter(col("user_name") === "userB").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("recording_msid") === "aa-early")
  }

  test("bronze write is user_name-partitioned and reads back") {
    val out = tmpDir("bronze-out-")
    ListenIngest.writeBronze(
      ListenIngest.bronze(ListenIngest.readRaw(spark, fixtureDir)), out)
    assert(new java.io.File(s"$out/user_name=userA").exists())
    assert(spark.read.parquet(out).count() === 4)
  }

  test("bronze write emits exactly one parquet file per user") {
    // 3 files × 4 users, so each scan task sees every user and an
    // unclustered partitioned write would give every user one file per task
    val dir = tmpDir("listen-layout-")
    val users = Seq("userA", "userB", "userC", "userD")
    for (f <- 0 until 3)
      Files.write(Paths.get(dir, s"part-$f.json"), users.zipWithIndex.map {
        case (u, i) => listen(day1 + 100 * f + i, s"m$f$i", u, "track")
      }.mkString("\n").getBytes)
    val raw = ListenIngest.readRaw(spark, dir)
    assert(raw.rdd.getNumPartitions > 1)
    val out = tmpDir("bronze-layout-")
    ListenIngest.writeBronze(ListenIngest.bronze(raw), out)
    for (u <- users) {
      val files = new java.io.File(s"$out/user_name=$u").list()
        .filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"user_name=$u: ${files.mkString(", ")}")
    }
    assert(spark.read.parquet(out).count() === 12)
  }
}
