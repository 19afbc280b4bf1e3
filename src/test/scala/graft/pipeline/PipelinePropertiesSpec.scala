package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** SURVEY §5 property tests: dedup laws that must hold for ANY input, not
  * just the fixture corpus. ScalaCheck generators produce small event
  * batches with forced collisions (few users × few seconds); we drive the
  * generator over fixed seeds directly to keep a plain FunSuite harness. */
case class GenEv(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)

class PipelinePropertiesSpec extends SparkSpecBase {

  private val evGen: Gen[GenEv] = for {
    id <- Gen.choose(0L, 10000L)
    sec <- Gen.choose(0L, 5L)       // 6 distinct seconds → collisions likely
    milli <- Gen.choose(0L, 999L)
    user <- Gen.choose(0L, 3L)      // 4 users
    tpe <- Gen.oneOf("play", "skip", "like")
    v <- Gen.choose(0.0, 10.0)
  } yield GenEv(id, new Timestamp(1700000000000L + sec * 1000 + milli), user,
    tpe, v, s"""{"k":${id % 7}}""")

  private val batchGen: Gen[List[GenEv]] =
    Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, evGen))

  private def batches: Seq[List[GenEv]] =
    (1L to 8L).flatMap(s => batchGen(Gen.Parameters.default, Seed(s)))

  private def bronzeOf(evs: List[GenEv]) = {
    import spark.implicits._
    spark.createDataset(evs.distinctBy(_.event_id)).toDF()
      .withColumn("prop_k", lit(1))
      .withColumn("event_date", to_date(col("ts")))
      .select("event_id", "user_id", "event_type", "value", "prop_k", "ts", "event_date")
  }

  test("property: silver dedup is idempotent and keeps one row per (user, second)") {
    for (evs <- batches) {
      val bronze = bronzeOf(evs)
      val once = EventsPipeline.silverOf(bronze)
      val twice = EventsPipeline.silverOf(once.select(bronze.columns.toIndexedSeq.map(col): _*))
      assert(once.count() === twice.count())
      val collisions = once
        .groupBy(col("user_id"), date_trunc("second", col("ts")))
        .count().filter(col("count") > 1).count()
      assert(collisions === 0)
    }
  }

  test("property: top-3 days per user never exceeds 3 and is a subset of daily") {
    for (evs <- batches) {
      val silver = EventsPipeline.silverOf(bronzeOf(evs))
      val daily = EventsPipeline.goldDailyOf(silver)
      val top = EventsPipeline.goldTop3DaysOf(silver)
      val maxPerUser = top.groupBy("user_id").count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
      assert(maxPerUser <= 3)
      assert(top.join(daily, Seq("user_id", "event_date"), "left_anti").count() === 0)
    }
  }

  /** Batches spread over 6 days: each of 4 users has 0–3 events on each
    * day, one minute apart, so users span more than 3 days and tie on
    * daily counts, also at the top-3 cut. */
  private val spreadBatchGen: Gen[List[GenEv]] =
    Gen.listOfN(24, Gen.choose(0, 3)).map { counts =>
      val midnight = 1699920000000L // 2023-11-14T00:00:00Z
      for {
        (n, cell) <- counts.zipWithIndex
        i <- 0 until n
      } yield {
        val (user, day) = (cell / 6, cell % 6)
        GenEv(cell * 10L + i, new Timestamp(midnight + day * 86400000L + i * 60000L),
          user, Seq("play", "skip", "like")(i), 1.0, "{}")
      }
    }

  /** Per user, (date, listen_count) of the gold rows of `tiers`, in top-3
    * order: count descending, then date ascending. */
  private def byUser(tiers: Tiers, gold: DataFrame): Map[String, Seq[(String, Long)]] =
    gold.select(col(tiers.user).cast("string"), col(tiers.date).cast("string"),
        col("listen_count"))
      .collect().toSeq
      .groupBy(_.getString(0))
      .map { case (u, rows) =>
        u -> rows.map(r => (r.getString(1), r.getLong(2))).sortBy(d => (-d._2, d._1))
      }

  test("property: top-3 keeps each user's 3 largest days, the earlier date first on a tie") {
    var tiedAtCut = 0
    for (seed <- 1L to 8L; evs <- spreadBatchGen(Gen.Parameters.default, Seed(seed))) {
      val bronze = bronzeOf(evs)
      val listen = bronze.select(
        col("user_id").as("user_name"), col("ts").as("listened_datetime"),
        unix_seconds(col("ts")).as("listened_at"),
        col("event_id").cast("string").as("recording_msid"),
        col("event_date").as("listened_date"),
        col("event_type").as("track_name"), col("event_type").as("artist_name"))
      for ((tiers, in) <- Seq(Tiers.events -> bronze, Tiers.listen -> listen)) {
        val gold = tiers.goldDaily(tiers.silver(in))
        val daily = byUser(tiers, gold)
        val top = byUser(tiers, tiers.top3Days(gold))
        assert(top.values.forall(_.size <= 3))
        assert(top === daily.map { case (u, days) => u -> days.take(3) })
        for ((u, days) <- daily if days.size > 3 && days(2)._2 == days(3)._2) {
          tiedAtCut += 1
          assert(top(u).last._1 < days(3)._1, s"$u kept a later day of a tie: ${top(u)}")
        }
      }
    }
    assert(tiedAtCut > 0, "no batch tied at the top-3 cut")
  }
}
