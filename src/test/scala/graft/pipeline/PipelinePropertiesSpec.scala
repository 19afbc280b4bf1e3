package graft.pipeline

import java.sql.Timestamp

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
}
