package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The medallion's silver, gold-daily and top-3 transforms for any
  * listen-shaped schema (reference transform_job.py:75-120,
  * daily_job.py:33-46). Dedup and top-3 are `row_number` with a
  * deterministic tiebreak (SURVEY §7.4.1): the reference orders by its
  * partition key, which leaves the survivor to chance. */
final case class Tiers(user: String, time: String, dedupKey: Column,
                       survivor: String, date: String,
                       distinct: (String, String)*) {

  /** Silver: year/month/day/hour of `time`, then one row per (`user`,
    * `dedupKey`), the smallest `survivor` kept. */
  def silver(bronze: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(user), dedupKey).orderBy(col(survivor).asc)
    bronze
      .withColumn("year", year(col(time)))
      .withColumn("month", month(col(time)))
      .withColumn("day", dayofmonth(col(time)))
      .withColumn("hour", hour(col(time)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Gold daily: per `user` and `date`, `listen_count` (SURVEY §7.4.2's
    * canonical name) and one exact `countDistinct` per `distinct` pair.
    * Grouping on `user` first reuses a silver hash-partitioned on it. */
  def goldDaily(silver: DataFrame): DataFrame =
    silver
      .groupBy(col(user), col(date))
      .agg(count(lit(1)).as("listen_count"),
        distinct.map { case (c, as) => countDistinct(col(c)).as(as) }: _*)

  /** At most 3 days per user, by `listen_count` desc, then `date` asc. */
  def top3Days(gold: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(user))
      .orderBy(col("listen_count").desc, col(date).asc)
    gold
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .drop("rnk")
  }
}

object Tiers {

  /** `events` as the listen stream: duplicates share a (user_id, second),
    * as the reference's epoch-seconds listened_at; the first event_id wins. */
  val events: Tiers = Tiers("user_id", "ts", date_trunc("second", col("ts")),
    "event_id", "event_date", "event_type" -> "unique_types")

  /** ListenBrainz listens: duplicates share (user_name, listened_at); the
    * smallest recording_msid wins. */
  val listen: Tiers = Tiers("user_name", "listened_datetime",
    col("listened_at"), "recording_msid", "listened_date",
    "track_name" -> "unique_tracks", "artist_name" -> "unique_artists")
}
