package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-faithful ingest of ListenBrainz NDJSON listen events
  * (SURVEY §1.2, §2.1 S1/S4/S6/S9; reference src/jobs/ingest_job.py:51-93).
  *
  * The reference flattens nested JSON with DuckDB `read_json(...,
  * ignore_errors=true)` and writes user_name-partitioned parquet. Spark
  * form: explicit StructType + PERMISSIVE mode with a corrupt-record
  * column (malformed lines land in `_corrupt` instead of failing the job
  * — the `ignore_errors` equivalent, but auditable), `pathGlobFilter` for
  * the extension predicate, and `partitionBy(user_name)` on the write.
  */
object ListenIngest {

  /** Canonical raw listen schema (FIXTURES.md §1; reference
    * data/inputs/testData.txt). */
  val additionalInfoSchema: StructType = StructType(Seq(
    StructField("release_msid", StringType),
    StructField("artist_msid", StringType),
    StructField("recording_msid", StringType),
    StructField("release_mbid", StringType),
    StructField("recording_mbid", StringType),
    StructField("release_group_mbid", StringType),
    StructField("track_mbid", StringType),
    StructField("isrc", StringType),
    StructField("spotify_id", StringType),
    StructField("tracknumber", StringType),
    StructField("artist_mbids", ArrayType(StringType)),
    StructField("tags", ArrayType(StringType)),
    StructField("work_mbids", ArrayType(StringType))))

  val listenSchema: StructType = StructType(Seq(
    StructField("listened_at", LongType),
    StructField("recording_msid", StringType),
    StructField("user_name", StringType),
    StructField("track_metadata", StructType(Seq(
      StructField("artist_name", StringType),
      StructField("track_name", StringType),
      StructField("release_name", StringType),
      StructField("additional_info", additionalInfoSchema))))))

  val CorruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    schema.add(StructField(CorruptCol, StringType))

  /** S1 + S4 + S9: NDJSON scan with explicit schema, PERMISSIVE corrupt
    * handling, and the .txt/.json extension predicate. The parsed batch is
    * cached: Spark disallows queries whose pruned schema is only the
    * corrupt-record column ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD
    * _COLUMN]) — caching the parsed result is the documented pattern, and
    * an ingest batch is bounded by files-per-tick so the footprint is
    * small. Scratch-registered: released with the session's other
    * operator-local caches via [[graft.core.Caches.releaseScratch]]. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    graft.core.Caches.scratch(
      spark.read
        .schema(withCorrupt(listenSchema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CorruptCol)
        .option("pathGlobFilter", "*.{txt,json}")
        .json(path))

  /** Bronze flatten (reference ingest_job.py:72-86): project the nested
    * struct to flat columns, cast, derive the partition date. Corrupt rows
    * (null user_name + populated _corrupt) are excluded from bronze — the
    * reference's ignore_errors drops them silently; we filter explicitly. */
  def bronze(raw: DataFrame): DataFrame =
    raw
      .filter(col(CorruptCol).isNull)
      .select(
        col("listened_at"),
        col("recording_msid"),
        col("user_name"),
        col("track_metadata.track_name").as("track_name"),
        col("track_metadata.artist_name").as("artist_name"),
        col("track_metadata.release_name").as("release_name"),
        col("track_metadata.additional_info.recording_msid").as("track_recording_msid"),
        col("track_metadata.additional_info.release_msid").as("track_release_msid"),
        col("track_metadata.additional_info.artist_msid").as("track_artist_msid"),
        to_date(timestamp_seconds(col("listened_at"))).as("listened_date"))

  /** S6: user_name-partitioned parquet write (reference ingest_job.py:85).
    *
    * Rows are rebalanced on the partition column first. A partitioned
    * write opens one file per (writer task, partition value) it sees, so
    * an unclustered batch lands as tasks × users small files, and every
    * later bronze read pays for each of them. Clustered, each write emits
    * one file per user. A rebalance, not `coalesce` or `repartition(n)`:
    * AQE still splits a user larger than the advisory partition size
    * into several files instead of funnelling it through one task. */
  def writeBronze(bronzeDf: DataFrame, outDir: String): Unit =
    bronzeDf.hint("rebalance", col("user_name")).write
      .partitionBy("user_name")
      .mode("overwrite")
      .parquet(outDir)

  /** Silver (reference transform_job.py:75-95): timestamp enrichment +
    * window dedup on (user_name, listened_at). The reference's ORDER BY
    * equals its PARTITION BY — nondeterministic survivor; we break ties on
    * recording_msid (SURVEY §7.4.1). */
  def silver(bronzeDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_name", "listened_at")
      .orderBy(col("recording_msid").asc)
    bronzeDf
      .withColumn("listened_datetime", timestamp_seconds(col("listened_at")))
      .withColumn("year", year(col("listened_datetime")))
      .withColumn("month", month(col("listened_datetime")))
      .withColumn("day", dayofmonth(col("listened_datetime")))
      .withColumn("hour", hour(col("listened_datetime")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Gold (reference transform_job.py:106-120 + daily_job.py:37-46):
    * per-user-per-day aggregate with the canonical `listen_count` name
    * (SURVEY §7.4.2 — the reference emits `count` in one job and
    * `listen_count` in another; we standardize and keep the tolerant read
    * in Medallion). */
  def goldDaily(silverDf: DataFrame): DataFrame =
    silverDf
      .groupBy(col("user_name"), col("listened_date"))
      .agg(
        count(lit(1)).as("listen_count"),
        countDistinct(col("track_name")).as("unique_tracks"),
        countDistinct(col("artist_name")).as("unique_artists"))

  def goldTop3Days(goldDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_name")
      .orderBy(col("listen_count").desc, col("listened_date").asc)
    goldDf
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .drop("rnk")
  }
}
