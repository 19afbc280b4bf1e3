package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Tiers

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

  /** The batch ([[readRaw]]) and stream (`StreamingIngest.rawStream`)
    * listen readers' schema, and the options of every NDJSON reader. */
  val rawSchema: StructType = listenSchema.add(StructField(CorruptCol, StringType))
  val rawOptions: Map[String, String] = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol,
    "pathGlobFilter" -> "*.{txt,json}")

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
      spark.read.schema(rawSchema).options(rawOptions).json(path))

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

  /** Silver, gold daily and top-3 days of [[graft.pipeline.Tiers.listen]];
    * silver first turns the epoch-seconds `listened_at` into a timestamp. */
  def silver(bronzeDf: DataFrame): DataFrame =
    Tiers.listen.silver(
      bronzeDf.withColumn("listened_datetime", timestamp_seconds(col("listened_at"))))

  def goldDaily(silverDf: DataFrame): DataFrame = Tiers.listen.goldDaily(silverDf)

  def goldTop3Days(goldDf: DataFrame): DataFrame = Tiers.listen.top3Days(goldDf)
}
