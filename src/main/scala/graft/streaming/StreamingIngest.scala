package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.ListenIngest

/** Structured Streaming ingest (SURVEY §2.1 S2/S3/S5, §2.9).
  *
  * The reference's "streaming" is a hand-rolled micro-batch loop: a
  * watchdog thread for local files (ingest_job.py:200-213) + a 30 s S3
  * polling thread (:95-156), with a ledger table for exactly-once
  * (:58-88). One Structured Streaming query replaces all three:
  *
  *  - the file source discovers new files in the directory (local or
  *    s3a://) on every trigger — both watcher threads collapse into
  *    `readStream.json(dir)`;
  *  - `Trigger.ProcessingTime("30 seconds")` reproduces the poll cadence
  *    (`Trigger.AvailableNow` drains the backlog then stops — used by
  *    tests and catch-up runs);
  *  - the checkpoint's file-source log IS the processed-files ledger:
  *    filename-level exactly-once across restarts, no bespoke table
  *    (the content-hash variant stays in graft.ingest.Ledger for batch).
  *
  * At 100 TB the same query scales by executor count: file listing is
  * driver-side but incremental, parse+write is embarrassingly parallel,
  * and `maxFilesPerTrigger` bounds micro-batch size.
  */
object StreamingIngest {

  /** S2/S3: unbounded NDJSON source over a directory (PERMISSIVE, corrupt
    * rows preserved in _corrupt, extension predicate via pathGlobFilter). */
  def rawStream(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(ListenIngest.rawSchema)
      .options(ListenIngest.rawOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)

  /** Streaming bronze sink: user_name-partitioned parquet + checkpoint
    * (S5/S6). `trigger` defaults to the reference's 30 s cadence. Each
    * micro-batch is rebalanced on user_name before the partitioned write,
    * as in [[ListenIngest.writeBronze]], so a batch writes one file per
    * user rather than one per (task, user). */
  def startBronzeSink(spark: SparkSession, inDir: String, bronzeDir: String,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    ListenIngest.bronze(rawStream(spark, inDir))
      .hint("rebalance", col("user_name"))
      .writeStream
      .format("parquet")
      .option("path", bronzeDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("user_name")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** §2.9 stretch (SURVEY §7.4.6): event-time stateful ops in the stream —
    * watermarked dedup + windowed per-user daily counts. The watermark
    * bounds dedup/aggregation state to 7 days of event time, aligned with
    * the DAU window the reports compute. It dedups with `dropDuplicates`,
    * not [[graft.pipeline.Tiers.listen]]'s silver: Spark rejects non-time
    * windows such as `row_number` on streaming Datasets. */
  def dailyCountsStream(raw: DataFrame): DataFrame =
    raw
      .filter(col(ListenIngest.CorruptCol).isNull)
      .withColumn("listened_datetime", timestamp_seconds(col("listened_at")))
      .withWatermark("listened_datetime", "7 days")
      // the event-time column MUST be part of the dedup keys — Spark only
      // evicts dropDuplicates state by watermark when it is; without it the
      // state store grows one entry per (user, second) forever. It is
      // derived 1:1 from listened_at, so key granularity is unchanged.
      .dropDuplicates("user_name", "listened_at", "listened_datetime")
      .groupBy(
        window(col("listened_datetime"), "1 day").as("day"),
        col("user_name"))
      .agg(count(lit(1)).as("listen_count"))
      .select(col("day.start").cast("date").as("listened_date"),
        col("user_name"), col("listen_count"))

  /** Drain-everything-then-stop run for tests/catch-up (AvailableNow). */
  def runOnce(spark: SparkSession, inDir: String, bronzeDir: String,
              checkpointDir: String): Unit = {
    val q = startBronzeSink(spark, inDir, bronzeDir, checkpointDir, Trigger.AvailableNow)
    q.awaitTermination()
  }

  // ------------------------------------------------ stream-stream join

  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  /** Side stream of user status updates (NDJSON, epoch-seconds event
    * time) — the enrichment source for the stream-stream join. */
  val statusSchema: StructType = StructType(Seq(
    StructField("status_at", LongType),
    StructField("user_name", StringType),
    StructField("status", StringType)))

  def statusStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(statusSchema).json(dir)

  /** §2.9: watermarked stream-stream INTERVAL join — each listen picks up
    * every status update the same user posted in the preceding hour.
    *
    * Both inputs are unbounded, so the join is only runnable when Spark
    * can bound its state: the event-time range condition plus a watermark
    * on EACH side lets the state store evict listens older than 1 h and
    * statuses older than 2 h of event time — without them this query is
    * the textbook unbounded-state hazard and Spark rightly rejects it in
    * append mode. State scales with (event-time window × arrival rate),
    * not stream length, and partitions by user_name like every keyed
    * stateful op here. The batch twin (same join, `spark.read`) is the
    * equivalence oracle in StreamingJoinSpec. */
  def enrichedListens(listens: DataFrame, statuses: DataFrame): DataFrame = {
    val l = listens
      .filter(col(ListenIngest.CorruptCol).isNull)
      .select(col("user_name"), col("listened_at"),
        timestamp_seconds(col("listened_at")).as("listen_time"))
      .withWatermark("listen_time", "1 hour")
    val s = statuses
      .select(col("user_name").as("status_user"), col("status"),
        timestamp_seconds(col("status_at")).as("status_time"))
      .withWatermark("status_time", "2 hours")
    l.join(s,
        col("user_name") === col("status_user") &&
          col("status_time").between(
            col("listen_time") - expr("INTERVAL 1 HOUR"), col("listen_time")),
        "inner")
      .select(col("user_name"), col("listened_at"), col("status"),
        unix_timestamp(col("status_time")).as("status_at"))
  }

  // ------------------------------------------------ stream-static join

  /** §2.9: stream-STATIC enrichment join + running aggregate — the
    * "enrich events with a dimension table" shape. The static side is a
    * plain DataFrame: Spark re-plans it per micro-batch (so a dim refresh
    * is picked up on the next trigger) and broadcasts it when small —
    * exactly how a 100 TB stream joins a user/tier/geo dim. No watermark
    * is needed for the JOIN (the static side is bounded, so no join
    * state accrues); the per-tier count is a running aggregate for
    * complete-mode sinks. */
  def tierCountsStream(listens: DataFrame, userTiers: DataFrame): DataFrame =
    listens
      .filter(col(ListenIngest.CorruptCol).isNull)
      .join(broadcast(userTiers), Seq("user_name"), "left")
      .withColumn("tier", coalesce(col("tier"), lit("unknown")))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("listens"),
        approx_count_distinct(col("user_name")).as("approx_users"))
}
