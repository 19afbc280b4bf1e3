package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** The medallion pipeline re-expressed over the `events` table
  * (event_id, ts, user_id, event_type, value, props JSON-string).
  *
  * Mirrors the reference's bronze → silver → gold lineage
  * (reference: src/jobs/ingest_job.py:72-86, transform_job.py:75-128,
  * daily_job.py:33-46) with `events` playing the listen stream:
  * user_id ≈ user_name, ts ≈ listened_at, event_type ≈ track_name.
  *
  * Scale notes (100 TB):
  *  - Silver is hash-partitioned on `user_id` before the dedup window and
  *    then PERSISTED per (session, dir): one shuffle feeds every downstream
  *    report, because HashPartitioning(user_id) satisfies the clustered
  *    distribution required by every per-user window/groupBy that follows.
  *    The reference materializes silver for the same reason
  *    (transform_job.py:93-95); on a cluster this persist becomes a
  *    partitioned/bucketed table write (see graft.ingest.Medallion).
  *  - JSON flattening is `from_json` with an explicit schema (codegen'd,
  *    no UDF), so it runs inside WholeStageCodegen on the scan projection.
  *  - silver, gold and top-3 are [[Tiers.events]], the same transforms
  *    [[graft.ingest.ListenIngest]] runs over the listen schema.
  */
object EventsPipeline {

  /** Schema of the `props` JSON payload (reference flattens
    * track_metadata the same way, ingest_job.py:77-82). */
  val propsSchema: StructType = StructType(Seq(StructField("k", IntegerType)))

  /** Bronze: flatten the JSON payload, derive the partition date.
    * Reference: ingest_job.py:72-86 (DuckDB read_json + COPY PARTITION_BY). */
  def bronze(spark: SparkSession, dir: String): DataFrame =
    bronzeOf(Tables.events(spark, dir))

  /** The bronze flatten of any frame with the events columns. */
  def bronzeOf(events: DataFrame): DataFrame =
    events
      .withColumn("props_struct", from_json(col("props"), propsSchema))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        col("props_struct.k").as("prop_k"),
        col("ts"),
        to_date(col("ts")).as("event_date"))

  /** The VARIANT spelling of the bronze flatten (Spark 4's open
    * semi-structured type): `parse_json` once, then path-extract with
    * `variant_get` / `try_variant_get`. Unlike `from_json`, VARIANT needs
    * no up-front schema — at 100 TB, where event payloads drift faster
    * than schemas are updated, the binary-encoded variant column
    * parses once at ingest and every downstream path extraction is a
    * cheap binary probe (shreddable in parquet), not a JSON re-parse.
    * The rollup buckets the extracted field and hash-locks the
    * missing-path behavior (`try_variant_get` of an absent path is null,
    * never an error). */
  def variantFlatten(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"),
        try_variant_get(col("v"), "$.missing", "int").as("miss"))
      .groupBy(col("event_type"), expr("k div 10").as("k_decile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(when(col("miss").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy(col("event_type").asc, col("k_decile").asc)

  /** [[Tiers.events]]' silver after one repartition on user_id: the only
    * exchange of the silver+reports lineage, since hash(user_id) already
    * clusters the dedup window's (user_id, second). */
  def silverOf(bronzeDf: DataFrame): DataFrame =
    Tiers.events.silver(bronzeDf.repartition(col("user_id")))

  /** Most-recently-used dirs whose silver stays persisted per session.
    * The harness touches one dir; a long-lived service querying many dirs
    * is bounded at cap × one silver frame of storage (round-3 review: the
    * unbounded map accumulated one persisted silver per dir forever). */
  val MaxCachedDirs = 4

  /** Memoized, persisted silver per (session, dir). Round-1 review: 15 of
    * 25 queries recomputed the full silver shuffle from scratch — at 100 TB
    * that is 15 redundant full-table shuffles per report batch. Persisting
    * the deduped frame (MEMORY_AND_DISK, spills instead of OOM) gives every
    * report the materialized-table read the reference gets from Iceberg.
    * Lifecycle (LRU cap + session-end release) lives in
    * [[graft.core.FrameMemo]]. */
  private val silverCache = new graft.core.FrameMemo(MaxCachedDirs)

  def silver(spark: SparkSession, dir: String): DataFrame =
    silverCache.get(spark, dir)(silverOf(bronze(spark, dir)))

  /** Number of dirs currently cached for `spark` (test hook). */
  def cachedDirCount(spark: SparkSession): Int =
    silverCache.cachedCount(spark)

  /** [[Tiers.events]]' gold daily; [[Reports.userProfileApprox]] is the
    * 100 TB sketch variant. */
  def goldDailyOf(silverDf: DataFrame): DataFrame =
    Tiers.events.goldDaily(silverDf)

  def goldDaily(spark: SparkSession, dir: String): DataFrame =
    goldDailyOf(silver(spark, dir))

  /** [[Tiers.events]]' top-3 days per user. */
  def goldTop3DaysOf(silverDf: DataFrame): DataFrame =
    Tiers.events.top3Days(goldDailyOf(silverDf))

  def goldTop3Days(spark: SparkSession, dir: String): DataFrame =
    goldTop3DaysOf(silver(spark, dir))

  /** The single-pass TYPED spelling of goldTop3Days: a bounded-k
    * [[graft.functions.TopKAgg]] Aggregator over
    * `KeyValueGroupedDataset`. The window form sorts EVERY group's full
    * history; this one partially aggregates map-side and shuffles at most
    * k rows per group — the per-group analogue of TakeOrdered vs global
    * sort. Dates travel as epoch-day ints through the typed buffer and
    * come back as DateType at the end. Proven row-identical to the
    * window form in EventsPipelineSpec. It stays apart from
    * [[Tiers.top3Days]] on purpose: it is the other algorithm for the same
    * rows (q108), not a copy of the window form. */
  def goldTop3DaysTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = goldDailyOf(silver(spark, dir))
      .select(col("user_id"),
        datediff(col("event_date"), lit("1970-01-01").cast("date"))
          .cast("int").as("d"),
        col("listen_count"))
      .as[(Long, Int, Long)]
    val top = new graft.functions.TopKAgg(3).toColumn
    daily.groupByKey(_._1).mapValues(r => (r._2, r._3)).agg(top)
      .flatMap { case (u, tops) =>
        tops.iterator.zipWithIndex.map { case ((d, c), i) => (u, d, c, i + 1) }
      }
      .toDF("user_id", "d", "listen_count", "rnk")
      .select(col("user_id"),
        date_add(lit("1970-01-01").cast("date"), col("d")).as("event_date"),
        col("listen_count"), col("rnk"))
      .orderBy(col("user_id").asc, col("rnk").asc)
  }
}
