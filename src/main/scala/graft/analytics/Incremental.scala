package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.EventsPipeline

/** Incremental aggregate (materialized-view) maintenance: keep a gold
  * rollup current by merging a new micro-batch's PARTIAL aggregate into
  * the stored one, instead of recomputing over all history — the only
  * viable shape once the fact table is 100 TB and a day's delta is 100 GB.
  *
  * Works because every measure here is a commutative monoid: counts add,
  * exact cent-sums add, mins combine via least. (COUNT DISTINCT is
  * deliberately absent — it does not merge; its incremental form is the
  * HLL sketch family, q67.) Money sums as CENTS (`round(value·100)` →
  * BIGINT): double addition is not associative so a base+delta double sum
  * would drift from the full recompute by partition order, but integer
  * cents make merged == recomputed EXACTLY — the q81 oracle computes the
  * direct full aggregate and the hash compare proves the merge algebra.
  */
object Incremental {

  private def cents: org.apache.spark.sql.Column =
    round(col("value") * 100).cast("long")

  /** The mergeable per-(user, date) partial aggregate. */
  def goldPartial(silver: DataFrame): DataFrame =
    silver.groupBy(col("user_id"), col("event_date"))
      .agg(
        count(lit(1)).as("listen_count"),
        sum(cents).as("total_cents"),
        min(col("event_id")).as("first_event_id"))

  /** Merge two partials: full outer on the group keys, measures combine
    * by their monoid. The delta side is micro-batch-sized in production —
    * broadcast it and the stored side never reshuffles. */
  def merge(stored: DataFrame, delta: DataFrame): DataFrame = {
    val a = stored.select(col("user_id"), col("event_date"),
      col("listen_count").as("a_n"), col("total_cents").as("a_c"),
      col("first_event_id").as("a_f"))
    val b = delta.select(col("user_id"), col("event_date"),
      col("listen_count").as("b_n"), col("total_cents").as("b_c"),
      col("first_event_id").as("b_f"))
    a.join(b, Seq("user_id", "event_date"), "full_outer")
      .select(
        col("user_id"), col("event_date"),
        (coalesce(col("a_n"), lit(0L)) + coalesce(col("b_n"), lit(0L)))
          .as("listen_count"),
        (coalesce(col("a_c"), lit(0L)) + coalesce(col("b_c"), lit(0L)))
          .as("total_cents"),
        least(col("a_f"), col("b_f")).as("first_event_id"))
  }

  /** q81: carve silver into base (event_id % 10 != 0) and delta, maintain
    * incrementally, and emit the merged view — which the oracle checks
    * against a DIRECT full aggregation (merge algebra proven bit-exact). */
  def goldIncremental(spark: SparkSession, dir: String): DataFrame = {
    val silver = EventsPipeline.silver(spark, dir)
    val base = goldPartial(silver.filter(col("event_id") % 10 =!= 0))
    val delta = goldPartial(silver.filter(col("event_id") % 10 === 0))
    merge(base, delta)
      .orderBy(col("user_id").asc, col("event_date").asc)
  }

  // ----------------------------------------------- snapshot diff (q122)

  /** Deterministic "later snapshot" of the corpus for the diff op:
    * doc_id % 97 == 0 removed, % 89 == 0 edited (text appended),
    * % 101 == 0 re-added under a shifted id. Pure functions of doc_id —
    * the oracle rebuilds the identical snapshot. */
  def snapshotB(docs: DataFrame): DataFrame = {
    val kept = docs.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 89 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
    val added = docs.filter(col("doc_id") % 101 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    kept.unionByName(added)
  }

  /** q122: corpus snapshot diff — the reconciliation op between two
    * dataset versions (ingest audit, replication check, vendor refresh).
    * Each side reduces to (doc_id, content-hash) — at 100 TB the text
    * itself never moves, only 32-byte digests — then ONE full-outer
    * hash-shuffle join on doc_id classifies every id as
    * added/removed/changed/unchanged, and the census aggregates per
    * status. Linear, two scans, one shuffle. */
  def corpusDiff(docs: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id"), md5(col("text")).as("ha"))
    val b = snapshotB(docs).select(col("doc_id"), md5(col("text")).as("hb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("hb").isNull, "removed")
          .when(col("ha").isNull, "added")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("status").asc)
  }

  // ------------------------------------------- MERGE semantics (q129)

  /** q129: MERGE INTO as a composition — the warehouse upsert the
    * reference runs through Iceberg's MERGE (transform_job.py), spelled
    * engine-side so the SEMANTICS are portable and gate-checkable:
    * WHEN MATCHED AND op='delete' THEN DELETE, WHEN MATCHED THEN UPDATE,
    * WHEN NOT MATCHED AND op<>'delete' THEN INSERT. One full-outer
    * hash-shuffle join on the merge key — the same single-shuffle shape
    * a table format's MERGE compiles to before file rewriting.
    *
    * Target and change set are carved deterministically from the events:
    * target = gold over event_id % 3 != 0; changes = gold over
    * event_id % 3 == 0, with users ending in 0 as deletes. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val silver = EventsPipeline.silver(spark, dir)
    val target = EventsPipeline.goldDailyOf(silver.filter(col("event_id") % 3 =!= 0))
    val changes = EventsPipeline.goldDailyOf(silver.filter(col("event_id") % 3 === 0))
      .withColumn("op",
        when(col("user_id") % 10 === 0, lit("delete")).otherwise(lit("upsert")))
    target.as("t")
      .join(changes.as("c"), Seq("user_id", "event_date"), "full_outer")
      .withColumn("action",
        when(col("c.op").isNull, lit("keep"))            // no change row
          .when(col("c.op") === "delete",
            when(col("t.listen_count").isNotNull, lit("delete"))
              .otherwise(lit("skip")))                    // delete unmatched: no-op
          .when(col("t.listen_count").isNotNull, lit("update"))
          .otherwise(lit("insert")))
      .filter(col("action").isin("keep", "update", "insert"))
      .select(col("user_id"), col("event_date"),
        when(col("action") === "keep", col("t.listen_count"))
          .otherwise(col("c.listen_count")).as("listen_count"),
        when(col("action") === "keep", col("t.unique_types"))
          .otherwise(col("c.unique_types")).as("unique_types"),
        col("action"))
      .orderBy(col("user_id").asc, col("event_date").asc)
  }
}
