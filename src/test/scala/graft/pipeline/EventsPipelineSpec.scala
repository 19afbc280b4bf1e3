package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class EventsPipelineSpec extends SparkSpecBase {

  test("bronze preserves row count and flattens props") {
    val bronze = EventsPipeline.bronze(spark, sf)
    assert(bronze.count() === 1000)
    assert(bronze.columns.toSet ===
      Set("event_id", "user_id", "event_type", "value", "prop_k", "ts", "event_date"))
  }

  test("silver dedup keeps at most one row per (user, second) and is deterministic") {
    val silver = EventsPipeline.silver(spark, sf)
    val dupGroups = silver
      .groupBy(col("user_id"), date_trunc("second", col("ts")))
      .count().filter(col("count") > 1).count()
    assert(dupGroups === 0)
  }

  test("silver dedup is idempotent") {
    val silver = EventsPipeline.silver(spark, sf)
    val bronzeCols = EventsPipeline.bronze(spark, sf).columns.map(col)
    val again = EventsPipeline.silverOf(silver.select(bronzeCols.toIndexedSeq: _*))
    assert(again.count() === silver.count())
    assert(again.select("event_id").except(silver.select("event_id")).count() === 0)
  }

  test("gold top-3 days is a subset of gold daily with <=3 rows per user") {
    val daily = EventsPipeline.goldDaily(spark, sf)
    val top3 = EventsPipeline.goldTop3Days(spark, sf)
    val perUser = top3.groupBy("user_id").count().agg(max("count")).head().getLong(0)
    assert(perUser <= 3)
    assert(top3.join(daily, Seq("user_id", "event_date"), "left_anti").count() === 0)
  }

  test("gold daily counts reconcile with silver") {
    val silverCnt = EventsPipeline.silver(spark, sf).count()
    val goldSum = EventsPipeline.goldDaily(spark, sf)
      .agg(sum("listen_count")).head().getLong(0)
    assert(goldSum === silverCnt)
  }

  test("silver cache is LRU-bounded: many dirs never exceed the cap") {
    // 2×cap distinct dirs, each a copy of the sf0.001 events table — the
    // per-session cache must evict (and unpersist) down to MaxCachedDirs.
    val dirs = (1 to EventsPipeline.MaxCachedDirs * 2).map { i =>
      val d = tmpDir(s"silver-lru-$i")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      d
    }
    val counts = dirs.map(d => EventsPipeline.silver(spark, d).count())
    assert(counts.distinct.size === 1) // same data in every dir
    assert(EventsPipeline.cachedDirCount(spark) <= EventsPipeline.MaxCachedDirs)
    // most-recent dir survives and is still persisted
    val latest = EventsPipeline.silver(spark, dirs.last)
    assert(latest.storageLevel.useMemory || latest.storageLevel.useDisk)
  }

  test("typed top-k Aggregator reproduces the window top-3 row for row") {
    import org.apache.spark.sql.functions._
    val viaAgg = EventsPipeline.goldTop3DaysTyped(spark, sf)
      .select("user_id", "event_date", "listen_count")
    val viaWindow = EventsPipeline.goldTop3Days(spark, sf)
      .select("user_id", "event_date", "listen_count")
      .orderBy(col("user_id").asc, col("listen_count").desc,
        col("event_date").asc)
    assert(viaAgg.collect().toSeq === viaWindow.collect().toSeq)
  }

  test("variant path extraction agrees with the schema-full from_json flatten") {
    import org.apache.spark.sql.functions._
    val viaVariant = EventsPipeline.variantFlatten(spark, sf)
    // rebuild the same rollup from the from_json bronze (schema-declared)
    val viaSchema = EventsPipeline.bronze(spark, sf)
      .groupBy(col("event_type"), expr("prop_k div 10").as("k_decile"))
      .agg(count(lit(1)).as("n"), min("prop_k").as("k_min"),
        max("prop_k").as("k_max"), count(lit(1)).as("n_missing"))
      .orderBy(col("event_type").asc, col("k_decile").asc)
    assert(viaVariant.collect().toSeq === viaSchema.collect().toSeq)
  }
}
