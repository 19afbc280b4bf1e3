package graft

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Proof that the runtime scale levers the engine relies on at 100 TB
  * actually fire on this Spark build — not just that the confs exist.
  * Thresholds are lowered to make local[4]-sized data cross them; the
  * MECHANISM exercised (AQE skew split, runtime bloom-filter pushdown)
  * is byte-for-byte the one a 1000-executor cluster uses at defaults.
  */
class ScaleLeversSpec extends SparkSpecBase {

  test("AQE splits the skewed partition of a hot-key sort-merge join") {
    import spark.implicits._
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.shuffle.partitions" -> "8") {
      // one hot key carrying 95% of all rows (~150× the median
      // partition's bytes); the pad must derive from id (a literal would
      // constant-fold ABOVE the join and ship nothing through the
      // shuffle) and be incompressible (repeated chars vanish under lz4
      // and dodge the byte threshold)
      val left = spark.range(100000)
        .select(when(col("id") % 20 === 0, col("id") % 100).otherwise(0L).as("k"),
          concat(md5(col("id").cast("string")),
            md5((col("id") + 1).cast("string")),
            md5((col("id") + 2).cast("string")),
            md5((col("id") + 3).cast("string"))).as("pad"))
      val right = spark.range(100).select(col("id").as("k"), lit(1).as("r"))
      val joined = left.join(right, "k")
      // collect() drives THIS df's query execution so the AQE final plan
      // (where the skew split is visible) is the one inspected
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not fire:\n$plan")
    }
  }

  test("CBO column statistics produce filtered-cardinality estimates") {
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      spark.sql("CREATE DATABASE IF NOT EXISTS cbo_lever")
      try {
        Tables.orders(spark, sf)
          .write.mode("overwrite").saveAsTable("cbo_lever.orders_t")
        spark.sql(
          "ANALYZE TABLE cbo_lever.orders_t COMPUTE STATISTICS FOR ALL COLUMNS")
        val filtered = spark.table("cbo_lever.orders_t")
          .filter(col("o_orderpriority") === "1-URGENT")
        val stats = filtered.queryExecution.optimizedPlan.stats
        // with column stats the optimizer KNOWS the filter keeps ~1/5 of
        // rows — the 100 TB lever that turns a would-be SMJ into a
        // broadcast after a selective dim filter
        assert(stats.rowCount.isDefined, "CBO produced no cardinality")
        val est = stats.rowCount.get.toLong
        val actual = filtered.count()
        assert(est > 0 && est < actual * 5 && actual < est * 5,
          s"estimate $est far from actual $actual")
        // sanity: the same plan WITHOUT stats-backed relation carries no
        // row-count estimate (plain file scan)
        val bare = Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT")
          .queryExecution.optimizedPlan.stats
        assert(bare.rowCount.isEmpty)
      } finally {
        spark.sql("DROP TABLE IF EXISTS cbo_lever.orders_t")
        spark.sql("DROP DATABASE IF EXISTS cbo_lever")
      }
    }
  }

  test("runtime bloom filter from a selective dim filter prunes the fact scan") {
    withConfs(
      // both sides of the real gate are sizes this fixture can't reach;
      // zeroing the application-side floor exercises the injection rule
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      // InjectRuntimeFilter will not thread a filter through the scan
      // fan-out's RepartitionByExpression; at real scale (many row
      // groups) the fan-out never fires, so demonstrate on bare scans
      "spark.graft.scan.fanout" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = fact.join(orders, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_might_contain") ||
        optimized.contains("might_contain"),
        s"runtime bloom filter not injected:\n$optimized")
    }
  }

  test("join strategy hints are honored (broadcast / shuffle_hash / merge)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val o = Tables.orders(spark, sf).select("o_orderkey")
    def planOf(hint: String) =
      li.join(o.hint(hint), li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
    // per-join overrides are the manual lever when AQE's global choice is
    // wrong for ONE join in a large plan
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("Observation collects QA counters in the SAME pass (no second scan)") {
    import org.apache.spark.sql.Observation
    val obs = Observation("silver-qa")
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    // DISTINCT aggregates are disallowed in observed metrics (they would
    // force a shuffle inside the pass) — the sketch is the correct spell
    val observed = silver.observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
      approx_count_distinct(col("user_id"), 0.02).as("users_est"))
    // ONE action drives both the business result and the QA counters —
    // at 100 TB the alternative is a second full scan per audit metric
    val gold = observed.groupBy("user_id").count().count()
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] === silver.count())
    val est = m("users_est").asInstanceOf[Long]
    assert(math.abs(est - gold) <= math.max(1L, gold / 20))
    assert(m("null_values").asInstanceOf[Long] ===
      silver.filter(col("value").isNull).count())
  }
}
