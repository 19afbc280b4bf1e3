package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class HistorySpec extends SparkSpecBase {

  private lazy val orders = Tables.orders(spark, sf)
  private lazy val hist = History.statusHistory(orders).cache()

  test("intervals tile: each valid_to equals the next valid_from") {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("valid_from").asc)
    val bad = hist
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull)
      .filter(col("valid_to") =!= col("next_from"))
    assert(bad.count() === 0)
  }

  test("exactly one open interval per customer") {
    val bad = hist.groupBy("o_custkey")
      .agg(sum(col("is_current").cast("long")).as("open"))
      .filter(col("open") =!= 1)
    assert(bad.count() === 0)
  }

  test("adjacent intervals never share a status (true state changes)") {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("valid_from").asc)
    val bad = hist
      .withColumn("next_status", lead(col("o_orderstatus"), 1).over(w))
      .filter(col("next_status").isNotNull)
      .filter(col("o_orderstatus") === col("next_status"))
    assert(bad.count() === 0)
  }

  test("interval order counts reconcile with the order log") {
    assert(hist.agg(sum("n_orders")).head().getLong(0) === orders.count())
  }

  test("property: intervals tile and reconcile for arbitrary order logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val rowGen = for {
      cust <- Gen.choose(0L, 3L)       // few customers → long per-key runs
      status <- Gen.oneOf("F", "O", "P")
      day <- Gen.choose(1, 10)         // few dates → same-date ties
    } yield (cust, status, java.sql.Date.valueOf(f"2024-01-$day%02d"))
    val batchGen = Gen.chooseNum(1, 50).flatMap(n => Gen.listOfN(n, rowGen))
    (1L to 6L).foreach { s =>
      val rows = batchGen(Gen.Parameters.default, Seed(s)).get
        .zipWithIndex.map { case ((c, st, d), i) => (i.toLong, c, st, d) }
      val orders = rows
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      val h = History.statusHistory(orders).cache()
      assert(h.agg(sum("n_orders")).head().getLong(0) === rows.size.toLong)
      val opens = h.groupBy("o_custkey")
        .agg(sum(col("is_current").cast("long")).as("open"))
        .filter(col("open") =!= 1).count()
      assert(opens === 0, s"seed $s: multiple open intervals")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("valid_from").asc)
      val broken = h
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .filter(col("valid_to").isNotNull &&
          col("valid_to") =!= col("next_from")).count()
      assert(broken === 0, s"seed $s: intervals do not tile")
    }
  }

  test("one exchange: windows and groupBy reuse the o_custkey partitioning") {
    // AQE renders the plan twice ("== Final Plan ==" then "== Initial
    // Plan =="); count exchanges in one rendering only.
    // Audit with the scan fan-out OFF so Tables.fanned contributes no
    // exchange — then count EVERY hash exchange (ENSURE_REQUIREMENTS and
    // REPARTITION_* alike): an accidental application-level repartition
    // must trip this bound, not hide behind the fan-out's exemption
    // (round-13 advice).
    val was = spark.conf.get("spark.graft.scan.fanout", "true")
    val plan = try {
      spark.conf.set("spark.graft.scan.fanout", "false")
      History.statusHistory(Tables.orders(spark, sf))
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.graft.scan.fanout", was)
    val oneRendering = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(oneRendering).length
    assert(exchanges <= 1,
      s"expected the custkey hash partitioning to be planned once:\n$plan")
  }
}
