package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class StarQueriesSpec extends SparkSpecBase {

  test("pricing summary: 6 flag/status groups covering all lineitems") {
    val out = StarQueries.pricingSummary(spark, sf).collect()
    assert(out.length === 6)
    val total = out.map(_.getAs[Long]("count_order")).sum
    assert(total === 6000)
  }

  test("customer share percentages sum to 100") {
    val total = StarQueries.customerShareByNation(spark, sf)
      .agg(sum("pct")).head().getDouble(0)
    assert(math.abs(total - 100.0) < 1e-9)
  }

  test("rollup emits the grand-total row") {
    val out = StarQueries.ordersRollup(spark, sf)
    val grand = out.filter(col("o_year").isNull && col("o_orderpriority").isNull)
    assert(grand.count() === 1)
    assert(grand.head().getAs[Long]("cnt") === 1500)
  }

  test("semi + anti partition the customer table") {
    val withOrders = StarQueries.segmentsWithOrders(spark, sf)
      .agg(sum("customers_with_orders")).head().getLong(0)
    val without = StarQueries.customersWithoutOrders(spark, sf).count()
    assert(withOrders + without === 150)
  }

  test("dimension joins broadcast (no shuffle on the dim side)") {
    val plan = StarQueries.revenueByRegion(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("decimal outlier census equals the double z-score computation") {
    import org.apache.spark.sql.functions._
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val got = StarQueries.outlierCensus(spark, silver).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_outliers")).toMap
    // double-precision twin (rounded to cents first, same as the decimal
    // path); no value sits near enough the 3σ boundary to flip
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val dbl = silver.filter(col("value").isNotNull)
      .withColumn("x", round(col("value"), 2))
      .withColumn("m", avg(col("x")).over(w))
      .withColumn("s", stddev_pop(col("x")).over(w))
      .filter(abs(col("x") - col("m")) > col("s") * 3)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.filter(_._2 > 0) === dbl)
    assert(got.values.sum > 0, "census found no outliers — degenerate input")
  }

  test("gini ppm: zero for uniform engagement, (n-1)/n for a monopolist") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def gini(counts: Seq[(Long, Int)]): Long = {
      val silver = counts.flatMap { case (u, k) => Seq.fill(k)(u) }
        .toDF("user_id").withColumn("event_type", lit("play"))
      StarQueries.giniPpm(spark, silver).head().getAs[Long]("gini_ppm")
    }
    assert(gini(Seq(1L -> 4, 2L -> 4, 3L -> 4, 4L -> 4)) === 0L)
    // one user holds everything: G = (n-1)/n = 0.75
    assert(gini(Seq(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 97)) > 600000L)
    val sfG = StarQueries.giniPpm(spark,
      graft.pipeline.EventsPipeline.silver(spark, sf)).head().getAs[Long]("gini_ppm")
    assert(sfG >= 0L && sfG < 1000000L)
  }

  test("exact moments are partition-order invariant and track double math") {
    import org.apache.spark.sql.functions._
    val a = StarQueries.exactMoments(spark, sf).collect()
    // exactness: recomputing over a different partitioning is IDENTICAL
    // (double summation would drift in the last ulps)
    val spark2 = spark
    val li = graft.core.Tables.lineitem(spark2, sf).repartition(7)
    li.createOrReplaceTempView("em_scrambled")
    val b = StarQueries.exactMoments(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    // sanity: decimal covariance numerator ≈ n²·covar_pop from doubles
    val d = graft.core.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(covar_pop(col("l_quantity"), col("l_extendedprice")).as("cv"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    a.foreach { r =>
      val (cv, n) = d(r.getString(0))
      // cov_num_w is the FLOORed whole-unit numerator (scale-4 fraction
      // dropped), so the tolerance is the flooring loss (<1) plus double
      // rounding in covar_pop
      val covFromLong = r.getAs[Long]("cov_num_w").toDouble / (n.toDouble * n)
      assert(math.abs(covFromLong - cv) <= math.abs(cv) * 1e-9 + 1.0 / n,
        s"floored-long $covFromLong vs double $cv")
    }
  }

  test("part skyline matches the brute-force dominance definition") {
    val sky = StarQueries.partSkyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = graft.core.Tables.part(spark, sf)
      .select(round(col("p_retailprice") * 100).cast("long").as("c"),
        col("p_size").cast("long").as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = pairs.filter { case (c, s) =>
      !pairs.exists { case (c2, s2) =>
        c2 <= c && s2 >= s && (c2 < c || s2 > s)
      }
    }.toSet
    assert(sky === brute,
      s"skyline mismatch: missing=${brute -- sky} extra=${sky -- brute}")
    // frontier shape: sorted by price, sizes strictly increase
    val byPrice = sky.toSeq.sortBy(_._1)
    byPrice.sliding(2).foreach {
      case Seq((c1, s1), (c2, s2)) =>
        assert(c1 < c2 && s1 < s2, s"not a frontier: ($c1,$s1) then ($c2,$s2)")
      case _ => ()
    }
  }

  test("supplier revenue: broadcast chain covers all lineitems once") {
    val out = StarQueries.revenueBySupplierNation(spark, sf).cache()
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("n_items")).sum ===
      graft.core.Tables.lineitem(spark, sf).count())
    assert(rows.map(_.getAs[Long]("n_suppliers")).sum ===
      graft.core.Tables.supplier(spark, sf).count(),
      "every supplier belongs to exactly one nation")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    out.unpersist()
  }

  test("rfm segments partition all customers with sane bucket values") {
    val out = StarQueries.rfmSegments(spark, sf).collect()
    val customers = graft.core.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(out.map(_.getLong(3)).sum === customers,
      "every ordering customer lands in exactly one segment")
    out.foreach { r =>
      assert(r.getLong(0) >= 0L, s"negative recency: $r")
      assert(r.getLong(1) >= 0L, s"negative log2 frequency: $r")
      assert(r.getLong(2) >= 0L, s"negative monetary bucket: $r")
    }
    // f_bucket is floor(log2(n_orders)): spot-check against a customer
    val c = graft.core.Tables.orders(spark, sf)
      .groupBy("o_custkey").count().head()
    val want = 63 - java.lang.Long.numberOfLeadingZeros(c.getLong(1))
    assert(want >= 0 && out.map(_.getLong(1)).max >= want.toLong - 60,
      "bit-length bucket sanity")
  }

  test("benford census: digits 1-9 partition all orders, ppm sums to ~1e6") {
    val out = StarQueries.benfordCensus(spark, sf).collect()
    val orders = graft.core.Tables.orders(spark, sf).count()
    assert(out.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    assert(out.map(_.getLong(1)).sum === orders)
    val ppm = out.map(_.getLong(2)).sum
    assert(ppm > 1000000L - 10 && ppm <= 1000000L, s"ppm total $ppm")
    // leading digit agrees with plain string inspection on a sample
    val sample = graft.core.Tables.orders(spark, sf)
      .select("o_totalprice").limit(50).collect().map(_.getDouble(0))
    sample.foreach { p =>
      val d = math.round(p * 100).toString.head.asDigit
      assert(d >= 1 && d <= 9)
    }
  }

  test("order consistency audit: counts conserve, childless = anti-join count") {
    val out = StarQueries.orderConsistency(spark, sf).collect()
    assert(out.nonEmpty)
    val o = graft.core.Tables.orders(spark, sf)
    val li = graft.core.Tables.lineitem(spark, sf)
    assert(out.map(_.getLong(1)).sum === o.count())
    val childless = o.join(
      li.select(col("l_orderkey").as("o_orderkey")).distinct(),
      Seq("o_orderkey"), "left_anti").count()
    assert(out.map(_.getLong(3)).sum === childless)
    out.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) <= r.getLong(1),
        s"exact + childless exceed orders: $r")
      assert(r.getLong(4) >= 0L)
    }
  }

  test("backlog aging conserves order count and total cents") {
    val out = StarQueries.orderBacklogAging(spark, sf).collect()
    assert(out.nonEmpty)
    val o = graft.core.Tables.orders(spark, sf)
    assert(out.map(_.getLong(2)).sum === o.count())
    val cents = o.select(
      sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))).head().getLong(0)
    assert(out.map(_.getLong(3)).sum === cents)
    out.foreach(r => assert(r.getInt(1) >= 0, s"negative age: $r"))
  }

  test("frequent triples match a driver-side basket scan") {
    val out = StarQueries.frequentTriples(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty && out.length <= 10)

    val baskets = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getLong(1)).sorted.toSeq)
    val counts = collection.mutable.Map[(Long, Long, Long), Long]()
    baskets.foreach { ps =>
      ps.combinations(3).foreach { case Seq(a, b, c) =>
        counts((a, b, c)) = counts.getOrElse((a, b, c), 0L) + 1
      }
    }
    val expected = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq === expected)
  }

  test("rank agreement: pair classes partition k(k-1)/2, tau_num consistent") {
    val r = StarQueries.rankAgreement(spark, sf).head()
    val (k, nPairs, c, d, t, tau) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(k === 50L && nPairs === 50L * 49 / 2)
    assert(c + d + t === nPairs, "pair classes do not partition the pairs")
    assert(tau === c - d)
    // revenue and order frequency must correlate positively on TPC-H-ish
    // facts (more orders -> more revenue opportunities)
    assert(tau > 0L, s"expected positive rank correlation: $r")
  }

  test("hierarchy shares: ratio-to-parent conserves within floor loss") {
    val out = StarQueries.hierarchyShares(spark, sf).collect()
    assert(out.nonEmpty)
    // per region: nation shares sum to 1e6 minus at most one ppm per
    // nation (floor division loss); region shares likewise over regions
    out.groupBy(_.getString(0)).foreach { case (region, rows) =>
      val s = rows.map(_.getLong(3)).sum
      assert(s <= 1000000L && s > 1000000L - rows.length,
        s"region $region nation shares sum to $s")
      // one region share value repeated per nation row
      assert(rows.map(_.getLong(4)).distinct.length === 1)
    }
    val regionShares = out.groupBy(_.getString(0))
      .map(_._2.head.getLong(4)).toSeq
    val rs = regionShares.sum
    assert(rs <= 1000000L && rs > 1000000L - regionShares.length,
      s"region shares sum to $rs")
    // grand total of cents equals the independently computed joined total
    val o = graft.core.Tables.orders(spark, sf)
    val c = graft.core.Tables.customer(spark, sf)
    val total = o.join(c, o("o_custkey") === c("c_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")))
      .head().getLong(0)
    assert(out.map(_.getLong(2)).sum === total)
  }
}
