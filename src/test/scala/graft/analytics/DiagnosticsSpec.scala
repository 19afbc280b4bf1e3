package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class DiagnosticsSpec extends SparkSpecBase {

  private lazy val events = Tables.events(spark, sf)

  test("skew census agrees with a direct recount of the top key") {
    val out = Diagnostics.keySkewCensus(events).cache()
    assert(out.count() === 10)
    val top = out.filter(col("rank") === 1).head()
    val directTop = events.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id").asc).head()
    assert(top.getLong(1) === directTop.getLong(0)) // user_id
    assert(top.getLong(2) === directTop.getLong(1)) // cnt
  }

  test("shares are consistent: ppm bounded, ranks strictly ordered") {
    val out = Diagnostics.keySkewCensus(events)
    assert(out.filter(col("share_ppm") < 0 || col("share_ppm") > 1000000)
      .count() === 0)
    // counts must be non-increasing with rank
    val rows = out.orderBy(col("rank").asc).collect().map(_.getLong(2))
    assert(rows.zip(rows.tail).forall { case (a, b) => a >= b })
  }

  test("top-k plans as TakeOrdered, not a global window over all keys") {
    val plan = Diagnostics.keySkewCensus(events)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k in:\n$plan")
  }

  test("merkle buckets: partition-layout invariant, drift-sensitive") {
    val docs = graft.core.Tables.documents(spark, sf)
    val a = Diagnostics.merkleBuckets(docs).collect()
    assert(a.map(_.getLong(1)).sum === docs.count())
    // identical content under a different physical layout → identical digests
    val b = Diagnostics.merkleBuckets(docs.repartition(7)).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "checksums must not depend on partitioning or row order")
    // a single-field drift in a single row flips exactly that bucket
    import org.apache.spark.sql.functions._
    val drifted = Diagnostics.merkleBuckets(docs.withColumn("lang",
      when(col("doc_id") === 5, lit("xx")).otherwise(col("lang")))).collect()
    val diff = a.zip(drifted).filter { case (x, y) => x.toString != y.toString }
    assert(diff.length === 1 && diff.head._1.getLong(0) === 5L % 64,
      s"expected exactly bucket 5 to drift: ${diff.map(_._1).mkString}")
  }

  test("fanout histogram conserves both sides of the join") {
    val out = Diagnostics.fanoutHistogram(spark, sf).collect()
    val orders = graft.core.Tables.orders(spark, sf).count()
    val lineitems = graft.core.Tables.lineitem(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === orders)
    assert(out.map(_.getLong(2)).sum === lineitems)
    out.foreach(r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1), s"row math: $r"))
  }

  test("concentration: top decile holds a super-proportional share") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val r = Diagnostics.concentrationCensus(spark, silver).head()
    val (tu, total, te, totalE, ppm) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(tu * 10 >= total, "must cover at least a decile of users")
    assert(te <= totalE && ppm === te * 1000000L / totalE)
    // the top users' event share must be at least their user share
    assert(ppm.toDouble / 1e6 >= tu.toDouble / total - 1e-9,
      s"top users below proportional: $r")
    // brute-force check: sort users by count desc, take the tie-whole cut
    val counts = silver.groupBy("user_id").count().collect()
      .map(_.getLong(1)).sorted.reverse
    val need = (total + 9) / 10
    var cut = need.toInt - 1
    while (cut + 1 < counts.length && counts(cut + 1) == counts(cut)) cut += 1
    val expectedTop = counts.take(cut + 1).sum
    assert(te === expectedTop, s"tie-whole cut mismatch: $te vs $expectedTop")
  }

  test("join-cardinality audit: exact term equals the real join size") {
    import org.apache.spark.sql.functions._
    val r = Diagnostics.joinCardAudit(spark, sf).head()
    graft.core.Caches.releaseScratch(spark)
    val events = graft.core.Tables.events(spark, sf)
    val orders = graft.core.Tables.orders(spark, sf)
    val real = events.join(orders,
      events("user_id") === orders("o_custkey")).count()
    assert(r.getAs[Long]("exact_rows") === real,
      "predicted-exact cardinality disagrees with the executed join")
    assert(r.getAs[Long]("n_a") === events.count())
    assert(r.getAs[Long]("n_b") === orders.count())
    val (exact, est, err) = (r.getAs[Long]("exact_rows"),
      r.getAs[Long]("est_rows"), r.getAs[Long]("err_ppm"))
    assert(err === math.abs(est - exact) * 1000000L / exact)
  }

  test("selectivity audit: probes disjoint, estimates within histogram error") {
    val out = Diagnostics.selectivityAudit(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.length === 4)
    // probes tile [5%, 99.7%) without overlap
    out.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getLong(2) === w(1).getLong(1)) }
    val total = graft.core.Tables.orders(spark, sf).count()
    assert(out.map(_.getLong(3)).sum <= total)
    out.foreach { r =>
      val (exact, est, err) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(exact > 0L, s"empty probe range makes the audit vacuous: $r")
      assert(err === math.abs(est - exact) * 1000000L / exact)
      // 1024 bins over a quarter-span probe: interpolation error is a
      // fraction of two edge bins — 5% is an order of magnitude slack
      assert(err <= 50000L, s"histogram estimate off by >5%: $r")
    }
  }

  test("range-partition balance: all rows assigned, buckets near equi-depth") {
    val out = Diagnostics.rangePartitionBalance(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    val total = graft.core.Tables.orders(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === total, "rows lost in assignment")
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    // equi-depth from a 2% sample: no range should hold more than ~4x
    // the ideal 1/32 share (sampling noise scales with 1/sqrt(sample))
    val worst = out.map(_.getLong(2)).max
    assert(worst <= 4 * 1000000L / 32,
      s"range boundaries badly skewed: worst share $worst ppm")
  }

  test("event near-dups: planted tolerant pairs found, out-of-tolerance not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // (user, type, id, sec, value): a/b within 200s+5.00 -> pair;
    // c/d straddle the 300s bucket boundary at gap 2s -> pair (neighbor
    // bucket catch); e/f 400s apart -> NOT a pair; g/h value gap 20.00
    // -> NOT a pair.
    val rows = Seq(
      (1L, "click", 1L, 1000L, 10.0), (1L, "click", 2L, 1200L, 15.0),
      (2L, "view", 3L, 299L, 1.0), (2L, "view", 4L, 301L, 1.0),
      (3L, "click", 5L, 5000L, 1.0), (3L, "click", 6L, 5400L, 1.0),
      (4L, "view", 7L, 9000L, 1.0), (4L, "view", 8L, 9010L, 21.01))
    val silver = rows.toDF("user_id", "event_type", "event_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Diagnostics.eventNearDupsOf(silver, 300L, 1000L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(out === Seq(("click", 1L, 2L, 200L, 200L), ("view", 1L, 2L, 2L, 2L)),
      s"got $out")
  }

  test("poisson bootstrap: replicate band brackets the truth, weights conserve mass") {
    val out = Diagnostics.poissonBootstrap(spark, sf).collect()
    assert(out.length === 32)
    val docs = graft.core.Tables.documents(spark, sf)
    val n = docs.count()
    val totTokens = docs
      .select(size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .cast("long").as("t"))
      .agg(sum(col("t"))).collect()(0).getLong(0)
    val trueMeanPpm = totTokens * 1000000L / n
    val means = out.map(_.getLong(3))
    // the 32-replicate band must bracket the plug-in mean (each replicate
    // is an unbiased resample; at 32 draws a one-sided miss is ~2^-32)
    assert(means.min <= trueMeanPpm && trueMeanPpm <= means.max,
      s"replicate band [${means.min}, ${means.max}] misses $trueMeanPpm")
    // Poisson(1) weights: every replicate's effective size is n ± a few
    // sd (sd = sqrt(n)); 6 sd is astronomically safe and still tight
    val sd6 = 6 * math.sqrt(n.toDouble).toLong + 1
    out.foreach { r =>
      assert(math.abs(r.getLong(1) - n) <= sd6, s"n_eff far from n: $r")
      assert(r.getLong(3) === r.getLong(2) * 1000000L / r.getLong(1))
    }
  }

  test("percentile sketch audit: exact values monotone, sketch inside 1%") {
    // percentileSketchDetail is the full audit (exact + sketch + verdict);
    // the oracle-gated percentileSketchAudit carries only the exact
    // columns (round-9 advice: a sketch drifting past 1% must fail HERE
    // as a named assertion, not as an opaque hash-gate divergence).
    val out = Diagnostics.percentileSketchDetail(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.map(_.getLong(0)).toSeq === Seq(50L, 90L, 99L))
    val ex = out.map(_.getLong(1))
    assert(ex.zip(ex.tail).forall { case (a, b) => a <= b },
      s"exact percentiles not monotone: ${ex.toSeq}")
    assert(out.forall(_.getBoolean(3)),
      s"percentile_approx drifted outside the 1% contract: " +
        out.map(r => s"p${r.getLong(0)} exact=${r.getLong(1)} approx=${r.getLong(2)}")
          .mkString(", "))
    val gated = Diagnostics.percentileSketchAudit(spark, sf)
    graft.core.Caches.releaseScratch(spark)
    assert(gated.columns.toSeq === Seq("pct", "exact_cents"),
      "the oracle-gated q256 surface must carry only the exact columns")
    // ground truth cross-check against a driver-side sort at spec scale
    val vals = graft.core.Tables.orders(spark, sf)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      .collect().map(_.getLong(0)).sorted
    val n = vals.length.toLong
    Seq(50L, 90L, 99L).zip(ex).foreach { case (p, e) =>
      assert(e === vals(((p * n + 99) / 100 - 1).toInt),
        s"p$p exact drifted from the sorted-array truth")
    }
  }

  test("robust outliers: hand-traced median/MAD month, fat finger flagged") {
    import spark.implicits._
    // cents [1000, 2000, 3000, 100000]: n=4 → lower median at pos 2 =
    // 2000; deviations [1000, 0, 1000, 98000] → MAD = 1000; only the
    // fat-finger order exceeds 2×MAD.
    val d = java.sql.Date.valueOf("1995-03-15")
    val orders = Seq((1L, d, 10.00), (2L, d, 20.00), (3L, d, 30.00),
      (4L, d, 1000.00))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = Diagnostics.robustOutlierCensus(orders).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(r.length === 1)
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4)) === ((4L, 2000L, 1000L, 1L)))
  }

  test("Benford audit: digits partition the orders, constants exact, deviation lawful") {
    import spark.implicits._
    val orders = Tables.orders(spark, sf)
    val out = Diagnostics.benfordAudit(orders).collect()
    assert(out.map(_.getInt(0)).toSeq === (1 to 9))
    assert(out.map(_.getLong(1)).sum === orders.filter(col("o_totalprice") > 0).count())
    // the published constants sum to 1e6 exactly
    assert(out.map(_.getLong(3)).sum === 1000000L)
    out.foreach { r =>
      assert(r.getLong(4) === math.abs(r.getLong(2) - r.getLong(3)))
    }
    // hand-planted Benford-ish set: powers of 2 are famously Benford —
    // first digits of 2^0..2^29 put 9 ones, 6 twos ... deviation small
    val pow2 = (0 until 30).map(i => (i.toLong, java.sql.Date.valueOf("1995-01-01"),
      BigDecimal(2).pow(i).toDouble / 100.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val p = Diagnostics.benfordAudit(pow2).collect()
    assert(p.head.getLong(1) === 9L, "2^k first-digit-1 count is 9 of 30")
    assert(p.head.getLong(4) < 50000L, "powers of two should be near-Benford")
  }

  test("robust outliers over the corpus: orders conserved, flags lawful") {
    val orders = Tables.orders(spark, sf)
    val out = Diagnostics.robustOutlierCensus(orders).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.map(_.getLong(1)).sum === orders.count(), "orders not conserved")
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), s"more outliers than orders: $r")
      assert(r.getLong(3) >= 0 && r.getLong(2) > 0, s"degenerate stats: $r")
      // the lower median is an actual element: at least half the month
      // sits at or below it — re-checkable, but elementhood suffices here
    }
    // the uniform price fixture must produce SOME 2×MAD outliers (the
    // degenerate all-zero column was the round-11 design smell test)
    assert(out.map(_.getLong(4)).sum > 0, "flag column is degenerate")
  }

  test("q290 conformal: q-hat is the ceil(0.9(n+1))-th calibration score") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Diagnostics.conformalCoverage(silver).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(6)))).toMap
    // re-derive per type from the raw split (same hash, driver-side)
    import org.apache.spark.sql.functions._
    val raw = silver.select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        (conv(substring(md5(concat(lit("conf:"),
          col("event_id").cast("string"))), 1, 15), 16, 10).cast("long")
          % 10 < 5).as("is_cal"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    raw.groupBy(_._1).foreach { case (t, rows) =>
      val cal = rows.filter(_._3).map(_._2).sorted
      val med = cal((cal.length + 1) / 2 - 1)
      val nc = cal.map(v => math.abs(v - med)).sorted
      val pos = math.min((9 * (cal.length + 1) + 9) / 10, cal.length)
      val (nCal, medC, qhat, coverPpm) = out(t)
      assert(nCal === cal.length.toLong)
      assert(medC === med)
      assert(qhat === nc(pos - 1))
      assert(coverPpm >= 0L && coverPpm <= 1000000L)
    }
  }
}
