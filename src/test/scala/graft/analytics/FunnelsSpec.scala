package graft.analytics

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class FunnelsSpec extends SparkSpecBase {

  private def silverRow(id: Long, user: Long, tpe: String, sec: Long) =
    (id, new Timestamp(1700000000000L + sec * 1000), user, tpe, 1.0, 1,
      new java.sql.Date(1700000000000L))

  private def silverOf(rows: Seq[(Long, Timestamp, Long, String, Double, Int, java.sql.Date)]) = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "prop_k",
      "event_date")
  }

  test("funnel stages are monotone on the fixture corpus") {
    val r = Funnels.funnel(
      graft.pipeline.EventsPipeline.silver(spark, sf)).head()
    val (users, v, c, p) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(users >= v && v >= c && c >= p)
    assert(v > 0 && c > 0, "fixture must exercise at least two stages")
  }

  test("funnel ordering: a purchase BEFORE the first view does not count") {
    val silver = silverOf(Seq(
      // u1: view(10) -> click(20) -> purchase(30): full funnel
      silverRow(1, 1, "view", 10), silverRow(2, 1, "click", 20),
      silverRow(3, 1, "purchase", 30),
      // u2: purchase(5) then view(10): purchase must NOT count, click absent
      silverRow(4, 2, "purchase", 5), silverRow(5, 2, "view", 10),
      // u3: click(5) then view(10) then click never again: click must NOT count
      silverRow(6, 3, "click", 5), silverRow(7, 3, "view", 10)))
    val r = Funnels.funnel(silver).head()
    assert(r.getLong(0) === 3) // users
    assert(r.getLong(1) === 3) // all three viewed
    assert(r.getLong(2) === 1) // only u1's click is after a view
    assert(r.getLong(3) === 1) // only u1 purchases in order
  }

  test("retention cohorts: retained counts bounded by cohort size") {
    val out = Funnels.retentionCohorts(
      graft.pipeline.EventsPipeline.silver(spark, sf)).cache()
    assert(out.count() > 0)
    assert(out.filter(col("d1_retained") > col("cohort_users")).count() === 0)
    assert(out.filter(col("d7_retained") > col("cohort_users")).count() === 0)
    // every user belongs to exactly one cohort
    val total = out.agg(sum("cohort_users")).head().getLong(0)
    val users = graft.pipeline.EventsPipeline.silver(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(total === users)
  }

  test("event transitions: lead pairs, exact ppm, row-stochastic") {
    val silver = silverOf(Seq(
      // u1: a -> b -> a  (pairs: a->b, b->a)
      silverRow(1, 1, "a", 10), silverRow(2, 1, "b", 20),
      silverRow(3, 1, "a", 30),
      // u2: a -> b       (pair: a->b); no cross-user pair with u1
      silverRow(4, 2, "a", 40), silverRow(5, 2, "b", 50)))
    val got = Funnels.eventTransitions(silver).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("a", "b", 2L, 1000000L), // both a-pairs go to b
      ("b", "a", 1L, 1000000L)))
    // fixture corpus: per-prev ppm sums can only round DOWN from 1e6
    val rows = Funnels.eventTransitions(
      graft.pipeline.EventsPipeline.silver(spark, sf)).collect()
    val byPrev = rows.groupBy(_.getString(0))
    byPrev.foreach { case (_, rs) =>
      val ppmSum = rs.map(_.getLong(4)).sum
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - rs.length)
      assert(rs.map(_.getLong(2)).sum === rs.head.getLong(3)) // row_total
    }
  }

  test("motif census: hand-traced triples, prefix-conditional ppm") {
    import spark.implicits._
    // user 1: a b a b  -> (a,b,a), (b,a,b); user 2: a b c -> (a,b,c)
    val sv = Seq(
      (1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "a"), (4L, 1L, "b"),
      (5L, 2L, "a"), (6L, 2L, "b"), (7L, 2L, "c"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", col("event_id").cast("timestamp"))
    val got = Funnels.motifCensus(sv).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("a", "b", "a", 1L, 500000L),
      ("a", "b", "c", 1L, 500000L),
      ("b", "a", "b", 1L, 1000000L)))
    // corpus: motif totals reconcile with the transition pair counts
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val motifs = Funnels.motifCensus(silver)
    val perUser = silver.groupBy("user_id").count().collect()
      .map(r => math.max(0L, r.getLong(1) - 2)).sum
    assert(motifs.agg(sum("n")).head().getLong(0) === perUser,
      "triple count must be n_events - 2 per user")
  }

  test("ship latency: buckets tile the exact day-gap range, floor on negatives") {
    val out = StarQueries.shipLatency(spark, sf).collect()
    out.foreach { r =>
      val (b, lo, hi) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(lo <= hi)
      // min/max sit inside the week bucket [7b, 7b+6] — including the
      // negative buckets (floor semantics, not truncate-toward-zero)
      assert(lo >= 7 * b && hi <= 7 * b + 6, s"bucket breach: $r")
    }
    val total = out.map(_.getLong(2)).sum
    assert(total === graft.core.Tables.lineitem(spark, sf).count())
    assert(out.exists(_.getLong(1) < 0), "fixture has negative gaps")
  }

  test("markov stationary: deterministic 2-cycle settles at the uniform point") {
    // one user alternating a,b,a,b,a → P is the exact 2-cycle; the
    // uniform start is already stationary, so 20 iterations change nothing
    val silver = silverOf(Seq(
      silverRow(1, 1, "a", 10), silverRow(2, 1, "b", 20),
      silverRow(3, 1, "a", 30), silverRow(4, 1, "b", 40),
      silverRow(5, 1, "a", 50)))
    val out = Funnels.markovStationary(silver).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 500000L, "b" -> 500000L))
  }

  test("markov stationary: skewed chain converges near its exact fixpoint") {
    // a a a a b a → P(a→a)=3/4, P(a→b)=1/4, P(b→a)=1; fixpoint
    // (800000, 200000) in ppm
    val silver = silverOf(Seq(
      silverRow(1, 1, "a", 10), silverRow(2, 1, "a", 20),
      silverRow(3, 1, "a", 30), silverRow(4, 1, "a", 40),
      silverRow(5, 1, "b", 50), silverRow(6, 1, "a", 60)))
    val out = Funnels.markovStationary(silver).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("a") - 800000L) <= 100L, s"a off fixpoint: $out")
    assert(math.abs(out("b") - 200000L) <= 100L, s"b off fixpoint: $out")
    // repeatable bit-for-bit (floored integer arithmetic, no float path)
    val again = Funnels.markovStationary(silver).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === out)
  }

  test("last-touch attribution: lookback honored, orphans go to none") {
    val day = 86400L
    val silver = silverOf(Seq(
      // u1: view then purchase next day → attributed to view
      silverRow(1, 1, "view", 0), silverRow(2, 1, "purchase", day),
      // u2: click then purchase 8 days later → outside 7d → none
      silverRow(3, 2, "click", 0), silverRow(4, 2, "purchase", 8 * day),
      // u3: purchase with no preceding touch at all → none
      silverRow(5, 3, "purchase", 0),
      // u4: one view credits BOTH later purchases (within window)
      silverRow(6, 4, "view", 0), silverRow(7, 4, "purchase", day),
      silverRow(8, 4, "purchase", 2 * day)))
    val out = Funnels.lastTouchAttribution(silver).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("view") === ((3L, 3L * 1000000L / 5L)))
    assert(out("none")._1 === 2L)
    assert(!out.contains("click"), "stale click must not appear as a bucket")
    assert(out.values.map(_._1).sum === 5L, "every purchase attributed once")
  }

  test("markov stationary on sf data: mass bounded, all types present") {
    val out = Funnels.markovStationary(
      graft.pipeline.EventsPipeline.silver(spark, sf)).collect()
    assert(out.length === 5)
    val mass = out.map(_.getLong(1)).sum
    assert(mass <= 1000000L, "flooring can only lose mass")
    assert(mass >= 990000L, "lost more mass than 20 floors can explain")
  }

  test("event trigrams match a driver-side path scan") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Funnels.eventTrigrams(silver).collect()
    assert(out.nonEmpty && out.length <= 10)

    val byUser = silver.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")).collect()
      .groupBy(_.get(0).toString)
    val counts = collection.mutable.Map[(String, String, String), Long]()
    byUser.values.foreach { rows =>
      val seq = rows.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        .map(_.getString(3)).toSeq
      seq.sliding(3).foreach {
        case Seq(a, b, c) =>
          counts((a, b, c)) = counts.getOrElse((a, b, c), 0L) + 1
        case _ =>
      }
    }
    val expected = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    assert(out.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getLong(3))).toSeq === expected)
  }

  test("revenue retention: own-week NRR is exactly 1e6, cents conserve") {
    import org.apache.spark.sql.functions._
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Funnels.revenueRetention(silver).collect()
    assert(out.nonEmpty)
    out.filter(r => r.getLong(0) == r.getLong(1))
      .foreach(r => assert(r.getLong(4) === 1000000L, s"own-week NRR != 1: $r"))
    // total cents across cells == total cents in the 28-day window
    val d0 = silver.agg(min(col("event_date"))).head().getDate(0).toString
    val total = silver
      .filter(datediff(col("event_date"), lit(d0)) < 28)
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)"))).head().getLong(0)
    assert(out.map(_.getLong(3)).sum === total, "cents not conserved")
  }

  test("U-shaped attribution: hand-traced credit split, lookback enforced") {
    // user 1: view, click, view → purchase: first/last views take 400k
    // each, the middle click 200k. user 2: one click → purchase: 1e6.
    // user 3: a touch OUTSIDE the 7-day lookback earns nothing.
    val sv = silverOf(Seq(
      silverRow(1, 1, "view", 10), silverRow(2, 1, "click", 20),
      silverRow(3, 1, "view", 30), silverRow(4, 1, "purchase", 40),
      silverRow(5, 2, "click", 10), silverRow(6, 2, "purchase", 20),
      silverRow(7, 3, "view", 10),
      silverRow(8, 3, "purchase", 10 + 8 * 24 * 3600)))
    val out = Funnels.uShapedAttribution(sv).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("view") === ((1L, 800000L)), "first+last views take 2×400k")
    assert(out("click") === ((2L, 1200000L)), "middle 200k + solo 1e6")
    assert(!out.contains("purchase"), "purchases are conversions, not touches")
  }

  test("churn hazard: hand-traced at-risk and churn counts") {
    // u1 active days 1–3, u2 days 2–3, u3 day 2 only:
    //  day1: risk {u1}, churn 0; day2: risk {u1,u2,u3}, churn {u3};
    //  day3: risk {u1,u2}, churn both → hazard 1e6.
    val day = 24 * 3600L
    val sv = silverOf(Seq(
      silverRow(1, 1, "view", 0), silverRow(2, 1, "view", 2 * day),
      silverRow(3, 2, "view", 1 * day), silverRow(4, 2, "view", 2 * day),
      silverRow(5, 3, "view", 1 * day)))
    val out = Funnels.churnHazard(sv).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === Seq((1L, 0L, 0L), (3L, 1L, 333333L), (2L, 2L, 1000000L)))
  }

  test("churn hazard over the corpus: risk monotone bookkeeping, final-day censoring") {
    val out = Funnels.churnHazard(
      graft.pipeline.EventsPipeline.silver(spark, sf)).collect()
    assert(out.nonEmpty)
    val users = graft.pipeline.EventsPipeline.silver(spark, sf)
      .select("user_id").distinct().count()
    assert(out.map(_.getLong(2)).sum === users,
      "every user churns exactly once in a right-censored window")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"more churned than at risk: $r")
      assert(r.getLong(3) <= 1000000L)
    }
    // right-censoring: the final observed day's hazard is maximal (1e6)
    assert(out.last.getLong(3) === 1000000L, "censoring spike missing")
  }

  test("median polish: decomposition reconstructs cells, effects are real medians") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Funnels.medianPolish(silver).collect()
    assert(out.length <= 7 * 24)
    // cell = row effect + column effect + residual, exactly
    out.foreach { r =>
      assert(r.getLong(2) === r.getLong(3) + r.getLong(4) + r.getLong(5),
        s"decomposition broken: $r")
    }
    // per weekday, the row median is the lower median of its cells
    out.groupBy(_.getLong(0)).foreach { case (wd, rows) =>
      val cnts = rows.map(_.getLong(2)).sorted
      val med = cnts((cnts.length + 1) / 2 - 1)
      assert(rows.head.getLong(3) === med, s"wd $wd row median wrong")
    }
    // a robust fit leaves at least one exactly-zero residual per row
    out.groupBy(_.getLong(0)).foreach { case (wd, rows) =>
      assert(rows.map(r => r.getLong(2) - r.getLong(3)).contains(
        rows.map(r => r.getLong(2) - r.getLong(3)).sorted.apply(
          (rows.length + 1) / 2 - 1)), s"wd $wd median not an element")
    }
  }

  test("fano burstiness: planted metronome scores 0, planted burst scores high") {
    // metronome user: 1 event/day for 10 days → variance 0 → fano 0.
    // bursty user: 10 events on one day, 1 on nine others → fano ≫ 0.5e6.
    val day = 24 * 3600L
    val rows =
      (0 until 10).map(i => silverRow(i.toLong, 1, "view", i * day)) ++
        (0 until 9).map(i => silverRow(100L + i, 2, "view", i * day)) ++
        (0 until 10).map(i => silverRow(200L + i, 2, "view", 9 * day + i))
    val out = Funnels.fanoBurstiness(silverOf(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 2L, "both users meet the 5-day support floor")
    assert(r.getLong(3) > 500000L, "bursty user must overdisperse")
    assert(r.getLong(4) === 1L, "exactly the bursty user is flagged")
  }

  test("U-shaped attribution over the corpus: credit conserves per conversion") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Funnels.uShapedAttribution(silver).collect()
    assert(out.nonEmpty, "fixture must have attributable purchases")
    // direct recount of touched conversions: every one distributes at
    // most 1e6 ppm and at least 1e6 − (n−2) (middle-split floor loss)
    val touched = silver.as("p").join(silver.as("e"),
        col("e.user_id") === col("p.user_id") &&
          col("e.ts") < col("p.ts") &&
          col("e.ts") >= col("p.ts") - expr("INTERVAL 7 DAYS") &&
          col("e.event_type") =!= lit("purchase"))
      .filter(col("p.event_type") === "purchase")
      .select(col("p.event_id")).distinct().count()
    val totalCredit = out.map(_.getLong(2)).sum
    assert(totalCredit <= touched * 1000000L, "credit exceeds conversions")
    assert(totalCredit > touched * 990000L, "floor loss beyond plausible")
  }

  test("q312 absorbing markov: truncated steps consistent with absorption") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Funnels.absorbingMarkov(silver).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && !out.exists(_._1 == "purchase"))
    out.foreach { case (st, nOut, pAbs, steps) =>
      assert(nOut > 0L, s"$st has no outgoing transitions")
      assert(steps >= 1000L, s"$st: at least one step to absorb")
      // a state that can absorb directly cannot have unbounded steps;
      // sanity ceiling: T rounds of 1 step each
      assert(steps <= 24L * 1000L, s"$st exceeds the truncation ceiling")
      assert(pAbs >= 0L && pAbs <= 1000000L)
    }
  }
}
