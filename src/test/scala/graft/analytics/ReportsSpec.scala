package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.pipeline.EventsPipeline

class ReportsSpec extends SparkSpecBase {

  private lazy val silver = EventsPipeline.silver(spark, sf)

  test("approx user profile tracks the exact profile within HLL tolerance") {
    val exact = Reports.userProfile(silver)
      .select("user_id", "listen_count", "active_days", "unique_types")
    val approx = Reports.userProfileApprox(silver)
    val joined = exact.toDF("user_id", "lc", "ad", "ut")
      .join(approx, "user_id")
    assert(joined.filter(col("lc") =!= col("listen_count")).count() === 0)
    // rsd 1% at these cardinalities: sketches should be within 5%
    val offDays = joined.filter(
      abs(col("active_days") - col("ad")) > greatest(lit(1.0), col("ad") * 0.05))
    val offTypes = joined.filter(
      abs(col("unique_types") - col("ut")) > greatest(lit(1.0), col("ut") * 0.05))
    assert(offDays.count() === 0)
    assert(offTypes.count() === 0)
  }

  test("hourly activity percentages sum to 100") {
    val total = Reports.hourlyActivity(silver).agg(sum("pct")).head().getDouble(0)
    assert(math.abs(total - 100.0) < 1e-9)
  }

  test("DAU 7-day window is at least the single-day distinct count") {
    val daily = Reports.dailyProfile(silver).select(
      col("event_date").as("d"), col("unique_users"))
    val dau = Reports.activeUsers7Day(silver)
    val bad = dau.join(daily, "d")
      .filter(col("active_users_7d") < col("unique_users"))
    assert(bad.count() === 0)
  }

  test("salted distinct equals countDistinct and is salt-invariant") {
    val direct = silver.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_users"))
      .orderBy(col("event_type").asc).collect().map(_.toSeq)
    val salted32 = Reports.typeUniqueUsersSalted(silver).collect().map(_.toSeq)
    val salted7 = Reports.typeUniqueUsersSalted(silver, salts = 7)
      .collect().map(_.toSeq)
    assert(salted32.toSeq === direct.toSeq)
    assert(salted7.toSeq === direct.toSeq)
  }

  test("deterministic ROUND matches double rounding away from midpoints") {
    // the integer half-up r/100 construction must agree with a plain
    // round(x, 2) wherever doubles are unambiguous (every fixture value)
    val out = Reports.hourlyActivityRounded(silver)
      .withColumn("dbl_pct", round(col("cnt") * lit(100.0)
        / sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy()), 2))
    val bad = out.filter(
      abs(col("pct_round2_c100").cast("double") / 100.0 - col("dbl_pct")) > 1e-9)
    assert(bad.count() === 0)
  }

  test("approx quantiles honor the GK rank guarantee on every group") {
    val out = Reports.valueQuantilesApproxChecked(silver).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("p50_ok") || !col("p90_ok") || !col("p99_ok")).count() === 0)
    // group counts reconcile with the non-null values
    val n = out.agg(sum("n")).head().getLong(0)
    assert(n === silver.filter(col("value").isNotNull).count())
  }

  test("quantile rank-bound check would catch an out-of-bound estimate") {
    // negative control: the p99 guarantee band is a few elements wide —
    // the MEDIAN must not satisfy it, proving the ok booleans are a real
    // assertion, not always-true
    val ranked = silver.filter(col("value").isNotNull)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
    val p99band = ranked.filter(
      col("rn") >= greatest(lit(1L), floor((lit(0.99) - 0.0001) * col("cnt")).cast("long")) &&
        col("rn") <= least(col("cnt"), ceil((lit(0.99) + 0.0001) * col("cnt")).cast("long")))
      .groupBy("event_type").agg(min("value").as("lo"), max("value").as("hi"))
    val median = ranked.filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("event_type"), col("value").as("med"))
    val wouldPass = p99band.join(median, "event_type")
      .filter(col("lo") <= col("med") && col("med") <= col("hi"))
    assert(wouldPass.count() === 0,
      "p50 landed inside the p99 guarantee band — the check has no teeth")
  }

  test("weekly HLL union is accurate and mergeable (partials ≡ direct sketch)") {
    val out = Reports.weeklyDistinctSketched(silver).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("est_ok")).count() === 0)
    // mergeability: the union of daily sketches estimates the same as one
    // sketch built directly over the whole week
    val direct = silver
      .withColumn("week", date_trunc("week", col("event_date")))
      .groupBy(col("event_type"), col("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_est"))
    val unioned = silver
      .groupBy(col("event_type"), col("event_date"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .withColumn("week", date_trunc("week", col("event_date")))
      .groupBy(col("event_type"), col("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("union_est"))
    val diverged = direct.join(unioned, Seq("event_type", "week"))
      .filter(abs(col("direct_est") - col("union_est"))
        > greatest(col("direct_est") * 0.02, lit(2.0)))
    assert(diverged.count() === 0,
      "daily-sketch union diverged from the direct weekly sketch")
  }

  test("pivot cells reconcile with the flat rollup; no discovery scan") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val pivoted = Reports.userTypePivot(silver).cache()
    // cell total == corpus total (every event lands in exactly one cell)
    val cellSum = pivoted.select(
      Reports.EventTypes.map(t => sum(col(t))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).sum
    assert(cellSum === silver.count())
    // a spot cell equals the direct filtered count
    val u = pivoted.head()
    val direct = silver.filter(col("user_id") === u.getLong(0) &&
      col("event_type") === "click").count()
    assert(u.getAs[Long]("click") === direct)
  }

  test("histogram buckets partition all non-null values within their bounds") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Reports.valueHistogram(silver).cache()
    assert(out.agg(sum("n")).head().getLong(0) ===
      silver.filter(col("value").isNotNull).count())
    // each regular bucket's seen range lies inside its [lo, hi) bounds
    val w = 200.0 / 20
    out.filter(col("bucket").between(1, 20)).collect().foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Double]("lo_seen") >= (b - 1) * w)
      assert(r.getAs[Double]("hi_seen") < b * w)
    }
  }

  test("quartiles partition the user base near-evenly and order by volume") {
    val out = Reports.userQuartiles(EventsPipeline.silver(spark, sf)).collect()
    assert(out.map(_.getAs[Long]("users")).sum ===
      graft.pipeline.EventsPipeline.silver(spark, sf)
        .select(countDistinct(col("user_id"))).head().getLong(0))
    // ntile balance: sizes differ by at most one
    val sizes = out.map(_.getAs[Long]("users"))
    assert(sizes.max - sizes.min <= 1)
    // quartile 1 holds the heaviest users
    val mins = out.sortBy(_.getAs[Int]("quartile")).map(_.getAs[Long]("min_listens"))
    assert(mins.zip(mins.tail).forall { case (hi, lo) => hi >= lo })
  }

  test("RANGE-interval frame is calendar-aware where a ROWS frame is not") {
    import spark.implicits._
    // user 1 is active Jan 1-3, silent two weeks, then active Jan 20.
    // The 7-day RANGE frame at Jan 20 must contain ONLY Jan 20; a ROWS
    // 6-PRECEDING frame would reach back across the gap to Jan 1-3.
    val silver = Seq(
      (1L, "2024-01-01", 2L), (1L, "2024-01-02", 3L),
      (1L, "2024-01-03", 1L), (1L, "2024-01-20", 4L))
      .flatMap { case (u, d, n) => (1L to n).map(i => (u, d, i)) }
      .toDF("user_id", "d", "i")
      .select(col("user_id"), to_date(col("d")).as("event_date"),
        col("i"), lit("click").as("event_type"))
    val out = Reports.rolling7Day(spark, silver)
      .collect().map(r => (r.getAs[java.sql.Date]("event_date").toString,
        r.getAs[Long]("cnt_7d"), r.getAs[Long]("active_days_7d"))).toSeq
    assert(out === Seq(
      ("2024-01-01", 2L, 1L), ("2024-01-02", 5L, 2L),
      ("2024-01-03", 6L, 3L), ("2024-01-20", 4L, 1L)))
  }

  test("unpivot inverts the pivot: long form ≡ counts, zero rows kept") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val long = Reports.userTypeUnpivot(silver).cache()
    val users = silver.select(countDistinct(col("user_id"))).head().getLong(0)
    // dense matrix: exactly |users| × |types| rows
    assert(long.count() === users * Reports.EventTypes.size)
    // zero-count combos survive (crafted user with a single type: the
    // other four types must appear as explicit cnt=0 rows)
    import spark.implicits._
    val one = Seq((42L, "click")).toDF("user_id", "event_type")
    assert(Reports.userTypeUnpivot(one).filter(col("cnt") === 0).count() === 4)
    // non-zero long rows coincide with the direct groupBy counts
    val direct = silver.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    assert(long.filter(col("cnt") > 0).exceptAll(direct).count() === 0)
    assert(direct.exceptAll(long.filter(col("cnt") > 0)).count() === 0)
  }

  test("map profile round-trips to the flat counts; filter trims, never adds") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Reports.userTypeMapProfile(silver).cache()
    // explode the serialized map back to rows == direct counts
    val back = out.select(col("user_id"),
      explode(from_json(col("profile_json"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
        .as(Seq("event_type", "cnt")))
    val direct = silver.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    assert(back.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(back).count() === 0)
    // major map is a subset, and an all-minor user serializes as "{}"
    import spark.implicits._
    val tiny = Seq((7L, "click")).toDF("user_id", "event_type")
    val t = Reports.userTypeMapProfile(tiny).head()
    assert(t.getAs[String]("major_json") === "{}")
    assert(t.getAs[Int]("n_major_types") === 0)
    assert(out.filter(col("n_major_types") > col("n_types")).count() === 0)
  }

  test("rank distributions are exact order statistics on a total order") {
    val out = Reports.rankDistributions(silver).collect()
    val n = out.length
    // cd takes values k/n; pr takes (k-1)/(n-1); both strictly increasing
    // along the (count, user) order because peers are singletons
    val byRank = out.sortBy(r => (r.getAs[Long]("listen_count"),
      r.getAs[Long]("user_id")))
    byRank.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("cd") === (i + 1).toDouble / n)
      assert(r.getAs[Double]("pr") === i.toDouble / (n - 1))
    }
  }

  test("daily spike census: exact deltas and the cross-multiplied ±50% flag") {
    import spark.implicits._
    // day counts 4, 6, 3, 3: deltas +2 (4 >= 4, boundary spike), -3
    // (6 >= 6, boundary spike), 0 (0 >= 3, no spike)
    val rows = Seq.fill(4)("2024-01-01") ++ Seq.fill(6)("2024-01-02") ++
      Seq.fill(3)("2024-01-03") ++ Seq.fill(3)("2024-01-04")
    val tiny = rows.toDF("d").select(col("d").cast("date").as("event_date"))
    val got = Reports.dailySpikeCensus(tiny).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (6L, 4L, 2L, true), (3L, 6L, -3L, true), (3L, 3L, 0L, false)))
    // fixture corpus: every consecutive day pair appears exactly once and
    // deltas telescope back to last-minus-first
    val fx = Reports.dailySpikeCensus(silver).collect()
    val daily = silver.groupBy(col("event_date"))
      .agg(count(lit(1))).orderBy(col("event_date").asc)
      .collect().map(_.getLong(1))
    assert(fx.length === daily.length - 1)
    assert(fx.map(_.getLong(3)).sum === daily.last - daily.head)
  }

  test("value windows: default frame pins last_value to the current row") {
    val out = Reports.valueWindows(silver).cache()
    // the gotcha, as data: default-frame last_value == current row value
    assert(out.filter(col("last_cnt_default_frame") =!= col("listen_count"))
      .count() === 0)
    // full-frame first/last bracket the span; nth_value(2) is null only
    // for single-day users
    val perUser = out.groupBy("user_id").agg(
      count(lit(1)).as("days"),
      countDistinct("first_cnt").as("nf"),
      countDistinct("last_cnt").as("nl"))
    assert(perUser.filter(col("nf") =!= 1 || col("nl") =!= 1).count() === 0)
    assert(out.filter(col("second_cnt").isNull)
      .join(perUser.filter(col("days") > 1), "user_id").count() === 0)
  }

  test("k-anonymity groups identical behavioral profiles") {
    import spark.implicits._
    // users 1,2 share profile {a:2, b:1}; user 3 is unique {a:1};
    // count order inside the type must matter (user 4: {a:1, b:2})
    val silver = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"),
      (4L, "a"), (4L, "b"), (4L, "b"))
      .toDF("user_id", "event_type")
    val out = Reports.kAnonymityCensus(silver).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 2L), (2L, 1L, 2L)))
  }

  test("type lift: independence = 1e6 ppm, positive association above") {
    import spark.implicits._
    // 4 users: a∧b together for 1,2; c for everyone (independent of both)
    val sv = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "c"), (4L, "c"))
      .toDF("user_id", "event_type")
    val out = Reports.typeLift(sv).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // (a,b): n_a=2 n_b=2 both=2 → lift = 2*4/(2*2) = 2.0 → 2_000_000 ppm
    assert(out(("a", "b")) === ((2L, 2L, 2L, 2000000L)))
    // (a,c): c is universal → lift exactly 1.0
    assert(out(("a", "c")) === ((2L, 4L, 2L, 1000000L)))
    assert(out(("b", "c"))._4 === 1000000L)
  }

  test("type covariance: hand-traced numerator signs") {
    import spark.implicits._
    // days 1..3: a = (1, 2, 3), b = (2, 4, 6) co-moving; c = (3, 2, 1)
    // counter-moving. cov_num(a,b) = 3*28 - 6*12 = 12 > 0;
    // cov_num(a,c) = 3*10 - 6*6 = -6 < 0.
    def rows(t: String, counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => (1 to c).map(i =>
        (d.toLong * 1000 + i + t.hashCode.abs % 7, t,
          java.sql.Date.valueOf(f"2024-01-${d + 1}%02d")))
    }
    val sv = (rows("a", Seq(1, 2, 3)) ++ rows("b", Seq(2, 4, 6)) ++
      rows("c", Seq(3, 2, 1)))
      .toDF("event_id", "event_type", "event_date")
    val out = Reports.typeCovariance(sv).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    assert(out(("a", "b")) === 12L, s"co-moving pair: $out")
    assert(out(("a", "c")) === -6L, s"counter-moving pair: $out")
    assert(out(("b", "c")) === -12L)
  }

  test("type covariance over the fixture: symmetric-complete, days bounded") {
    val out = Reports.typeCovariance(silver).collect()
    val types = silver.select("event_type").distinct().count()
    assert(out.length === types * (types - 1) / 2)
    val days = silver.select("event_date").distinct().count()
    out.foreach(r => assert(r.getLong(2) <= days, s"n_days > days: $r"))
  }

  test("KS distance: two-level prefix sum equals the naive global window") {
    // naive single-window replica over the same quantized grid
    import org.apache.spark.sql.expressions.Window
    val grid = silver
      .filter(col("event_type").isin("click", "purchase") &&
        col("value").isNotNull)
      .select(floor(col("value") * 100).cast("long").as("v_c"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("a"))
      .groupBy("v_c")
      .agg(sum(col("a")).as("c1"), sum(lit(1L) - col("a")).as("c2"))
    val w = Window.orderBy(col("v_c").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n1 = grid.agg(sum("c1")).head().getLong(0)
    val n2 = grid.agg(sum("c2")).head().getLong(0)
    val naive = grid
      .withColumn("d", abs(lit(n2) * sum(col("c1")).over(w) -
        lit(n1) * sum(col("c2")).over(w)))
      .agg(max("d")).head().getLong(0)
    val out = Reports.ksDistance(silver).head()
    assert(out.getAs[Long]("n1") === n1)
    assert(out.getAs[Long]("n2") === n2)
    assert(out.getAs[Long]("ks_num") === naive)
    assert(out.getAs[Long]("ks_ppm") === naive * 1000000L / (n1 * n2))
  }

  test("KS distance: identical samples give zero, disjoint give ~1") {
    import spark.implicits._
    def ev(t: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => (i.toLong, t, v)
    }
    // same values on both sides → every cumulative matches → D = 0
    val same = (ev("click", Seq(1.0, 2.0, 3.0)) ++
      ev("purchase", Seq(1.0, 2.0, 3.0)))
      .toDF("event_id", "event_type", "value")
    assert(Reports.ksDistance(same).head().getAs[Long]("ks_num") === 0L)
    // fully separated supports → D = 1 → ppm = 1e6
    val split = (ev("click", Seq(1.0, 2.0)) ++
      ev("purchase", Seq(10.0, 20.0)))
      .toDF("event_id", "event_type", "value")
    assert(Reports.ksDistance(split).head().getAs[Long]("ks_ppm") === 1000000L)
  }

  test("l-diversity census: cells partition, l bounded by users") {
    val out = Reports.lDiversityCensus(silver).collect()
    val types = silver.select("event_type").distinct().count()
    assert(out.length === types)
    val users = silver.select("user_id").distinct().count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_cells") <= 24L, s"more cells than hours: $r")
      assert(r.getAs[Long]("min_l") >= 1L)
      assert(r.getAs[Long]("max_l") <= users)
      assert(r.getAs[Long]("min_l") <= r.getAs[Long]("max_l"))
    }
  }

  test("t-closeness: a planted single-cohort cell is flagged, uniform cells are not") {
    import spark.implicits._
    // Type 'a': every hour sees all 8 cohorts once → every cell's
    // distribution ≈ global → t near 0. Type 'b' hour 23: cohort 0 only
    // (users ≡ 0 mod 8) → t far from the global mix → flagged.
    val rows =
      (for { h <- 0 until 24; u <- 0L until 8L } yield ("a", h, u)) ++
        (0 until 40).map(i => ("b", 23, i * 8L))
    val sv = rows.toDF("event_type", "hour", "user_id")
    val out = Reports.tClosenessCensus(sv).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("b").getAs[Long]("cells_above_t") === 1L,
      "planted skewed cell not flagged")
    // hand trace: uniform cells sit at t ≈ 150 863 ppm (the planted cell
    // drags the global mix toward cohort 0), below the 200 000 threshold
    assert(out("a").getAs[Long]("cells_above_t") === 0L)
    assert(out("a").getAs[Long]("max_t_ppm") < out("b").getAs[Long]("max_t_ppm"))
    out.values.foreach { r =>
      assert(r.getAs[Long]("mean_t_ppm") <= r.getAs[Long]("max_t_ppm"))
      assert(r.getAs[Long]("max_t_ppm") <= 1000000L)
    }
  }

  test("t-closeness over the corpus: cells complete, t bounded") {
    val out = Reports.tClosenessCensus(silver).collect()
    assert(out.length === silver.select("event_type").distinct().count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_cells") <= 24L)
      assert(r.getAs[Long]("max_t_ppm") >= 0L &&
        r.getAs[Long]("max_t_ppm") <= 1000000L)
      assert(r.getAs[Long]("cells_above_t") <= r.getAs[Long]("n_cells"))
    }
  }

  test("disorder census: in-order user at 1e6 ppm, reversed user at -1e6") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val sv = Seq(
      // u1: event_id order == ts order → rho = 1e6 exactly
      (1L, ts(10), 1L), (2L, ts(20), 1L), (3L, ts(30), 1L), (4L, ts(40), 1L),
      // u2: ts fully reversed vs event_id → rho = -1e6 exactly
      (5L, ts(40), 2L), (6L, ts(30), 2L), (7L, ts(20), 2L), (8L, ts(10), 2L))
      .toDF("event_id", "ts", "user_id")
    val out = Reports.disorderCensus(sv).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === ((0L, 1000000L)))
    assert(out(2L)._2 === -1000000L)
  }

  test("disorder census on sf data: rho within [-1e6, 1e6], users complete") {
    val out = Reports.disorderCensus(silver).collect()
    assert(out.length === silver.select("user_id").distinct().count())
    out.foreach { r =>
      val rho = r.getLong(3)
      assert(rho >= -1000000L && rho <= 1000000L, s"rho out of range: $r")
      assert(r.getLong(2) >= 0L)
    }
  }

  test("type lift over the fixture is pairwise-complete and bounded") {
    val types = silver.select("event_type").distinct().count()
    val out = Reports.typeLift(silver).collect()
    assert(out.length === (types * (types - 1) / 2),
      "every unordered type pair should co-occur somewhere in the fixture")
    out.foreach { r =>
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)), s"n_both bound: $r")
      assert(r.getLong(5) > 0L, s"lift must be positive when n_both > 0: $r")
    }
  }

  test("A/A balance: counts conserve, split is deterministic, diffs bounded") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = Reports.aaBalance(silver).collect()
    assert(out.nonEmpty)
    val byType = silver.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === byType(r.getString(0)),
        s"arms do not conserve for ${r.getString(0)}")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
    val again = Reports.aaBalance(silver).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "hash split must be bit-repeatable")
  }

  test("q291 cuped: theta and adjustment match a driver-side re-derivation") {
    val silver = EventsPipeline.silver(spark, sf)
    val out = Reports.cupedAdjustment(silver).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))).toMap
    assert(out.size === 2, "both arms must report")
    // re-derive from raw per-user pre/post sums (same split predicate)
    import org.apache.spark.sql.functions._
    val b = silver.agg(min(col("event_date")).as("lo"),
      max(col("event_date")).as("hi")).collect()(0)
    val (lo, hi) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(lo, hi)
    val pu = silver.select(col("user_id"), col("event_date"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect()
      .map(r => (r.getLong(0), java.time.temporal.ChronoUnit.DAYS.between(
        lo, r.getDate(1).toLocalDate), r.getLong(2)))
      .groupBy(_._1).map { case (u, rows) =>
        (u, rows.filter(_._2 * 2 < span).map(_._3).sum,
          rows.filter(_._2 * 2 >= span).map(_._3).sum)
      }.toSeq
    val n = pu.size.toLong
    val sx = pu.map(_._2).sum; val sy = pu.map(_._3).sum
    val sxx = pu.map(t => t._2 * t._2).sum
    val sxy = pu.map(t => t._2 * t._3).sum
    val num = n * sxy - sx * sy; val denx = n * sxx - sx * sx
    val theta = math.floor(num.toDouble * 1000000.0 / denx).toLong
    assert(out.values.map(_._4).toSet === Set(theta),
      "pooled theta must match the exact re-derivation")
    // the adjustment must shrink the arm gap on this positively
    // pre-correlated fixture
    val arms = out.toSeq.sortBy(_._1).map(_._2)
    val rawGap = math.abs(arms(0)._2 - arms(1)._2)
    val adjGap = math.abs(arms(0)._3 - arms(1)._3)
    assert(adjGap <= rawGap, s"CUPED must not widen the gap: $out")
  }

  test("q313 group sequential: looks nest and OBF boundaries tighten") {
    val silver = EventsPipeline.silver(spark, sf)
    val out = Reports.groupSequential(silver).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(out.map(_._1).toSeq === (1L to 4L).toSeq)
    // users active by look k are active by look k+1 (nested windows)
    assert(out.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    assert(out.map(_._4).sliding(2).forall(p => p(0) > p(1)),
      "OBF boundaries must strictly tighten")
    assert(out.last._4 === 2024L)
  }

  test("q315 stratified ATE: pooled pair consistent with the strata") {
    val out = Reports.stratifiedAte(EventsPipeline.silver(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(out.nonEmpty)
    val num = out.map(r => (r._2 + r._3) * r._6).sum
    val den = out.map(r => r._2 + r._3).sum
    assert(out.map(_._7).distinct.toSeq === Seq(num))
    assert(out.map(_._8).distinct.toSeq === Seq(den))
    out.foreach(r => assert(r._6 === r._5 - r._4, "gap must be mean1 - mean0"))
  }

  test("q307 power analysis: CUPED never needs more users than raw") {
    val r = Reports.powerAnalysis(EventsPipeline.silver(spark, sf))
      .collect()(0)
    assert(r.getLong(1) >= r.getLong(2),
      "variance reduction cannot increase the requirement")
    assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
  }

  test("q320 Brier decomposition: identity, bounds, perfect calibration") {
    import spark.implicits._
    val out = Reports.brierDecomposition(silver).collect()
    assert(out.length === 1)
    val r = out(0)
    val (obar, rel, res, unc, brier) = (r.getAs[Long]("obar_ppm"),
      r.getAs[Long]("rel_ppm"), r.getAs[Long]("res_ppm"),
      r.getAs[Long]("unc_ppm"), r.getAs[Long]("brier_ppm"))
    assert(obar >= 0L && obar <= 1000000L)
    assert(rel >= 0L && res >= 0L)
    assert(unc <= 250000L, "p(1-p) peaks at 1/4")
    assert(brier === rel - res + unc, "Murphy identity must hold exactly")
    assert(r.getAs[Long]("n_users") > 0L)
    // perfectly mirrored halves: each user spends the same cents in
    // train and test, so every bucket forecast equals its outcome and
    // reliability is exactly zero
    val mirrored = (1 to 40).flatMap { u =>
      val spend = (u % 5) * 10.0
      Seq((u.toLong, "2024-01-01", "purchase", spend),
        (u.toLong, "2024-01-10", "purchase", spend)) ++
        (0 until u % 3).map(i =>
          (u.toLong, "2024-01-02", "click", 0.0))
    }.toDF("user_id", "d", "event_type", "value")
      .select(col("user_id"), col("d").cast("date").as("event_date"),
        col("event_type"), col("value"))
    val m = Reports.brierDecomposition(mirrored).collect()(0)
    assert(m.getAs[Long]("rel_ppm") === 0L,
      "mirrored halves must be perfectly calibrated")
    assert(m.getAs[Long]("brier_ppm") ===
      m.getAs[Long]("unc_ppm") - m.getAs[Long]("res_ppm"))
  }

  test("q325 IPW: balanced exposure collapses Hájek to the raw mean") {
    import spark.implicits._
    // one stratum (equal activity), exactly half the users treated:
    // constant weights per arm, so the self-normalized mean must equal
    // the raw mean EXACTLY (floor(ak/bk) = floor(a/b))
    val rows = (1 to 40).flatMap { u =>
      val spend = (u % 7) * 3.0
      Seq((u.toLong, "purchase", spend)) ++
        (if (u % 2 == 0) Seq((u.toLong, "error", 0.0)) else Seq((u.toLong, "click", 0.0)))
    }.toDF("user_id", "event_type", "value")
    val out = Reports.ipwEffect(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet === Set(0L, 1L))
    out.foreach { case (_, (n, raw, ipw)) =>
      assert(n === 20L)
      assert(ipw === raw, "no confounding -> IPW must equal raw")
    }
    // sf corpus: both arms present, means positive, estimator finite
    val sfOut = Reports.ipwEffect(EventsPipeline.silver(spark, sf))
      .collect()
    assert(sfOut.length === 2)
    sfOut.foreach { r =>
      assert(r.getLong(1) > 0L)
      assert(r.getLong(2) >= 0L && r.getLong(3) >= 0L)
    }
  }

  test("q328 jackknife: zero variance for a constant ratio; sf bounds") {
    import spark.implicits._
    val flat = (1 to 40)
      .map(u => (u.toLong, "purchase", 2.0))
      .toDF("user_id", "event_type", "value")
    val z = Reports.jackknifeRatio(flat).collect()(0)
    assert(z.getAs[Long]("ratio_milli") === 200000L)
    assert(z.getAs[Long]("jk_var_milli2") === 0L)
    assert(z.getAs[Long]("jk_se_milli") === 0L)
    val r = Reports.jackknifeRatio(silver).collect()(0)
    val (u, c, ratio, v, se) = (r.getAs[Long]("n_users"),
      r.getAs[Long]("total_cents"), r.getAs[Long]("ratio_milli"),
      r.getAs[Long]("jk_var_milli2"), r.getAs[Long]("jk_se_milli"))
    assert(r.getAs[Long]("n_buckets") >= 2L &&
      r.getAs[Long]("n_buckets") <= 20L)
    assert(ratio === c * 1000L / u)
    assert(v >= 0L)
    assert(se * se <= v && v < (se + 1) * (se + 1),
      "se must be the floor square root of the variance")
  }
}
