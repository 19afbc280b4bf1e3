package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables
import graft.pipeline.EventsPipeline

class TemporalOpsSpec extends SparkSpecBase {

  private lazy val silver = EventsPipeline.silver(spark, sf)

  test("nulls-last ordering puts every null prev_event_id at the end") {
    val rows = TemporalOps.prevEventOrdering(silver).collect()
    val firstNull = rows.indexWhere(_.isNullAt(2))
    assert(firstNull > 0)
    assert(rows.drop(firstNull).forall(_.isNullAt(2)))
  }

  test("set ops partition d1 users into both vs only_first") {
    val out = TemporalOps.userDateSetOps(silver, "2024-01-05", "2024-01-06")
    val both = out.filter(col("op") === "both").count()
    val only = out.filter(col("op") === "only_first").count()
    val d1 = silver.filter(col("event_date") === lit("2024-01-05").cast("date"))
      .select("user_id").distinct().count()
    assert(both + only === d1)
  }

  test("as-of join: acquired order never postdates the event") {
    val out = TemporalOps.eventOrderAsOf(silver, Tables.orders(spark, sf))
    assert(out.count() === silver.count())
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("asof_orderkey"), col("o_orderdate"))
    val joined = out.filter(col("asof_orderkey").isNotNull)
      .join(orders, "asof_orderkey")
      .join(silver.select(col("event_id"), col("ts")), "event_id")
    assert(joined.filter(col("o_orderdate") > col("ts")).count() === 0)
  }

  test("discrete median lies within [min, max] and belongs to the group") {
    val out = TemporalOps.valueQuantiles(silver).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mn, med, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn <= med && med <= mx)
    }
    // the median is an actual element of its group (discrete, not interpolated)
    val joined = TemporalOps.valueQuantiles(silver)
      .join(silver.select(col("event_type"), col("value").as("median_value")),
        Seq("event_type", "median_value"), "left_semi")
    assert(joined.count() === out.length)
  }

  test("sessions: per-user event counts reconcile; gaps within session bounded") {
    val sessions = TemporalOps.sessionize(silver)
    val total = sessions.agg(sum("n_events")).head().getLong(0)
    assert(total === silver.count())
    // session numbering is dense from 1
    val bad = sessions.groupBy("user_id")
      .agg(max("session_no").as("mx"), count(lit(1)).as("cnt"))
      .filter(col("mx") =!= col("cnt"))
    assert(bad.count() === 0)
  }

  test("full-outer reconciliation keeps unmatched days from both sides") {
    val orders = graft.core.Tables.orders(spark, sf)
    val out = TemporalOps.dailyActivityReconciled(silver, orders).cache()
    // unmatched order-days exist (orders span years, events ~a month)
    assert(out.filter(col("event_cnt") === 0 && col("order_cnt") > 0).count() > 0)
    // both_sides consistent with the counts
    assert(out.filter(col("both_sides") =!=
      (col("event_cnt") > 0 && col("order_cnt") > 0)).count() === 0)
    // totals reconcile with the inputs
    assert(out.agg(sum("event_cnt")).head().getLong(0) === silver.count())
    assert(out.agg(sum("order_cnt")).head().getLong(0) === orders.count())
  }

  test("sliding windows: every event lands in exactly window/slide = 4 windows") {
    val out = TemporalOps.slidingWindowCounts(silver).cache()
    val windowedEvents = out.agg(sum("n_events")).head().getLong(0)
    assert(windowedEvents === 4L * silver.count())
    // window starts align to the 15-min slide grid
    assert(out.filter(col("win_start") % 900 =!= 0).count() === 0)
    // n_users never exceeds n_events
    assert(out.filter(col("n_users") > col("n_events")).count() === 0)
  }

  test("native session_window reproduces the manual gaps-and-islands sessions") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val shape = Seq("user_id", "session_start", "session_end", "n_events")
    val native = TemporalOps.sessionWindows(silver).select(shape.map(col): _*)
    val manual = TemporalOps.sessionize(silver).select(shape.map(col): _*)
    // identical off the exact-gap boundary (> vs >= differ only when a
    // gap is EXACTLY 1800.000000000s — absent from continuous-ts data)
    assert(native.count() === manual.count())
    assert(native.exceptAll(manual).isEmpty && manual.exceptAll(native).isEmpty)
  }

  test("session_window boundary: an exact-gap event still EXTENDS the session") {
    import spark.implicits._
    val t0 = 1700000000L
    val mk = (id: Long, sec: Long) =>
      (id, new java.sql.Timestamp(sec * 1000))
    val silver = Seq(mk(1, t0), mk(2, t0 + 1800), mk(3, t0 + 1800 + 1801))
      .toDF("event_id", "ts")
      .withColumn("user_id", org.apache.spark.sql.functions.lit(7L))
    val out = TemporalOps.sessionWindows(silver)
      .collect().map(_.getAs[Long]("n_events"))
    // inclusive end: event 2 at exactly last+gap merges; event 3 at
    // gap+1s opens the second session — (2 events, 1 event)
    assert(out.toSeq === Seq(2L, 1L))
  }

  test("gap fill densifies spans; afterwards ROWS frame ≡ RANGE-interval frame") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val filled = TemporalOps.calendarGapFill(silver).cache()
    // per-user spans are contiguous: row count == span length
    val spans = filled.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      (datediff(max("event_date"), min("event_date")) + 1).as("span"))
    assert(spans.filter(col("n") =!= col("span")).count() === 0)
    // gaps are exactly the zero rows; non-gaps match the raw daily rollup
    assert(filled.filter(col("is_gap") =!= (col("listen_count") === 0))
      .count() === 0)
    // the law that justifies densification: on a gap-free calendar the
    // positional ROWS frame and the calendar RANGE frame coincide
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_date").rowsBetween(-6, 0)
    val rows7 = filled.withColumn("cnt_7d_rows", sum("listen_count").over(w))
      .select(col("user_id"), col("event_date"), col("cnt_7d_rows"))
    val range7 = Reports.rolling7Day(spark, silver)
      .select(col("user_id"), col("event_date"), col("cnt_7d"))
    val joined = rows7.join(range7, Seq("user_id", "event_date"))
    assert(joined.count() > 0)
    assert(joined.filter(col("cnt_7d_rows") =!= col("cnt_7d")).count() === 0)
  }

  test("banded interval-overlap join: no NLJ, equals the theta-join twin") {
    val li = Tables.lineitem(spark, sf)
    val banded = TemporalOps.intervalOverlapCensus(li)
    banded.collect()
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"banded join degenerated to a product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "month-band join not broadcast")
    // the quadratic theta spelling is the semantic twin
    val iv = li.select(col("l_orderkey"), col("l_quantity"),
      col("l_shipdate").cast("date").as("s"),
      date_add(col("l_shipdate").cast("date"), col("l_linenumber") * lit(7)).as("e"))
    val windows = iv
      .agg(date_trunc("month", min(col("s"))).cast("date").as("lo"),
           date_trunc("month", max(col("s"))).cast("date").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 month"))).as("w_start"))
      .select(col("w_start"), date_add(col("w_start"), 9).as("w_end"))
    val theta = iv.join(windows,
        col("s") <= col("w_end") && col("w_start") <= col("e"))
      .groupBy(col("w_start"), col("w_end"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("w_start").asc)
    assert(banded.collect().toSeq === theta.collect().toSeq)
  }

  test("equi-depth buckets: populations within 1, boundaries monotone per type") {
    val rows = TemporalOps.equidepthHistogram(silver).collect()
    rows.groupBy(_.getString(0)).foreach { case (tpe, bs) =>
      val sizes = bs.map(_.getAs[Long]("n"))
      assert(sizes.max - sizes.min <= 1, s"$tpe buckets unbalanced: ${sizes.toSeq}")
      val ordered = bs.sortBy(_.getAs[Long]("bucket"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"),
            s"$tpe boundaries overlap")
        case _ => ()
      }
    }
  }

  test("MAD fence is robust: outliers are a strict minority and stats are sane") {
    val rows = TemporalOps.madOutliers(silver).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val out = r.getAs[Long]("n_outliers")
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(out >= 0 && out * 2 < n, s"fence flagged $out of $n")
    }
  }

  test("gap histogram: bucket bounds hold and totals reconcile with event counts") {
    import org.apache.spark.sql.functions._
    val rows = TemporalOps.gapHistogram(silver).collect()
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val lo = r.getAs[Long]("min_gap_s")
      val hi = r.getAs[Long]("max_gap_s")
      // bucket b holds gaps with exactly b binary digits: [2^(b-1), 2^b)
      assert(lo >= (1L << (b - 1)) || b == 1, s"bucket $b min $lo below bound")
      assert(hi < (1L << b), s"bucket $b max $hi above bound")
    }
    val totalGaps = rows.map(_.getAs[Long]("n_gaps")).sum
    val expected = silver.select("user_id").distinct().count()
    assert(totalGaps === silver.count() - expected,
      "every event except each user's first contributes one gap")
  }

  test("percentile_cont replays the lerp formula exactly on integral data") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // even and odd group sizes, so both the exact-index and the
    // interpolating cases are exercised
    val df = (Seq.tabulate(7)(i => ("A", (i * 3 + 1).toDouble)) ++
      Seq.tabulate(6)(i => ("B", (i * 5 + 2).toDouble)))
      .toDF("l_returnflag", "l_quantity")
    val got = TemporalOps.percentileCont(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    def lerp(vs: Seq[Double], p: Double): Double = {
      val sorted = vs.sorted
      val pos = p * (sorted.size - 1)
      val lo = sorted(pos.toInt)
      val hi = sorted(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val expect = Seq(
      ("A", 7L, lerp((1 to 19 by 3).map(_.toDouble), 0.25),
        lerp((1 to 19 by 3).map(_.toDouble), 0.5),
        lerp((1 to 19 by 3).map(_.toDouble), 0.75)),
      ("B", 6L, lerp((2 to 27 by 5).map(_.toDouble), 0.25),
        lerp((2 to 27 by 5).map(_.toDouble), 0.5),
        lerp((2 to 27 by 5).map(_.toDouble), 0.75)))
    assert(got.toSeq === expect)
  }

  test("bag set ops follow the multiplicity algebra (min / clamped diff)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // day1 bag: a=3, b=1, c=2 ; day2 bag: a=1, b=2, d=1
    val rows =
      Seq.fill(3)(("2024-01-05", "a")) ++ Seq(("2024-01-05", "b")) ++
      Seq.fill(2)(("2024-01-05", "c")) ++
      Seq(("2024-01-06", "a")) ++ Seq.fill(2)(("2024-01-06", "b")) ++
      Seq(("2024-01-06", "d"))
    val silver = rows.toDF("d", "event_type")
      .select(col("d").cast("date").as("event_date"), col("event_type"))
    val got = TemporalOps.typeBagSetOps(silver, "2024-01-05", "2024-01-06")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // intersect_all: min(m1, m2) where > 0 ; except_all: max(0, m1 - m2)
    assert(got.toSeq === Seq(
      ("except_all", "a", 2L), ("except_all", "c", 2L),
      ("intersect_all", "a", 1L), ("intersect_all", "b", 1L)))
  }

  test("trend stats recover an exact synthetic line and a flat one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // type "up": y = 2x + 1 over 5 days -> slope exactly 2, intercept 1
    // type "flat": y = 3 constant -> slope_num 0
    val base = java.time.LocalDate.of(2024, 1, 1)
    val rows = (0 until 5).flatMap { d =>
      val day = base.plusDays(d).toString
      Seq.fill(2 * (base.plusDays(d).toEpochDay.toInt) + 1)(("up", day)) ++
        Seq.fill(3)(("flat", day))
    }
    val tiny = rows.toDF("event_type", "d")
      .select(col("event_type"), col("d").cast("date").as("event_date"))
    val got = TemporalOps.typeTrendStats(tiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byType = got.map(t => t._1 -> t).toMap
    val (_, nF, sNumF, iNumF, denF) = byType("flat")
    assert(nF === 5L && sNumF === 0L && iNumF === 3L * denF)
    val (_, nU, sNumU, iNumU, denU) = byType("up")
    assert(nU === 5L)
    assert(sNumU === 2L * denU, "slope must be exactly 2")
    assert(iNumU === 1L * denU, "intercept must be exactly 1")
  }

  test("trimmed mean drops exactly the floor-count tails per group") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // group A: 1..40 -> lo = 40*5 div 100 = 2: drop {1,2,39,40},
    // keep 36 values summing 3..38 = 738; group B: 10 values -> lo=0,
    // nothing trimmed
    val li = ((1 to 40).map(q => ("A", q.toDouble)) ++
      (1 to 10).map(q => ("B", q.toDouble)))
      .toDF("l_returnflag", "l_quantity")
    val rows = TemporalOps.trimmedMeans(li).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("A") === ((40L, 36L, 738L, 738L * 1000 / 36)))
    assert(rows("B") === ((10L, 10L, 55L, 5500L)))
  }

  test("time-weighted value: step integral hand-traced, negatives exact") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val silver = Seq(
      // u1: 1.0 held 10 s, then 3.0 held 30 s, last event open-ended
      (1L, ts(0), 1L, 1.0), (2L, ts(10), 1L, 3.0), (3L, ts(40), 1L, 99.0),
      // u2: a negative value held 20 s — numerator must floor-quantize
      // the VALUE (-250 cents), never divide
      (4L, ts(0), 2L, -2.5), (5L, ts(20), 2L, 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val out = TemporalOps.timeWeightedValue(silver).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 40L, 100L * 10 + 300L * 30)))
    assert(out(2L) === ((1L, 20L, -250L * 20)))
  }

  test("decayed engagement: shift decay hand-traced against corpus max date") {
    import spark.implicits._
    def d(daysBefore: Int) =
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).minusDays(daysBefore))
    val silver = Seq(
      // u1: events 0, 10, 21 days before the corpus max → weeks 0, 1, 3
      (1L, d(0)), (1L, d(10)), (1L, d(21)),
      // u2: one stale event 70 days back → week 10
      (2L, d(70)))
      .toDF("user_id", "event_date")
    val out = TemporalOps.decayedEngagement(silver).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((3L, 1000000L + 500000L + 125000L)))
    assert(out(2L) === ((1L, 1000000L / 1024)))
  }

  test("asof tolerance: fresh match carried with age, stale match nulled") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    def dt(day: Int) = java.sql.Date.valueOf(f"2024-02-$day%02d")
    val silver = Seq(
      (1L, ts(5), 1L),   // order on Feb 20 → 14 days: within 30
      (2L, ts(25), 2L))  // order on Feb 1 → 53 days: stale, nulled
      .toDF("event_id", "ts", "user_id")
    val orders = Seq(
      (100L, 1L, dt(20)), (200L, 2L, dt(1)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val out = TemporalOps.eventOrderAsOfTolerance(silver, orders).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(1L) === ((Some(100L), Some(14))))
    assert(out(2L) === ((None, None)), "stale match must null BOTH columns")
  }

  test("asof tolerance agrees with the untolerated asof inside the window") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val orders = graft.core.Tables.orders(spark, sf)
    val tol = TemporalOps.eventOrderAsOfTolerance(silver, orders)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val plain = TemporalOps.eventOrderAsOf(silver, orders)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(tol.keySet === plain.keySet, "left semantics: every event survives")
    tol.foreach { case (id, mk) =>
      if (mk.isDefined) assert(mk === plain(id),
        s"within tolerance the match must be the plain asof match ($id)")
    }
    assert(tol.values.exists(_.isEmpty) || plain.values.forall(_.isDefined),
      "fixture should exercise at least one nulled (stale/no-match) row")
  }

  test("time-weighted value and decay on sf data: invariants hold") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    TemporalOps.timeWeightedValue(silver).collect().foreach { r =>
      assert(r.getLong(2) > 0L, "holds must have positive total duration")
    }
    val users = silver.select("user_id").distinct().count()
    val dec = TemporalOps.decayedEngagement(silver).collect()
    assert(dec.length === users)
    dec.foreach { r =>
      assert(r.getLong(2) > 0L && r.getLong(2) <= r.getLong(1) * 1000000L,
        s"score outside (0, n_events*1e6]: $r")
    }
  }

  test("session handoffs conserve against per-user session counts") {
    val silver = EventsPipeline.silver(spark, sf)
    val out = TemporalOps.sessionHandoffs(silver).collect()
    assert(out.nonEmpty)
    // every consecutive session pair is exactly one handoff
    val sessionsPerUser = TemporalOps.sessionize(silver)
      .groupBy("user_id").count().collect().map(_.getLong(1))
    val expectedHandoffs = sessionsPerUser.map(_ - 1).sum
    assert(out.map(_.getLong(2)).sum === expectedHandoffs)
    val shares = out.map(_.getLong(3))
    assert(shares.sum <= 1000000L && shares.sum >= 1000000L - out.length)
  }

  test("pre/post first-purchase census matches a driver-side recompute") {
    val silver = EventsPipeline.silver(spark, sf)
    val out = TemporalOps.prePostFirstPurchase(silver).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val anchors = silver.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("event_date")).as("a")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getDate(1).toLocalDate)
      .toMap
    val tallies = collection.mutable.Map[String, (Long, Long)]()
    silver.select(col("user_id"), col("event_type"), col("event_date"))
      .collect().foreach { r =>
        anchors.get(r.getAs[Number](0).longValue).foreach { a =>
          val dd = java.time.temporal.ChronoUnit.DAYS
            .between(a, r.getDate(2).toLocalDate)
          if (dd >= -7 && dd <= 6) {
            val t = r.getString(1)
            val (p, q) = tallies.getOrElse(t, (0L, 0L))
            tallies(t) = if (dd < 0) (p + 1, q) else (p, q + 1)
          }
        }
      }
    val expected = tallies.toMap.filter(_._2._1 > 0)
      .map { case (t, (p, q)) => t -> ((p, q, q * 1000000L / p)) }
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("acf daily stats agree with a driver-side recompute of the gap-filled series") {
    val silver = EventsPipeline.silver(spark, sf)
    val out = TemporalOps.acfDailyStats(silver).collect()
    assert(out.map(_.getInt(0)).toSeq === (1 to 7))

    val daily = silver.groupBy(col("event_date")).count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val lo = daily.keys.minBy(_.toEpochDay)
    val hi = daily.keys.maxBy(_.toEpochDay)
    val c = (lo.toEpochDay to hi.toEpochDay)
      .map(d => daily.getOrElse(java.time.LocalDate.ofEpochDay(d), 0L))
      .toArray
    val n = c.length
    out.foreach { row =>
      val k = row.getInt(0)
      assert(row.getLong(1) === (n - k).toLong, s"n_pairs lag $k")
      val sxy = (0 until n - k).map(i => c(i) * c(i + k)).sum
      assert(row.getLong(2) === sxy, s"sxy lag $k")
      assert(row.getLong(3) === n.toLong)
      assert(row.getLong(4) === c.sum)
      assert(row.getLong(5) === c.map(x => x * x).sum)
    }
  }

  test("forecast backtest: errors reconcile with a driver-side recount") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val daily = silver.groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val maxd = daily.keys.map(_._2).max
    val out = TemporalOps.forecastBacktest(silver).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val t = r.getString(0)
      val days = daily.keys.filter(_._1 == t).map(_._2).toSeq.sorted
      val last7 = days.filter(d =>
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(d), java.time.LocalDate.parse(maxd)) < 7)
      def lagged(d: String, k: Int): Option[Long] = {
        val i = days.indexOf(d)
        if (i - k >= 0) Some(daily((t, days(i - k)))) else None
      }
      // dense daily data: lag-by-row == lag-by-date here
      val rows = last7.flatMap { d =>
        for (s <- lagged(d, 7); n <- lagged(d, 1))
          yield (math.abs(daily((t, d)) - s), math.abs(daily((t, d)) - n))
      }
      assert(r.getLong(2) === rows.map(_._1).sum, s"snaive err mismatch for $t")
      assert(r.getLong(3) === rows.map(_._2).sum, s"naive1 err mismatch for $t")
      assert(r.getLong(4) === r.getLong(2) * 1000000L / r.getLong(3))
    }
  }

  test("concurrency peaks: overlapping sessions counted at the overlap minute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // u1 session 10:00-10:05; u2 session 10:03-10:08 -> peak 2 at 10:03;
    // u3 next day single event -> peak 1 that day
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), (1L, 2L, "2024-01-01 10:05:00"),
      (2L, 3L, "2024-01-01 10:03:00"), (2L, 4L, "2024-01-01 10:08:00"),
      (3L, 5L, "2024-01-02 09:00:00"))
    val silver = rows.toDF("user_id", "event_id", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = TemporalOps.concurrencyPeaks(silver).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    val m = java.time.LocalDateTime.parse("2024-01-01T10:03:00")
      .toEpochSecond(java.time.ZoneOffset.UTC) / 60
    val m2 = java.time.LocalDateTime.parse("2024-01-02T09:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC) / 60
    assert(out === Seq(("2024-01-01", m, 2L), ("2024-01-02", m2, 1L)), s"got $out")
  }

  test("conversion life table: hand-traced hazards with censoring") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // u1: views Jan 1, purchases Jan 3 -> t_conv = 2
    // u2: views Jan 1, never purchases -> censored at horizon 30
    // u3: views Jan 4, purchases same day -> t_conv = 0
    // u4: purchases Jan 2 BEFORE its first view Jan 5 -> that purchase
    //     must NOT count (conversion is first purchase AFTER first view)
    val rows = Seq(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "purchase", "2024-01-03 09:00:00"),
      (2L, "view", "2024-01-01 12:00:00"),
      (3L, "view", "2024-01-04 08:00:00"), (3L, "purchase", "2024-01-04 20:00:00"),
      (4L, "purchase", "2024-01-02 01:00:00"), (4L, "view", "2024-01-05 01:00:00"))
    val silver = rows.toDF("user_id", "event_type", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = TemporalOps.conversionLifeTable(silver, endDate = "2024-01-31")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // k=0: all 4 at risk, u3 converts -> hazard 250000
    assert(out.head === ((0L, 4L, 1L, 250000L)))
    // k=2: u3 gone (converted at 0); u1 converts at 2 among {u1,u2,u4}
    assert(out.find(_._1 == 2L).get === ((2L, 3L, 1L, 333333L)))
    // beyond every horizon the table ends: last k is u2/u4's horizon 30
    assert(out.last._1 === 30L && out.last._3 === 0L)
    // never-converters keep exactly u2 and u4 at risk at k=28 (u4's
    // horizon is 26: views Jan 5 -> 26 days to Jan 31)
    assert(out.find(_._1 == 28L).get._2 === 1L)
  }

  test("q299 cusum: closed form equals the max(0, S + dev) recursion") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = TemporalOps.cusumChangepoint(silver).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // re-derive the textbook recursion from the same daily series
    val xs = out.map(x => (x._1, x._2)).sortBy(_._1)
    val tx = xs.map(_._2).sum
    val mu = tx / xs.length
    val k = mu / 20
    val h = mu / 2
    var sp = 0L; var sn = 0L
    val expected = xs.map { case (d, x) =>
      sp = math.max(0L, sp + x - mu - k)
      sn = math.max(0L, sn + mu - k - x)
      (d, x, sp, sn, h, sp > h || sn > h)
    }
    assert(out.sortBy(_._1).toSeq === expected.toSeq)
  }

  test("q310 theil-sen: median slope matches a driver-side re-derivation") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val r = TemporalOps.theilSen(silver).collect()(0)
    import org.apache.spark.sql.functions._
    val daily = silver.groupBy(col("event_date")).count().collect()
      .map(x => (x.getDate(0).toLocalDate.toEpochDay, x.getLong(1)))
      .sortBy(_._1)
    val slopes = for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield math.floor((daily(j)._2 - daily(i)._2).toDouble * 1000.0
      / (daily(j)._1 - daily(i)._1)).toLong
    val sorted = slopes.sorted
    assert(r.getLong(0) === daily.length.toLong)
    assert(r.getLong(1) === slopes.length.toLong)
    assert(r.getLong(2) === sorted((sorted.length + 1) / 2 - 1))
  }

  test("q314 exponential QQ: deciles monotone, mean exact") {
    val silver = graft.pipeline.EventsPipeline.silver(spark, sf)
    val out = TemporalOps.exponentialQq(silver).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === (1L to 9L).toSeq)
    assert(out.map(_._2).sliding(2).forall(p => p(0) <= p(1)),
      "observed deciles must be non-decreasing")
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "exponential quantiles must be non-decreasing")
    assert(out.map(_._4).distinct.length === 1, "one global mean")
  }

  test("q321 Allen relations: planted fixture hits each planned relation") {
    import spark.implicits._
    // one user per relation; spans are [min ts, max ts] of type events
    val rows = Seq(
      (1L, "a", 0L), (1L, "a", 10L), (1L, "b", 20L), (1L, "b", 30L), // precedes
      (2L, "a", 0L), (2L, "a", 10L), (2L, "b", 10L), (2L, "b", 20L), // meets
      (3L, "a", 0L), (3L, "a", 30L), (3L, "b", 10L), (3L, "b", 20L), // contains
      (4L, "a", 10L), (4L, "a", 20L), (4L, "b", 0L), (4L, "b", 30L), // during
      (5L, "a", 0L), (5L, "a", 10L), (5L, "b", 0L), (5L, "b", 10L), // equals
      (6L, "a", 0L), (6L, "a", 20L), (6L, "b", 10L), (6L, "b", 30L)) // overlaps
      .toDF("user_id", "event_type", "sec")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("sec")).as("ts"))
    val out = TemporalOps.allenRelations(rows).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = Seq("precedes", "meets", "contains", "during",
      "equals", "overlaps")
    assert(out.keySet === expected.toSet)
    expected.foreach { rel =>
      assert(out(rel) === ((1L, 166666L)), s"relation $rel")
    }
    // sf corpus: census conserves the pair count and shares stay sane
    val silver = EventsPipeline.silver(spark, sf)
    val census = TemporalOps.allenRelations(silver).collect()
    val spanPairs = silver.groupBy(col("user_id"), col("event_type"))
      .count().groupBy(col("user_id")).count()
      .select(sum(expr("count * (count - 1) div 2"))).collect()(0).getLong(0)
    assert(census.map(_.getLong(1)).sum === spanPairs,
      "every type pair classified exactly once")
    assert(census.map(_.getLong(2)).sum <= 1000000L)
  }
}
