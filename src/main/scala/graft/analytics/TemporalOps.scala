package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal/ordering operators beyond the reference's surface: NULLS LAST
  * ordering (SURVEY §2.6 O2), set operations (§2.7 note), as-of join, and
  * sessionization — the operators an analytics user reaches for next.
  */
object TemporalOps {

  /** O2: explicit DESC NULLS LAST ordering over a nullable column (the
    * lag() of the first event per user is null). */
  def prevEventOrdering(silver: DataFrame): DataFrame =
    silver
      .select(col("user_id"), col("event_id"))
      .withColumn("prev_event_id",
        lag(col("event_id"), 1).over(
          Window.partitionBy("user_id").orderBy(col("event_id").asc)))
      .orderBy(col("prev_event_id").desc_nulls_last,
        col("user_id").asc, col("event_id").asc)

  /** INTERSECT / EXCEPT surface: users active on both dates vs only the
    * first, tagged and unioned. */
  def userDateSetOps(silver: DataFrame, d1: String, d2: String): DataFrame = {
    def usersOn(d: String) =
      silver.filter(col("event_date") === lit(d).cast("date"))
        .select(col("user_id")).distinct()
    val both = usersOn(d1).intersect(usersOn(d2))
      .select(lit("both").as("op"), col("user_id"))
    val onlyFirst = usersOn(d1).except(usersOn(d2))
      .select(lit("only_first").as("op"), col("user_id"))
    both.unionByName(onlyFirst)
      .orderBy(col("op").asc, col("user_id").asc)
  }

  /** q145: BAG-semantics set ops — `intersectAll` / `exceptAll` between
    * two days' event-type multisets. Distinct set ops (q45) answer "which
    * members"; the ALL variants answer "how MUCH overlap": intersect-all
    * multiplicity is min(m₁, m₂) per value, except-all is max(0, m₁−m₂) —
    * the algebra behind volume reconciliation (how many of yesterday's
    * events does today match 1:1?) that a distinct op silently collapses.
    * Spark compiles both to a count-aggregate + `explode(sequence)`
    * replication — one shuffle per side, no join, scale-safe; the census
    * on top makes the multiplicities directly visible and oracle-able. */
  def typeBagSetOps(silver: DataFrame, d1: String, d2: String): DataFrame = {
    def typesOn(d: String) =
      silver.filter(col("event_date") === lit(d).cast("date"))
        .select(col("event_type"))
    val commonBag = typesOn(d1).intersectAll(typesOn(d2))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("event_type"), col("n"))
    val extraBag = typesOn(d1).exceptAll(typesOn(d2))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("event_type"), col("n"))
    commonBag.unionByName(extraBag)
      .orderBy(col("op").asc, col("event_type").asc)
  }

  /** As-of (backward) join: for each event, the most recent order of the
    * same customer with o_orderdate <= ts.
    *
    * Spark has no ASOF JOIN operator and the naive theta-join
    * (`ON user = cust AND o_orderdate <= ts` + max-per-event) plans a
    * BroadcastNestedLoopJoin — quadratic. Composition instead (brief's
    * preference (a)): tag both sides, union, ONE hash shuffle on the key,
    * and a running `last(_, ignoreNulls)` window carries the latest order
    * attributes forward onto event rows. Linear in rows, sort-based, no
    * NLJ — the standard scale-safe as-of plan.
    *
    * Right side is pre-deduped to one order per (customer, date) — max
    * orderkey wins — so tie semantics are deterministic and match DuckDB's
    * ASOF JOIN on the same deduped input. */
  def eventOrderAsOf(silver: DataFrame, orders: DataFrame): DataFrame = {
    val rightDedup = orders
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
    val leftTagged = silver.select(
      col("user_id").as("k"), col("ts").as("t"), lit(1).as("side"),
      col("event_id"),
      lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("double").as("o_totalprice"))
    val rightTagged = rightDedup.select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("side"),
      lit(null).cast("long").as("event_id"),
      col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("side").asc, col("o_orderkey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftTagged.unionByName(rightTagged)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("asof_orderkey"), col("asof_totalprice"))
      .orderBy(col("event_id").asc)
  }

  /** [[eventOrderAsOf]] through the engine's own PHYSICAL as-of operator
    * ([[graft.plans.AsOfJoinExec]]): custom logical node, planner
    * strategy, sorted-merge execution. Semantically identical to the
    * union+window form — proven by the oracle (same SQL as q46) and by
    * AsOfJoinPlanSpec's row-for-row comparison — but each side shuffles
    * at its own natural width instead of being padded to the union
    * schema, and the merge keeps ONE buffered row per task instead of a
    * running window frame.
    *
    * No right-side pre-dedup needed: with the operator's
    * (time, tiebreak=o_orderkey) right ordering, "last qualifying row
    * wins" IS max-date-then-max-orderkey — the same tie rule q46 encodes
    * via its row_number dedup. */
  def eventOrderAsOfPhysical(silver: DataFrame, orders: DataFrame): DataFrame = {
    val leftSel = silver.select(col("event_id"), col("user_id"), col("ts"))
    val rightSel = orders.select(
      col("o_custkey"),
      col("o_orderdate").cast("timestamp").as("o_time"),
      col("o_orderkey"), col("o_totalprice"))
    graft.plans.AsOfJoin.asOf(
        leftSel, rightSel,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_time",
        rightTiebreak = "o_orderkey")
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("asof_orderkey"),
        col("o_totalprice").as("asof_totalprice"))
      .orderBy(col("event_id").asc)
  }

  /** Exact discrete quantiles per group — median without interpolation.
    * Interpolated quantiles (percentile_cont) mix IEEE operand orders
    * across engines; the DISCRETE median (lower-middle element by a total
    * order) is engine-exact: rank rows per group, keep rn = (cnt+1) div 2.
    * Distributed cost: one hash shuffle on the group key + per-group sort —
    * the same shape as any ranking window, no global sort. */
  def valueQuantiles(silver: DataFrame): DataFrame = {
    // asc_nulls_last EXPLICITLY: Spark ASC defaults NULLS FIRST, DuckDB
    // defaults NULLS LAST — with implicit defaults the discrete median
    // diverges the day `value` contains a NULL (round-2 advice).
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc_nulls_last, col("event_id").asc)
    val ranked = silver
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
    val medians = ranked
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("event_type"), col("value").as("median_value"))
    val stats = silver.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    stats.join(medians, Seq("event_type"))
      .select(col("event_type"), col("n"),
        col("min_value"), col("median_value"), col("max_value"))
      .orderBy(col("event_type").asc)
  }

  /** q143: INTERPOLATED quantiles (`percentile_cont` semantics) via
    * Spark's exact `percentile` aggregate — the continuous partner of
    * q50's discrete median. Interpolation mixes IEEE arithmetic, so this
    * is declared cross-engine-exact ONLY for integral-valued columns
    * (l_quantity is whole units): rank pos `p·(n−1)` has an exactly-
    * representable fraction for p ∈ {.25, .5, .75}, both operands of the
    * lerp are exact ints, and `lo + (hi−lo)·f` is then exact in any
    * IEEE engine regardless of operand order — the quantities both
    * engines print are bit-identical. For non-integral data use q50's
    * discrete form; this is the documented boundary between them.
    * Distributed cost: one partial-aggregated shuffle on the group key
    * (percentile buffers per group), no window, no global sort. */
  def percentileCont(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"))
      .orderBy(col("l_returnflag").asc)

  /** q124: EQUI-DEPTH histogram per event_type — the partner of q88's
    * equi-width `width_bucket`: bucket populations are equal by
    * construction and the boundaries are the data, which is what an
    * optimizer's histogram statistics and a monitoring dashboard
    * actually want. `ntile` over a TOTAL order ((value, event_id) — the
    * tiebreak makes bucket assignment deterministic, not just bucket
    * sizes) is one window over the per-type clustering; no second pass,
    * no percentile approximation. */
  def equidepthHistogram(silver: DataFrame, buckets: Int = 4): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc_nulls_last, col("event_id").asc)
    silver.filter(col("value").isNotNull)
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  /** q125: MAD-based robust outliers — the q111 z-score census's robust
    * sibling: median and median-absolute-deviation shrug off the very
    * outliers that inflate a mean/stddev fence. Two discrete-median
    * passes (the q50 machinery: row_number over a total order, pick
    * (cnt+1) div 2), both riding the same per-type clustering; the fence
    * is |v − median| > 3·MAD. All arithmetic is IEEE double subtraction/
    * comparison — deterministic across engines, no transcendentals. */
  def madOutliers(silver: DataFrame): DataFrame = {
    val vals = silver.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    def discreteMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type")
        .orderBy(col(valueCol).asc, col("event_id").asc)
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = discreteMedian(vals, "value", "med")
    val dev = vals.join(broadcast(med), Seq("event_type"))
      .withColumn("absdev", abs(col("value") - col("med")))
    val mad = discreteMedian(
      dev.select(col("event_type"), col("event_id"), col("absdev")),
      "absdev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("is_outlier", col("absdev") > col("mad") * lit(3.0d))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("median_value"),
        max(col("mad")).as("mad"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("is_outlier"), col("event_id"))).as("first_outlier_id"))
      .orderBy(col("event_type").asc)
  }

  /** q131: LOG-BUCKETED inter-event gap histogram — the latency/cadence
    * distribution every event pipeline monitors, with power-of-2 buckets
    * so the histogram spans µs-to-months in ~40 rows. The bucket is the
    * INTEGER log2 via `length(bin(gap))` — pure integer/string ops both
    * engines define identically (no ln(), no IEEE drift). Gaps come from
    * one lag() over the per-user clustering silver already has. */
  def gapHistogram(silver: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    silver
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .withColumn("gap_s", expr("gap_us div 1000000")) // integer division
      .withColumn("bucket", length(bin(col("gap_s"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("bucket").asc)
  }

  /** Sessionization (gaps-and-islands): a new session starts when the gap
    * to the previous event of the same user exceeds `gapSeconds`. Per-user
    * window — partitions cleanly, one shuffle on user_id (reused from the
    * persisted silver partitioning). The streaming equivalent with
    * explicit state lives in graft.streaming.Sessionize. */
  def sessionize(silver: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        > gapSeconds * 1000000L, 1)
      .otherwise(when(lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0))
    val fmt: Column => Column = date_format(_, "yyyy-MM-dd HH:mm:ss")
    silver
      .withColumn("new_session", newSession)
      .withColumn("session_no",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        fmt(min(col("ts"))).as("session_start"),
        fmt(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id").asc, col("session_no").asc)
  }

  /** [[sessionize]] through Spark's NATIVE `session_window` operator — the
    * declarative form Catalyst can plan (and the one that also runs
    * unchanged in Structured Streaming with merging session state). The
    * session end is INCLUSIVE: an event at exactly last-event + gap still
    * extends the session (verified by the boundary test), so only
    * `diff > gap` opens a new one — the same rule as [[sessionize]], and
    * the two are proven identical in TemporalOpsSpec. Same one shuffle on
    * user_id as the manual form. */
  def sessionWindows(silver: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val fmt: Column => Column = date_format(_, "yyyy-MM-dd HH:mm:ss")
    silver
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        fmt(col("sw.start")).as("session_start"),
        fmt(col("last_ts")).as("session_end"),
        col("n_events"))
      .orderBy(col("user_id").asc, col("session_start").asc)
  }

  /** FULL OUTER reconciliation of two daily aggregates: days with events,
    * days with orders, and which sides are missing — the audit a pipeline
    * runs to find ingest gaps. Full outer is the one join type the rest
    * of the surface doesn't exercise (inner/left/semi/anti/as-of all
    * appear elsewhere); it plans as a sort-merge join preserving both
    * sides' unmatched rows, one shuffle per side on the date key. The
    * pre-aggregation means the join moves one row per (day, side) — never
    * raw events against raw orders. */
  def dailyActivityReconciled(silver: DataFrame, orders: DataFrame): DataFrame = {
    val eventDays = silver.groupBy(col("event_date").as("d"))
      .agg(count(lit(1)).as("event_cnt"))
    val orderDays = orders.groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("order_cnt"))
    eventDays.join(orderDays, Seq("d"), "full_outer")
      .select(col("d"),
        coalesce(col("event_cnt"), lit(0L)).as("event_cnt"),
        coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
        (col("event_cnt").isNotNull && col("order_cnt").isNotNull).as("both_sides"))
      .orderBy(col("d").asc)
  }

  /** Sliding-window event counts via Spark's native `window()` generator:
    * 1-hour windows every 15 minutes, so each event lands in exactly 4
    * overlapping windows (window/slide). This is the batch twin of the
    * streaming watermarked windowed aggregation in
    * graft.streaming.StreamingIngest — same `window()` call, same output
    * shape — demonstrating that the window semantics are engine-native,
    * not a date_trunc approximation (tumbling = the slide==width special
    * case, already covered by the hourly/monthly reports). Window starts
    * are emitted as epoch seconds: exact integers on both engines, no
    * timestamp-rendering ambiguity in the gate. Scale shape: the
    * generator is a per-row 4-way explode (map-side, no join), then one
    * keyed aggregation — linear, shuffle on (window, event_type). */
  def slidingWindowCounts(silver: DataFrame): DataFrame =
    silver
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("window.start").cast("long").as("win_start"),
        col("event_type"), col("n_events"), col("n_users"))
      .orderBy(col("win_start").asc, col("event_type").asc)

  /** Calendar densification (gap fill): every user gets a row for EVERY
    * day of their active span, absent days filled with 0 — the
    * preprocessing a time-series model (or the RANGE-frame q91) needs to
    * treat "no data" as an observation. The calendar is GENERATED per
    * user with `sequence(min_day, max_day)` + explode — a narrow op whose
    * output is span-sized, joined back to the daily rollup on the
    * (user, day) key both sides already shuffle on. No driver-side
    * calendar, no cross join with a global date dimension (which at
    * 100 TB would fan every user to the full corpus span). */
  /** BANDED interval-overlap join — the missing temporal primitive next
    * to as-of: "which shipping intervals [l_shipdate, l_receiptdate]
    * overlap each audit window". The naive spelling
    * (`ON s <= w_end AND w_start <= r`) is a pure theta join — Spark
    * plans BroadcastNestedLoopJoin, O(rows × windows), a scale-killer.
    * Banding restores an equi-join: each interval explodes over the
    * months it spans (ship→receipt spans ≤ ~3 months in TPC-H-ish data,
    * so the explode factor is a small constant), each window lives in
    * exactly ONE month (its start month, by construction — 10-day
    * windows never cross a month boundary), and the join key is the
    * month. A window-month pair matches once, so no dedup is needed —
    * then the exact overlap predicate filters within the band. One
    * broadcast hash join, linear in lineitem.
    *
    * The fixture carries only l_shipdate, so the delivery interval is
    * derived deterministically: [ship, ship + l_linenumber*7 days] —
    * integer arithmetic both engines reproduce bit-exactly. Windows are
    * the first decade [1st, 10th] of every month in the shipdate span,
    * the cross-engine-reproducible stand-in for a promotions dim. */
  def intervalOverlapCensus(lineitem: DataFrame): DataFrame = {
    val intervals = lineitem.select(
      col("l_orderkey"), col("l_quantity"),
      col("l_shipdate").cast("date").as("s"),
      date_add(col("l_shipdate").cast("date"),
        col("l_linenumber") * lit(7)).as("e"))
    val windows = intervals
      .agg(date_trunc("month", min(col("s"))).cast("date").as("lo"),
           date_trunc("month", max(col("s"))).cast("date").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 month"))).as("w_start"))
      .select(col("w_start"), date_add(col("w_start"), 9).as("w_end"),
        col("w_start").as("m")) // a window's band IS its start month
    val banded = intervals.withColumn("m", explode(sequence(
      date_trunc("month", col("s")).cast("date"),
      date_trunc("month", col("e")).cast("date"),
      expr("interval 1 month"))))
    // TWO-LEVEL aggregate instead of count+sum+countDistinct in one agg:
    // the mixed distinct/non-distinct form plans an Expand that doubles
    // every row through the shuffle. Pre-aggregating per (window, order)
    // keeps the shuffle at the order grain with map-side combine, and
    // the distinct-order count becomes a plain count of groups.
    banded.join(broadcast(windows), Seq("m"))
      .filter(col("s") <= col("w_end") && col("w_start") <= col("e"))
      .groupBy(col("w_start"), col("w_end"), col("l_orderkey"))
      .agg(count(lit(1)).as("c"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .groupBy(col("w_start"), col("w_end"))
      .agg(sum(col("c")).cast("long").as("n_lines"),
        sum(col("q")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("w_start").asc)
  }

  def calendarGapFill(silver: DataFrame): DataFrame = {
    val daily = graft.pipeline.EventsPipeline.goldDailyOf(silver)
      .select(col("user_id"), col("event_date"), col("listen_count"))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("event_date")).as("d0"), max(col("event_date")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("event_date"))
    cal.join(daily, Seq("user_id", "event_date"), "left")
      .select(
        col("user_id"), col("event_date"),
        coalesce(col("listen_count"), lit(0L)).as("listen_count"),
        col("listen_count").isNull.as("is_gap"))
      .orderBy(col("user_id").asc, col("event_date").asc)
  }

  /** q148: per-type activity trend as EXACT closed-form least squares.
    * Distributed regression done the 100 TB way: reduce the corpus to the
    * five sufficient statistics (n, Σx, Σy, Σxy, Σx²) in ONE map-side-
    * combinable aggregation — never materializing a per-day frame on the
    * driver, never iterating. x is the epoch day (integer), y the daily
    * count, so every statistic and the closed-form numerators
    *   slope_num = nΣxy − ΣxΣy          (slope = slope_num / slope_den)
    *   icept_num = ΣyΣx² − ΣxΣxy       (icept = icept_num / slope_den)
    *   slope_den = nΣx² − (Σx)²
    * are exact BIGINTs — the division (the only inexact step) is left to
    * the caller, so the result is bit-stable across engines. A positive
    * slope_num/slope_den sign pair IS the "growing" verdict. */
  def typeTrendStats(silver: DataFrame): DataFrame = {
    val daily = silver.groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("event_date"), lit("1970-01-01")).cast("long"))
    daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("icept_num", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn("slope_den", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .select(col("event_type"), col("n_days"), col("slope_num"),
        col("icept_num"), col("slope_den"))
      .orderBy(col("event_type").asc)
  }

  /** q152: EXACT per-group trimmed mean — drop the lowest and highest
    * `trimPct`% of values (floor counts), aggregate the middle. The robust
    * central-tendency sibling of the MAD outlier census (q125): MAD flags
    * the tails, trimming prices them out of the estimate.
    *
    * Exactness contract: l_quantity carries integral values (the same fact
    * q143 exploits), so the kept-set sum is an exact BIGINT and the only
    * division is a final integer `div` to milli-units — bit-stable across
    * engines. The trim boundary depends only on the SORTED VALUE multiset
    * (any two rows tied at the boundary are interchangeable), so no
    * tiebreak column is needed for the sum to be deterministic.
    *
    * Scale: computed on the VALUE HISTOGRAM, not the rows — one map-side-
    * combinable groupBy((group, value)) collapses the corpus to
    * |groups|×|distinct values| rows; the cumulative window and the
    * rank-interval arithmetic then run on that tiny frame. A row at
    * value v occupies ranks (cum−c, cum]; the kept band is (lo, n−lo];
    * their overlap length is the kept count for v — exactly the rows a
    * per-row row_number filter would keep, with no corpus-wide sort
    * anywhere. (For continuous values the histogram degenerates to the
    * row count and a per-group sort is the honest fallback.) */
  def trimmedMeans(li: DataFrame, trimPct: Int = 5): DataFrame = {
    val hist = li.select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("c"))
    val byQ = Window.partitionBy(col("l_returnflag")).orderBy(col("q").asc)
    val all = Window.partitionBy(col("l_returnflag"))
    hist
      .withColumn("cum", sum(col("c")).over(byQ))
      .withColumn("n", sum(col("c")).over(all))
      .withColumn("lo", expr(s"n * $trimPct div 100"))
      // kept rows at this value = |(cum-c, cum] ∩ (lo, n-lo]|
      .withColumn("kept_c",
        greatest(lit(0L),
          least(col("cum"), col("n") - col("lo")) -
            greatest(col("cum") - col("c"), col("lo"))))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("n")).as("n_total"),
        sum(col("kept_c")).as("n_kept"),
        sum(col("q") * col("kept_c")).as("kept_sum"))
      .withColumn("trimmed_mean_milli", expr("kept_sum * 1000 div n_kept"))
      .orderBy(col("l_returnflag").asc)
  }

  /** q193: time-weighted value integral per user — the step-function
    * integral ∫v·dt where each event's value holds until the user's
    * next event (the IoT/metrics "time-weighted average" primitive that
    * plain AVG gets wrong when samples are irregular). All integer:
    * value quantizes to cents via FLOOR (consistent IEEE both engines),
    * gaps are epoch-second differences. We ship the numerator and the
    * denominator separately — values can be negative and a negative
    * integer division is exactly where Spark's truncating `div` and
    * DuckDB's flooring `//` disagree (q175 lesson), so the gate carries
    * no division at all.
    *
    * Scale shape: one lead() over silver's existing (user, ts)
    * clustering, then a per-user rollup on the same partitioning — no
    * extra exchange. */
  def timeWeightedValue(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    silver
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .withColumn("gap_s",
        unix_timestamp(lead(col("ts"), 1).over(w)) -
          unix_timestamp(col("ts")))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_holds"),
        sum(col("gap_s")).cast("long").as("total_secs"),
        sum(col("v_c") * col("gap_s")).cast("long").as("twa_num"))
      .orderBy(col("user_id").asc)
  }

  /** q194: half-life-decayed engagement score per user — recency-
    * weighted activity where an event aged w whole weeks (against the
    * CORPUS max date, so the score is data-relative and reproducible,
    * not wall-clock) contributes 10⁶ ⁄ 2ʷ ppm. The decay is an exact
    * integer shift (`div (1 << w)`), not a float pow — the scoring stays
    * bit-portable and the gate integer-only. The recency primitive
    * behind every engagement/churn ranking.
    *
    * Scale shape: the corpus max date is one scalar broadcast; the
    * score is a single grouped sum reusing silver's user partitioning.
    * Shift capped at 62 so pathological date ranges can't overflow. */
  def decayedEngagement(silver: DataFrame): DataFrame = {
    val maxDate = silver.agg(max(col("event_date")).as("max_date"))
    silver
      .crossJoin(broadcast(maxDate))
      .withColumn("age_w",
        least(expr("datediff(max_date, event_date) div 7"), lit(62L)).cast("int"))
      .withColumn("decay_ppm",
        expr("1000000 div shiftleft(cast(1 as bigint), age_w)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("decay_ppm")).cast("long").as("score_ppm"),
        max(col("event_date")).as("last_date"))
      .orderBy(col("user_id").asc)
  }

  /** q196: as-of join WITH TOLERANCE — pandas `merge_asof(tolerance=)`
    * semantics: each event takes the most recent same-customer order,
    * but a match older than `days` is discarded (nulled), not carried.
    * The staleness cutoff is what production feature-lookup joins
    * actually need: "the last price, unless it's a month stale".
    *
    * Same scale-safe union+running-window plan as [[eventOrderAsOf]]
    * (one key shuffle, no nested-loop theta join); the tolerance is a
    * post-filter on the carried match date, so it adds zero data
    * movement. Age ships in whole days (exact integers); both match
    * columns null out together when the tolerance trips. */
  def eventOrderAsOfTolerance(silver: DataFrame, orders: DataFrame,
      days: Int = 30): DataFrame = {
    val rightDedup = orders
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
    val leftTagged = silver.select(
      col("user_id").as("k"), col("ts").as("t"), lit(1).as("side"),
      col("event_id"),
      lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("date").as("o_date"))
    val rightTagged = rightDedup.select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("side"),
      lit(null).cast("long").as("event_id"),
      col("o_orderkey"), col("o_orderdate").as("o_date"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("side").asc, col("o_orderkey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftTagged.unionByName(rightTagged)
      .withColumn("mk", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("md", last(col("o_date"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .withColumn("age_days", datediff(col("t").cast("date"), col("md")))
      .select(col("event_id"), col("k").as("user_id"),
        when(col("age_days") <= days, col("mk")).as("asof_orderkey"),
        when(col("age_days") <= days, col("age_days")).as("asof_age_days"))
      .orderBy(col("event_id").asc)
  }

  def eventOrderAsOfTolerance(spark: SparkSession, dir: String): DataFrame =
    eventOrderAsOfTolerance(
      graft.pipeline.EventsPipeline.silver(spark, dir),
      graft.core.Tables.orders(spark, dir))

  /** q203: autocorrelation sufficient statistics of the daily event
    * count at lags 1..maxLag — the seasonality probe (lag-7 spike =
    * weekly cycle) a load-forecasting pipeline runs before fitting
    * anything. Same philosophy as [[typeTrendStats]]: reduce the corpus
    * to exact int64 sufficient statistics and leave the one inexact
    * division to the caller, so the result hash-matches any engine.
    * Per lag k: n_pairs (overlap length) and sxy = Σ_d c_d·c_{d+k};
    * alongside corpus constants n_days, s_total = Σc, s_sq = Σc² —
    * enough to form r_k = (n·sxy_k − s²·(n−k)/n …) in any convention
    * the analyst prefers.
    *
    * Scale shape: the corpus collapses to a |days|-sized daily frame
    * first (one map-side-combinable count), the calendar spine is
    * generated (`sequence` + explode, zero-filled — "no data" is an
    * observation), and only THEN does the single-partition ordered
    * window run — over a calendar-domain frame (a decade is ~3,650
    * rows), the same bounded-domain exemption as the ksDistance bucket
    * offsets. maxLag leads come out of ONE window pass. */
  def acfDailyStats(silver: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily0 = silver.groupBy(col("event_date"))
      .agg(count(lit(1)).as("c"))
    val spine = daily0
      .agg(min(col("event_date")).as("d0"), max(col("event_date")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)"))
        .as("event_date"))
    val daily = spine.join(daily0, Seq("event_date"), "left")
      .select(col("event_date"), coalesce(col("c"), lit(0L)).as("c"))
    // domain-sized: daily spine (~days rows)
    val w = Window.orderBy(col("event_date").asc)
    val leads = (1 to maxLag).foldLeft(daily) { (df, k) =>
      df.withColumn(s"c$k", lead(col("c"), k).over(w))
    }
    val stacked = leads
      .select(explode(array((1 to maxLag).map { k =>
        struct(lit(k).as("lag"), (col("c") * col(s"c$k")).as("xy"))
      }: _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.xy").as("xy"))
      .groupBy(col("lag"))
      .agg(count(col("xy")).as("n_pairs"),
        coalesce(sum(col("xy")), lit(0L)).cast("long").as("sxy"))
    val totals = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("c")).cast("long").as("s_total"),
      sum(col("c") * col("c")).cast("long").as("s_sq"))
    stacked.crossJoin(broadcast(totals))
      .select(col("lag"), col("n_pairs"), col("sxy"),
        col("n_days"), col("s_total"), col("s_sq"))
      .orderBy(col("lag").asc)
  }

  /** q209: pre/post first-conversion activity census — the event-study
    * (difference-around-anchor) design: for each user who ever
    * purchases, anchor = their FIRST purchase date, then per event
    * type count events in the 7 days before ([anchor−7, anchor−1]) vs
    * the 7 days from the anchor ([anchor, anchor+6]) and ship the
    * post/pre ratio in ppm. Distinct from q168 (co-occurrence
    * association) and q200 (which single touch gets credit): this
    * measures how behavior CHANGES around conversion. (The anchor is
    * an event, not an order — the synthetic orders live in a different
    * date epoch than events, so a cross-table anchor would be the
    * empty relation.)
    *
    * Scale shape: anchors are one map-side-combinable min per
    * converting user; the events⋈anchors equi-join is a plain
    * key-hash shuffle with the anchor side pre-aggregated to one row
    * per user. The ±7-day band filter needs the anchor so it sits just
    * above the join, pruning rows before the final groupBy. Types with
    * no pre-window activity are excluded (matching the oracle; a ratio
    * over zero is undefined anyway). */
  def prePostFirstPurchase(silver: DataFrame): DataFrame = {
    val anchors = silver.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("event_date")).as("anchor"))
    silver.select(col("user_id"), col("event_type"), col("event_date"))
      .join(anchors, Seq("user_id"))
      .select(col("event_type"),
        datediff(col("event_date"), col("anchor")).as("dd"))
      .filter(col("dd") >= -7 && col("dd") <= 6)
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("dd") < 0, 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("dd") >= 0, 1L).otherwise(0L)).as("n_post"))
      .filter(col("n_pre") > 0)
      .select(col("event_type"), col("n_pre"), col("n_post"),
        expr("n_post * 1000000 div n_pre").cast("long").as("lift_ppm"))
      .orderBy(col("event_type").asc)
  }

  /** q224: session handoff matrix — how a user's LAST action in one
    * session relates to their FIRST action in the next: the
    * return-intent signal session-level aggregates (q47/q87) flatten
    * and the event-level transition matrix (q146) conflates with
    * within-session flow. A (exit_type → entry_type) cell census over
    * consecutive session pairs per user, with the transition share in
    * ppm.
    *
    * Scale shape: reuses [[sessionize]]'s single user-clustered window
    * pass to tag session numbers, reduces to one row per session
    * (first/last type via the same window — min/max_by over
    * (ts, event_id)), then a per-user lead for the handoff — every
    * step stays on silver's user_id clustering; the final census is
    * |types|²-bounded. */
  def sessionHandoffs(silver: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        > gapSeconds * 1000000L, 1)
      .otherwise(when(lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0))
    val sessions = silver
      .withColumn("new_session", newSession)
      .withColumn("session_no",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        expr("min_by(event_type, struct(ts, event_id))").as("entry_type"),
        expr("max_by(event_type, struct(ts, event_id))").as("exit_type"))
    val wS = Window.partitionBy("user_id").orderBy(col("session_no").asc)
    val handoffs = sessions
      .withColumn("next_entry", lead(col("entry_type"), 1).over(wS))
      .filter(col("next_entry").isNotNull)
      .groupBy(col("exit_type"), col("next_entry"))
      .agg(count(lit(1)).as("n_handoffs"))
    val total = handoffs.agg(sum(col("n_handoffs")).as("t"))
    handoffs.crossJoin(broadcast(total))
      .select(col("exit_type"), col("next_entry"), col("n_handoffs"),
        expr("n_handoffs * 1000000 div t").cast("long").as("share_ppm"))
      .orderBy(col("exit_type").asc, col("next_entry").asc)
  }

  /** q238: CONVERSION LIFE TABLE (discrete Kaplan–Meier) — time from a
    * user's first `view` to their first subsequent `purchase`, as the
    * integer life table a survival analysis starts from: per latency day
    * k, the number still at risk, the number converting exactly at k,
    * and the discrete hazard in ppm. Censoring is handled the honest
    * way — a user who never converts counts as at-risk only up to their
    * observation horizon (end-of-data minus first view), never beyond —
    * which is precisely what a naive "average days to convert over
    * converters" report gets wrong.
    *
    * All integer: latencies and horizons are day differences, hazard is
    * floor ppm. (The KM survival CURVE is the running product of
    * (1 − hazard) — a per-row derivation the consumer can do exactly
    * from these integers; shipping the table keeps the gate float-free.)
    *
    * Scale shape: two per-user min-aggregations (first view, first
    * subsequent purchase) on silver's user clustering, then a 32-row
    * day spine cross-joined against the user-grain frame — linear
    * rows × spine, aggregated immediately; the spine is a broadcast
    * literal. */
  def conversionLifeTable(silver: DataFrame,
      endDate: String = "2024-01-31"): DataFrame = {
    val firstView = silver.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
    val firstBuy = silver.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_uid"), col("ts").as("buy_ts"))
    val perUser = firstView
      .join(firstBuy,
        col("user_id") === col("buy_uid") && col("buy_ts") >= col("view_ts"),
        "left")
      .groupBy(col("user_id"), col("view_ts"))
      .agg(min(col("buy_ts")).as("conv_ts"))
      .select(
        datediff(col("conv_ts").cast("date"), col("view_ts").cast("date"))
          .as("t_conv"),
        datediff(lit(endDate).cast("date"), col("view_ts").cast("date"))
          .as("horizon"))
    val spine = silver.sparkSession.range(0, 32)
      .select(col("id").cast("int").as("k"))
    spine.crossJoin(perUser)
      .groupBy(col("k"))
      .agg(
        sum(when(
          (col("t_conv").isNotNull && col("t_conv") >= col("k")) ||
            (col("t_conv").isNull && col("horizon") >= col("k")), 1L)
          .otherwise(0L)).as("n_at_risk"),
        sum(when(col("t_conv") === col("k"), 1L).otherwise(0L))
          .as("n_conv"))
      .filter(col("n_at_risk") > 0)
      .select(col("k").cast("long").as("k"),
        col("n_at_risk").cast("long").as("n_at_risk"),
        col("n_conv").cast("long").as("n_conv"),
        expr("n_conv * 1000000 div n_at_risk").cast("long")
          .as("hazard_ppm"))
      .orderBy(col("k").asc)
  }

  /** q242: CONCURRENCY PEAKS (interval sweep, minute resolution) — per
    * day, the maximum number of simultaneously open sessions and the
    * earliest minute achieving it: the capacity-planning readout (how
    * many concurrent users must the serving tier survive?). The classic
    * +1/−1 boundary sweep needs a corpus-ordered running sum; the
    * scale-safe reformulation bins sessions to MINUTES — each session
    * explodes to its covered minutes (bounded by gap + duration, ≤ ~30
    * rows/session), concurrency is a count per minute, and the per-day
    * argmax rides a day-partitioned rank. Same sessionization rule as
    * q47 (30-min inactivity gap, `diff > gap` opens).
    *
    * Scale shape: one user-clustered session window, a linear minute
    * explode, a (minute) aggregation, and a per-day (365-partition)
    * rank — no global sort, no corpus window. */
  def concurrencyPeaks(silver: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        > gapSeconds * 1000000L, 1)
      .otherwise(when(lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0))
    val sessions = silver
      .withColumn("ns", newSession)
      .withColumn("session_no",
        sum(col("ns")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(expr("min(unix_micros(ts) div 1000000) div 60").as("m0"),
        expr("max(unix_micros(ts) div 1000000) div 60").as("m1"))
    val perMinute = sessions
      .select(explode(sequence(col("m0"), col("m1"))).as("minute"))
      .groupBy(col("minute")).agg(count(lit(1)).as("conc"))
      .withColumn("day", timestamp_seconds(col("minute") * 60).cast("date"))
    val byDay = Window.partitionBy(col("day"))
      .orderBy(col("conc").desc, col("minute").asc)
    perMinute
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1)
      .select(col("day"), col("minute").cast("long").as("peak_minute"),
        col("conc").cast("long").as("max_concurrency"))
      .orderBy(col("day").asc)
  }

  /** q247: FORECAST BACKTEST (seasonal-naive vs naive-1) — the honest
    * baseline every demand-forecasting effort must beat, run as a
    * relation: for each event type over the LAST 7 observed days,
    * forecast daily counts with (a) the same weekday last week
    * (seasonal naive, season 7) and (b) yesterday's count (naive-1),
    * and report both absolute-error masses in exact counts plus their
    * ratio in ppm (< 10⁶ ⇒ weekly seasonality carries real signal —
    * the MASE idea with the division kept integer). No model fitting,
    * no floats, fully backtestable on both engines.
    *
    * Scale shape: one (type, day) aggregation, two lag windows
    * partitioned BY TYPE over day-count frames (365 rows/type/year),
    * a broadcast max-date anchor, and a |types|-row reduction. */
  def forecastBacktest(silver: DataFrame): DataFrame = {
    val daily = silver.groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("y"))
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("event_date").asc)
    val maxD = daily.agg(max(col("event_date")).as("maxd"))
    daily
      .withColumn("snaive", lag(col("y"), 7).over(byType))
      .withColumn("naive1", lag(col("y"), 1).over(byType))
      .crossJoin(broadcast(maxD))
      .filter(datediff(col("maxd"), col("event_date")) < 7 &&
        col("snaive").isNotNull && col("naive1").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("y") - col("snaive"))).as("snaive_abs_err"),
        sum(abs(col("y") - col("naive1"))).as("naive1_abs_err"))
      .filter(col("naive1_abs_err") > 0)
      .select(col("event_type"),
        col("n_days").cast("long").as("n_days"),
        col("snaive_abs_err").cast("long").as("snaive_abs_err"),
        col("naive1_abs_err").cast("long").as("naive1_abs_err"),
        expr("snaive_abs_err * 1000000 div naive1_abs_err").cast("long")
          .as("mase_ppm"))
      .orderBy(col("event_type").asc)
  }

  /** q299: CUSUM CHANGEPOINT SCAN over the daily event-count series —
    * the sequential drift detector (Page, 1954) every volume-monitoring
    * pipeline runs: S⁺ accumulates upward deviations past a slack k
    * above the series mean, S⁻ downward ones, each resetting at zero;
    * a breach of threshold h localizes the day the level shifted.
    *
    * The recursion Sₜ = max(0, Sₜ₋₁ + devₜ) is NOT a prefix sum — but it
    * has the exact closed form Sₜ = pₜ − min_{0≤j≤t} pⱼ over the plain
    * prefix sums pₜ (running-sum-minus-running-min), which IS two
    * windows. That identity is what makes the operator declarative and
    * engine-portable; all arithmetic is integer (μ, k = μ/20, h = μ/2
    * are floor-divs of non-negative totals; the deviations go negative
    * but are only ever summed, min'd, and subtracted).
    *
    * Scale shape: the corpus reduces to one DAILY census first; both
    * windows run over that date-range-bounded frame (the q283/q247
    * domain-window discipline). */
  def cusumChangepoint(silver: DataFrame): DataFrame = {
    val daily = silver.groupBy(col("event_date").as("d"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("tx"), count(lit(1)).as("nd"))
    val base = daily.crossJoin(broadcast(tot))
      .withColumn("mu", expr("tx div nd"))
      .withColumn("k", expr("(tx div nd) div 20"))
      .withColumn("h", expr("(tx div nd) div 2"))
    // domain-sized: daily aggregate (~days rows)
    val wRun = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    base
      .withColumn("p", sum(col("x") - col("mu") - col("k")).over(wRun))
      .withColumn("q", sum(col("mu") - col("k") - col("x")).over(wRun))
      .withColumn("s_pos", col("p") - least(lit(0L), min(col("p")).over(wRun)))
      .withColumn("s_neg", col("q") - least(lit(0L), min(col("q")).over(wRun)))
      .select(col("d"), col("x").cast("long").as("x"),
        col("s_pos").cast("long").as("s_pos"),
        col("s_neg").cast("long").as("s_neg"),
        col("h").cast("long").as("h"),
        (col("s_pos") > col("h") || col("s_neg") > col("h")).as("breach"))
      .orderBy(col("d").asc)
  }

  /** q310: THEIL–SEN ROBUST TREND of the daily event-count series — the
    * median of all pairwise slopes, the estimator that shrugs off the
    * outlier days that wreck the q148 least-squares trend (a single
    * backfill spike moves OLS arbitrarily; it moves the slope median by
    * at most one rank). Each slope is ONE double division floored in
    * both engines (sign-safe, unlike integer div on negative deltas —
    * the q175 lesson); the median is the value at rank ⌈n/2⌉ over the
    * date-range-bounded pair frame.
    *
    * Scale shape: the corpus reduces to the daily census FIRST; the
    * pairwise frame is |days|², bounded by the date range, not the data
    * (the q283 domain-window discipline). */
  def theilSen(silver: DataFrame): DataFrame = {
    val daily = silver.groupBy(col("event_date").as("d"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min(col("d")).as("d0"))
    val pts = daily.crossJoin(broadcast(d0))
      .select(datediff(col("d"), col("d0")).cast("long").as("t"), col("y"))
    // Round-14 (verdict r13 item 3): the old form ranked ALL ~days²/2
    // slope pairs through an UNPARTITIONED row_number window — a single-
    // task sort of ~8M rows at sf0.1 (the classic global-window scale
    // killer). The median is an order statistic over INTEGER slopes, so
    // a VALUE HISTOGRAM gets it in ONE parallel pass over the pairs:
    // groupBy(slope) partial-aggregates map-side into a domain-sized
    // (distinct slope values) frame, cached; the median is the value
    // whose cumulative count covers rank (n+1) div 2 — tie-invariant,
    // bit-identical to the window form's selected value. The only sort
    // left runs over the distinct-value histogram, not the pairs.
    val hist = graft.core.Caches.scratch(
      pts.as("p1").join(pts.as("p2"), col("p2.t") > col("p1.t"))
        .select(floor((col("p2.y") - col("p1.y")).cast("double") * lit(1000.0)
          / (col("p2.t") - col("p1.t"))).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt")))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    // domain-sized: one row per distinct slope_milli value
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
        expr("(n + 1) div 2") <= col("cum"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days").cast("long").as("n_days"),
        col("n").cast("long").as("n_pairs"),
        col("v").cast("long").as("slope_milli"),
        (col("v") > 0).as("trending_up"))
  }

  /** The q314 exponential quantiles −ln(1−k/10), k = 1..9, computed ONCE
    * on the JVM and shared with the oracle as printed literals (the
    * round-trip print re-parses to the identical double in both
    * engines — the q311 shared-table discipline for irrational
    * constants). */
  def ExpQuantiles: Seq[(Long, Double)] =
    (1 to 9).map(k => (k.toLong, -math.log(1.0 - k / 10.0)))

  /** q314: EXPONENTIAL Q–Q TABLE for inter-event gaps — the user-level
    * arrival-process fit check: if arrivals were memoryless (Poisson),
    * the gap deciles would match mean·(−ln(1−p)). Per decile: the exact
    * observed gap (bucket-offset order statistics — no corpus sort), the
    * exponential expectation, and their ratio. Ratios sagging below 10⁶
    * at low deciles with a heavy top decile = bursty sessions (the q284
    * Fano verdict, localized to WHERE in the distribution the burstiness
    * lives).
    *
    * Scale shape: gaps from one lead() over the user clustering; deciles
    * via the OrderStats kernel; the quantile table is 9 literal rows. */
  def exponentialQq(silver: DataFrame): DataFrame = {
    val spark = silver.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gaps = graft.core.Caches.scratch(silver
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s", unix_timestamp(lead(col("ts"), 1).over(w))
        - unix_timestamp(col("ts")))
      .filter(col("gap_s").isNotNull)
      .select(lit("all").as("part"), col("gap_s").as("v")))
    // round-13: one census aggregate carries count AND the kernel's
    // bounds — saves valueAtRank's own bounds pass over `gaps`
    val census = graft.core.Caches.trackCheckpoint(
      gaps.groupBy(col("part")).agg(count(lit(1)).as("cn"),
          min(col("v")).as("vlo"), max(col("v")).as("vhi"))
        .localCheckpoint(true))
    val positions = census
      .select(col("part"), explode(expr("sequence(1, 9)")).as("q"),
        col("cn"))
      .select(col("part"), col("q").cast("long").as("q"),
        expr("(q * cn + 9) div 10").as("pos"))
    val bounds = census.select(col("part"), col("vlo").as("lo"),
      (col("vhi") - col("vlo") + 1).as("span"))
    val at = OrderStats.valueAtRank(gaps, positions, bounds)
      .select(col("q").as("decile"), col("v").as("obs_gap_s"))
    val mean = gaps.agg(expr("sum(v) * 1000 div count(1)").as("mean_milli"))
    val lq = ExpQuantiles.toDF("decile", "l")
    at.join(broadcast(lq), Seq("decile"))
      .crossJoin(broadcast(mean))
      .select(col("decile").cast("long").as("decile"),
        col("obs_gap_s").cast("long").as("obs_gap_s"),
        floor(col("mean_milli").cast("double") * col("l") / lit(1000.0))
          .cast("long").as("exp_gap_s"),
        col("mean_milli").cast("long").as("mean_gap_milli"))
      .withColumn("ratio_ppm",
        expr("obs_gap_s * 1000000 div greatest(1L, exp_gap_s)")
          .cast("long"))
      .orderBy(col("decile").asc)
  }

  /** q321: ALLEN INTERVAL-ALGEBRA census — each user's per-event-type
    * activity span ([min ts, max ts], microseconds) classified pairwise
    * into Allen's 13 interval relations. q117 answers "do intervals
    * overlap at all"; this is the full topological census (precedes /
    * meets / overlaps / starts / during / finishes / equals + inverses),
    * the vocabulary temporal-reasoning audits use: e.g. a "purchase
    * preceded_by view" mass vs "purchase during view" mass is a causal
    * ordering readout no plain overlap join gives.
    *
    * Pairs are per-user over the TYPE-ordered span pair (ta < tb), so
    * the inverse relations are genuinely distinguishable, and the
    * fan-out is |types|²/2 per user — bounded by the event-type domain,
    * never corpus-quadratic. The CASE ladder tests equalities and
    * strict orders in a fixed sequence both engines evaluate
    * identically on exact integer microseconds. */
  def allenRelations(silver: DataFrame): DataFrame = {
    val spans = silver.groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
    val a = spans.select(col("user_id"), col("event_type").as("ta"),
      col("s").as("sa"), col("e").as("ea"))
    val b = spans.select(col("user_id"), col("event_type").as("tb"),
      col("s").as("sb"), col("e").as("eb"))
    val classified = a.join(b, Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .withColumn("relation",
        when(col("ea") < col("sb"), lit("precedes"))
          .when(col("sa") > col("eb"), lit("preceded_by"))
          .when(col("ea") === col("sb"), lit("meets"))
          .when(col("sa") === col("eb"), lit("met_by"))
          .when(col("sa") === col("sb") && col("ea") === col("eb"),
            lit("equals"))
          .when(col("sa") === col("sb") && col("ea") < col("eb"),
            lit("starts"))
          .when(col("sa") === col("sb"), lit("started_by"))
          .when(col("ea") === col("eb") && col("sa") < col("sb"),
            lit("finished_by"))
          .when(col("ea") === col("eb"), lit("finishes"))
          .when(col("sa") < col("sb") && col("ea") > col("eb"),
            lit("contains"))
          .when(col("sa") > col("sb") && col("ea") < col("eb"),
            lit("during"))
          .when(col("sa") < col("sb"), lit("overlaps"))
          .otherwise(lit("overlapped_by")))
    classified.groupBy(col("relation"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("total",
        // domain-sized: Allen-relation census (<= 7 rows)
        sum(col("n_pairs")).over(Window.partitionBy()))
      .select(col("relation"), col("n_pairs").cast("long").as("n_pairs"),
        expr("n_pairs * 1000000 div total").cast("long").as("share_ppm"))
      .orderBy(col("relation").asc)
  }
}
