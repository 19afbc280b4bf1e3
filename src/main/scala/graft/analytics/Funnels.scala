package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Funnel and cohort-retention analytics — the two classic event-sequence
  * reports every product-analytics surface ships. Both are expressed as
  * per-user aggregations over silver, so every step reuses the silver
  * `user_id` hash clustering (no extra corpus shuffle); the final rollups
  * aggregate tiny per-user frames.
  */
object Funnels {

  /** Ordered 3-stage funnel view → click → purchase: a user reaches a
    * stage only with an event AT OR AFTER their previous stage's first
    * event (ordering matters — a purchase before ever viewing does not
    * count). Single-row output with exact ppm conversions. */
  def funnel(silver: DataFrame): DataFrame = {
    val v = silver.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = silver.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = silver.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    silver.agg(countDistinct(col("user_id")).as("users"))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("reached_view"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("reached_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("reached_purchase"))))
      .withColumn("click_given_view_ppm",
        expr("reached_click * 1000000 div reached_view"))
      .withColumn("purchase_given_click_ppm",
        expr("reached_purchase * 1000000 div reached_click"))
  }

  /** q276: U-SHAPED multi-touch attribution — the position-based credit
    * model marketing analytics ships alongside first/last-touch: every
    * purchase distributes 1e6 ppm of credit over the user's preceding
    * 7 days of non-purchase touches — 40% to the first touch, 40% to the
    * last, the middle 20% split evenly (a single touch takes all; two
    * touches split 50/50). Exact integer ppm: middles get
    * 200000 div (n−2) each, the floor remainder deliberately unassigned
    * (deterministic, and both engines floor alike on the non-negative
    * operands).
    *
    * Scale shape: the purchase×touch pairing is a USER-keyed equi-join
    * with a time-range predicate — fan-out bounded by per-user activity
    * (the same class as the funnel/retention joins above), never a
    * corpus cross join; the position window partitions by purchase id.
    * Touch order is total: (ts, event_id). */
  def uShapedAttribution(silver: DataFrame): DataFrame = {
    val ev = silver.select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val touches = purch.as("p").join(ev.as("e"),
        col("e.user_id") === col("p.user_id") &&
          col("e.ts") < col("p.pts") &&
          col("e.ts") >= col("p.pts") - expr("INTERVAL 7 DAYS") &&
          col("e.event_type") =!= lit("purchase"))
      .select(col("p.pid"), col("e.event_type"), col("e.ts"), col("e.event_id"))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("ts").asc, col("event_id").asc)
    touches
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pid"))))
      .withColumn("c_ppm",
        when(col("n") === 1, lit(1000000L))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(400000L))
          .otherwise(expr("200000 div (n - 2)")))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("pid")).as("n_conversions_touched"),
        sum(col("c_ppm")).as("credit_ppm"))
      .select(col("event_type"),
        col("n_conversions_touched").cast("long").as("n_conversions_touched"),
        col("credit_ppm").cast("long").as("credit_ppm"),
        expr("credit_ppm div 1000000").cast("long").as("whole_conversions"))
      .orderBy(col("event_type").asc)
  }

  /** q281: DAILY CHURN-HAZARD table — discrete-time survival analysis
    * over user activity: for each day, how many users are AT RISK (their
    * observed activity span covers the day) and how many CHURN (it is
    * their last active day); hazard = churned/at-risk in exact ppm. The
    * hazard table is the survival curve's derivative and the input every
    * retention model fits — kept as integer hazards per day rather than
    * a Kaplan–Meier cumulative product precisely because a cumulative
    * product of rationals cannot cross the hash gate without
    * transcendentals. The final days' hazard spike is right-censoring
    * made visible (everyone's span ends when observation does), which is
    * the first thing a survival analyst checks for.
    *
    * Scale shape: one per-user span aggregation, then each user explodes
    * their ≤|observation window| active days (sequence — linear with a
    * domain-constant factor, no users × days cross join) into one daily
    * census. */
  def churnHazard(silver: DataFrame): DataFrame = {
    val span = silver
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    span
      .select(col("last_d"), explode(expr("sequence(first_d, last_d)")).as("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_at_risk"),
        sum(when(col("last_d") === col("d"), 1L).otherwise(0L)).as("n_churned"))
      .select(col("d"),
        col("n_at_risk").cast("long").as("n_at_risk"),
        col("n_churned").cast("long").as("n_churned"),
        expr("n_churned * 1000000 div n_at_risk").cast("long").as("hazard_ppm"))
      .orderBy(col("d").asc)
  }

  /** q283: ONE-SWEEP MEDIAN POLISH of the weekday × hour activity
    * matrix — Tukey's robust two-way decomposition: cell = row effect
    * (weekday median) + column effect (hour median of the row residual)
    * + residual. Mean-based two-way fits are dragged by one hot cell
    * (a flash event on Tuesday 9pm poisons Tuesday AND 9pm); medians
    * are not, which is why seasonality baselines for anomaly detection
    * are polished, not averaged. Medians are LOWER medians at position
    * (n+1) div 2 — integer elements, never interpolation — so the whole
    * decomposition is exact. One sweep (production runs 2-3 to
    * convergence; the residual column is where the next sweep starts).
    *
    * Scale shape: the corpus reduces to the 7×24 cell matrix in one
    * aggregation; every window below partitions over that domain-sized
    * frame. Weekday is 0=Sunday (dayofweek−1, the cross-engine
    * convention). */
  def medianPolish(silver: DataFrame): DataFrame = {
    val cells = silver
      .select(expr("dayofweek(ts) - 1").as("wd"), col("hour").as("hr"))
      .groupBy(col("wd"), col("hr")).agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy(col("wd")).orderBy(col("cnt").asc)
    val rmed = cells
      .withColumn("rnk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("wd"))))
      .groupBy(col("wd"))
      .agg(max(when(col("rnk") === expr("(n + 1) div 2"), col("cnt")))
        .as("row_med"))
    val res1 = cells.join(broadcast(rmed), Seq("wd"))
      .withColumn("r1", col("cnt") - col("row_med"))
    val wc = Window.partitionBy(col("hr")).orderBy(col("r1").asc)
    val cmed = res1
      .withColumn("rnk", row_number().over(wc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("hr"))))
      .groupBy(col("hr"))
      .agg(max(when(col("rnk") === expr("(n + 1) div 2"), col("r1")))
        .as("col_med"))
    res1.join(broadcast(cmed), Seq("hr"))
      .select(col("wd").cast("long").as("wd"), col("hr").cast("long").as("hr"),
        col("cnt").cast("long").as("cnt"),
        col("row_med").cast("long").as("row_med"),
        col("col_med").cast("long").as("col_med"),
        (col("r1") - col("col_med")).cast("long").as("residual"))
      .orderBy(col("wd").asc, col("hr").asc)
  }

  /** q284: FANO-FACTOR burstiness census — per (user, event_type), the
    * index of dispersion of DAILY event counts (variance/mean, exact
    * integer ppm via (n·Σx² − (Σx)²)·10⁶ div (n·Σx)); a Poisson arrival
    * process sits at 1e6, clumpy/bursty behavior above, metronomic
    * behavior below. The per-type census (mean/max Fano, users over the
    * 0.5 overdispersion line) is the telemetry screen that separates
    * organic usage from scripted traffic. Users with < 5 active days are
    * excluded (the estimator is meaningless at tiny n — documented
    * support floor, same convention as the PMI minCount).
    *
    * Scale shape: two combinable aggregations (daily counts → per-user
    * moments) riding silver's user clustering, then a |types| census. */
  def fanoBurstiness(silver: DataFrame, minDays: Int = 5,
      overPpm: Long = 500000L): DataFrame = {
    val daily = silver
      .select(col("user_id"), col("event_type"), col("ts").cast("date").as("d"))
      .groupBy(col("user_id"), col("event_type"), col("d"))
      .agg(count(lit(1)).as("x"))
    val perUser = daily.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= minDays)
      .withColumn("fano_ppm",
        expr("(n * sxx - sx * sx) * 1000000 div (n * sx)"))
    perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(fano_ppm) div count(1)").as("mean_fano_ppm"),
        max(col("fano_ppm")).as("max_fano_ppm"),
        sum(when(col("fano_ppm") > overPpm, 1L).otherwise(0L))
          .as("n_overdispersed"))
      .select(col("event_type"),
        col("n_users").cast("long").as("n_users"),
        col("mean_fano_ppm").cast("long").as("mean_fano_ppm"),
        col("max_fano_ppm").cast("long").as("max_fano_ppm"),
        col("n_overdispersed").cast("long").as("n_overdispersed"))
      .orderBy(col("event_type").asc)
  }

  /** Day-1 / day-7 cohort retention: cohort = a user's first active date;
    * retained = active exactly k days later. Exact ppm rates per cohort.
    * The (user, date) activity set is distinct-compressed BEFORE the
    * cohort join, so the join input is bounded by users × active-days,
    * not raw events. */
  def retentionCohorts(silver: DataFrame): DataFrame = {
    val first = silver.groupBy(col("user_id"))
      .agg(min(col("event_date")).as("cohort"))
    val activity = silver.select(col("user_id"), col("event_date")).distinct()
    first.join(activity, Seq("user_id"))
      .groupBy(col("cohort"))
      .agg(
        countDistinct(col("user_id")).as("cohort_users"),
        countDistinct(when(datediff(col("event_date"), col("cohort")) === 1,
          col("user_id"))).as("d1_retained"),
        countDistinct(when(datediff(col("event_date"), col("cohort")) === 7,
          col("user_id"))).as("d7_retained"))
      .withColumn("d1_ppm", expr("d1_retained * 1000000 div cohort_users"))
      .withColumn("d7_ppm", expr("d7_retained * 1000000 div cohort_users"))
      .orderBy(col("cohort").asc)
  }

  /** q241: REVENUE retention matrix — the value-weighted sibling of the
    * user-count cohorts (q80/q205): per weekly cohort (week of first
    * activity relative to the corpus minimum), the exact-cent value the
    * cohort generated in each subsequent week, and net revenue retention
    * in ppm of its own cohort-week revenue. User-count retention says
    * who came back; NRR says whether the ones who came back are worth
    * anything — the metric a subscription/commerce business actually
    * steers by (NRR > 10⁶ means expansion beats churn).
    *
    * Per-row cent quantization before every sum (the q225 discipline).
    *
    * Scale shape: one (user, week) aggregation on silver's user
    * clustering, a user-keyed cohort join, then a 16-cell reaggregation;
    * the corpus-min date arrives broadcast. */
  def revenueRetention(silver: DataFrame): DataFrame = {
    val d0 = silver.agg(min(col("event_date")).as("d0"))
    val uw = silver.crossJoin(broadcast(d0))
      .select(col("user_id"),
        (datediff(col("event_date"), col("d0")) / 7).cast("int").as("week"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("week") >= 0 && col("week") < 4)
      .groupBy(col("user_id"), col("week"))
      .agg(sum(col("cents")).as("cents"))
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    val cells = uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort"), col("week"))
      .agg(sum(col("cents")).as("rev_cents"),
        count(lit(1)).as("n_users"))
    // cohort_cents > 0 guard: a cohort whose base-week revenue rounds
    // to 0 cents would make nrr_ppm divide by zero (Spark div → NULL,
    // DuckDB // → raise). Excluding the cohort is the explicit contract.
    val base = cells.filter(col("week") === col("cohort"))
      .select(col("cohort"), col("rev_cents").as("cohort_cents"))
      .filter(col("cohort_cents") > 0)
    cells.join(broadcast(base), Seq("cohort"))
      .select(col("cohort").cast("long").as("cohort"),
        col("week").cast("long").as("week"),
        col("n_users").cast("long").as("n_users"),
        col("rev_cents").cast("long").as("rev_cents"),
        // NRR can exceed 1e6 (expansion); shift negatives impossible
        // (cents >= 0 on this corpus — value is a non-negative amount)
        expr("rev_cents * 1000000 div cohort_cents").cast("long")
          .as("nrr_ppm"))
      .orderBy(col("cohort").asc, col("week").asc)
  }

  /** q146: first-order Markov transition matrix over each user's event
    * sequence — the "what do users do next" primitive behind journey
    * mining and next-action models. Consecutive-pair extraction is a
    * single `lead()` over (user, time) with `event_id` as the total-order
    * tiebreak (same-timestamp events would otherwise make the pairs
    * nondeterministic across engines); transition probabilities are exact
    * integer ppm (`cnt * 1e6 div row-total`), so the matrix is bit-stable.
    *
    * Scale shape: the window reuses silver's `user_id` hash clustering
    * (no extra corpus shuffle — the sort is partition-local), and the
    * pair aggregation reduces to at most |types|² rows before the tiny
    * row-total window. All counts are map-side-combinable. */
  def eventTransitions(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("transitions"))
      .withColumn("row_total",
        sum(col("transitions")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("prob_ppm", expr("transitions * 1000000 div row_total"))
      .orderBy(col("prev_type").asc, col("next_type").asc)
  }

  /** q214: top-k 3-event paths — sequential pattern mining one order up
    * from the q146 transition matrix: the most common (t₁→t₂→t₃)
    * user journeys, counted over every consecutive event triple. Where
    * pairwise transitions say "what follows a click", the trigram
    * ranking says "which whole path dominates" — the journey-mining
    * primitive behind funnel DISCOVERY (q79 measures a funnel you
    * already know).
    *
    * Scale shape: both leads come from ONE window pass that reuses
    * silver's user_id clustering (no extra shuffle before the
    * aggregate, the q11 dedup rule); the count is map-side combinable
    * over a |types|³-bounded key space and top-k is a TakeOrdered. */
  def eventTrigrams(silver: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("t1").asc, col("t2").asc,
        col("t3").asc)
      .limit(k)
      .orderBy(col("n_paths").desc, col("t1").asc, col("t2").asc,
        col("t3").asc)
  }

  /** Second-order sequence motifs: every consecutive TRIPLE in each
    * user's event sequence, counted corpus-wide — the 3-gram
    * generalization of [[eventTransitions]], and the point where journey
    * mining starts distinguishing "play→skip→play" churn loops from
    * plain transition noise. Conditional probability is against the
    * (a, b) prefix total, as exact integer ppm.
    *
    * Scale shape: two `lead()`s over the SAME (user, ts, event_id)
    * window — one partition-local sort feeding both, reusing silver's
    * user_id clustering; the motif aggregation reduces to ≤ |types|³
    * rows (a domain constant) before the prefix-total window. */
  def motifCensus(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val triples = silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
    triples.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prefix_total",
        sum(col("n")).over(Window.partitionBy(col("t1"), col("t2"))))
      .select(col("t1"), col("t2"), col("t3"),
        col("n").cast("long").as("n"),
        expr("n * 1000000 div prefix_total").cast("long").as("cond_ppm"))
      .orderBy(col("t1").asc, col("t2").asc, col("t3").asc)
  }

  /** q192: stationary distribution of the event-type Markov chain —
    * where does user behavior settle if the observed transition matrix
    * keeps acting? The long-run companion to the one-step transition
    * census (q146): power-iterate v ← vP for a fixed 20 rounds, all in
    * integer ppm (each term floor-divided before summing, so the
    * iteration is bit-identical in any engine; mass lost to flooring is
    * deterministic and tiny).
    *
    * Scale shape: the corpus pays ONE pass — the same lag-window
    * transition count as q146. The transition matrix is |types|² rows,
    * a domain constant, so collecting it to the driver is model-state
    * scale (the k-means-centroid rule: k rows, not data rows), and the
    * 20 iterations are driver arithmetic on a 5×5 matrix rather than 20
    * scheduled no-op jobs. */
  def markovStationary(silver: DataFrame, iters: Int = 20): DataFrame = {
    val spark = silver.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val p = pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("r",
        sum(col("c")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"),
        expr("c * 1000000 div r").cast("long").as("p_ppm"))
      .collect()
      .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
    val states = p.flatMap(x => Seq(x._1, x._2)).distinct.sorted.toSeq
    // Degenerate corpus (no transitions at all — empty silver, or one
    // event per user): there is no chain, so the stationary
    // distribution is the empty relation, not a division by zero.
    if (states.isEmpty)
      return Seq.empty[(String, Long)].toDF("event_type", "stationary_ppm")
    val byNext = p.groupBy(_._2)
    var v: Map[String, Long] =
      states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to iters) {
      v = states.map { j =>
        j -> byNext.getOrElse(j, Array.empty[(String, String, Long)])
          .map { case (i, _, pp) => v(i) * pp / 1000000L }.sum
      }.toMap
    }
    states.map(s0 => (s0, v(s0))).toDF("event_type", "stationary_ppm")
      .orderBy(col("event_type").asc)
  }

  /** q200: last-touch attribution — every purchase credits the user's
    * most recent PRECEDING non-purchase event within a 7-day lookback;
    * older or absent touches attribute to 'none'. The conversion-
    * credit primitive of marketing analytics, and the self-join-free
    * formulation: ONE running `last(..., ignoreNulls)` window over
    * silver's existing (user, time) clustering carries the touch
    * forward — the same union-free as-of shape as q46, with the
    * lookback as a pure post-filter.
    *
    * Output: per attributed touch type, conversions and share (exact
    * integer ppm vs all purchases). */
  def lastTouchAttribution(silver: DataFrame,
      lookbackDays: Int = 7): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touched = silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase",
          struct(col("ts").as("t_ts"), col("event_type").as("t_type"))),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        when(col("touch").isNotNull &&
          unix_timestamp(col("ts")) - unix_timestamp(col("touch.t_ts")) <=
            lookbackDays.toLong * 86400L,
          col("touch.t_type")).otherwise(lit("none")))
    val census = touched.groupBy(col("attributed"))
      .agg(count(lit(1)).as("conversions"))
    census
      .crossJoin(broadcast(
        census.agg(sum(col("conversions")).as("total"))))
      .select(col("attributed"), col("conversions").cast("long"),
        expr("conversions * 1000000 div total").cast("long").as("share_ppm"))
      .orderBy(col("attributed").asc)
  }

  /** q312: ABSORBING-MARKOV EXPECTED STEPS — for every transient event
    * type, the expected number of further events before the user reaches
    * 'purchase' under the first-order transition chain: the fundamental-
    * matrix readout E = (I − Q)⁻¹·1, computed as the TRUNCATED power sum
    * Σ_{t<T} Qᵗ·1 in exact integer milli-steps
    * (mₜ₊₁ = 1000 + Σⱼ Q_ppm·mₜ div 10⁶, T = 24 — the truncation IS the
    * contract, identical in both engines; the q192 iterative-kernel
    * discipline). A state whose only successors dead-end contributes 0
    * from the missing row in both spellings. Complements q192 (where the
    * chain settles) and q238 (empirical conversion timing) with the
    * model-implied DISTANCE to conversion.
    *
    * Scale shape: one corpus pass to the |types|² transition matrix
    * (driver-collected, domain-sized — the q192 precedent); the T-round
    * loop runs on ≤ |types| rows. */
  def absorbingMarkov(silver: DataFrame, iters: Int = 24,
      absorb: String = "purchase"): DataFrame = {
    val spark = silver.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = silver
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val p = pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("r",
        sum(col("c")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"),
        expr("c * 1000000 div r").cast("long").as("p_ppm"),
        col("c").cast("long").as("c"))
      .collect()
      .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2),
        r0.getLong(3)))
    val trans = p.map(_._1).distinct.filterNot(_ == absorb).sorted.toSeq
    if (trans.isEmpty)
      return Seq.empty[(String, Long, Long, Long)]
        .toDF("event_type", "n_out", "p_absorb_ppm", "exp_steps_milli")
    val transSet = trans.toSet
    var m: Map[String, Long] = trans.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      m = trans.map { i =>
        i -> (1000L + p.iterator
          .filter(r => r._1 == i && r._2 != absorb && transSet(r._2))
          .map(r => r._3 * m(r._2) / 1000000L).sum)
      }.toMap
    }
    trans.map { i =>
      val out = p.filter(_._1 == i)
      (i, out.map(_._4).sum,
        out.find(_._2 == absorb).map(_._3).getOrElse(0L), m(i))
    }.toDF("event_type", "n_out", "p_absorb_ppm", "exp_steps_milli")
      .orderBy(col("event_type").asc)
  }
}
