package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Shard.h60

/** Data-distribution diagnostics: the reports an operator runs BEFORE
  * picking a partitioning/salting strategy at scale. Skew is the #1
  * 100 TB failure mode — one hot key turns a balanced shuffle into a
  * straggler — and the first step of every mitigation (salting, AQE skew
  * join, broadcast) is measuring which keys are hot and by how much.
  */
object Diagnostics {

  /** Heavy-hitter census over the event stream's natural shuffle key:
    * the top-k keys by row count, each with its exact corpus share and
    * its multiple of the uniform-distribution expectation (both in parts
    * per million — integer arithmetic, engine-portable). `x_uniform_ppm`
    * near 1,000,000 means "not skewed"; orders of magnitude above means
    * this key needs salting or an AQE skew split.
    *
    * Scale shape: one map-side-combinable groupBy on the key, a broadcast
    * scalar for the totals, and a top-k window over the (already tiny)
    * per-key counts — the census never re-shuffles the raw stream. */
  def keySkewCensus(events: DataFrame, k: Int = 10): DataFrame = {
    val counts = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    // top-k via sort+limit (TakeOrdered: distributed heap per partition,
    // k rows to the driver side of the plan) — an unpartitioned
    // row_number window here would funnel EVERY key's count through one
    // partition, the exact straggler shape this census exists to catch.
    // The rank window then runs over k rows only.
    // domain-sized: k-row TakeOrdered frame (see note above)
    val w = Window.orderBy(col("cnt").desc, col("user_id").asc)
    counts
      .orderBy(col("cnt").desc, col("user_id").asc).limit(k)
      .withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("cnt * 1000000 div total_rows"))
      .withColumn("x_uniform_ppm",
        expr("cnt * n_keys * 1000000 div total_rows"))
      .select(col("rank"), col("user_id"), col("cnt"),
        col("share_ppm"), col("x_uniform_ppm"))
      .orderBy(col("rank").asc)
  }

  /** q278: MEDIAN/MAD robust-outlier census over monthly order totals —
    * the data-cleaning screen that replaces mean/stddev z-scores where
    * the data is skewed or already polluted (one fat-finger order drags
    * a mean; it cannot drag a median). Per order-month: the exact LOWER
    * median of the cent totals, the median absolute deviation around it,
    * and how many orders sit beyond 2×MAD. Totals are exact integer
    * cents (`round(price·100)` — exact on this data's 2-decimal
    * doubles); both medians are the order statistic at position
    * (n+1) div 2, so the answer is a specific element, never an
    * interpolated float.
    *
    * Scale shape: BOTH medians run through
    * [[graft.analytics.OrderStats.valueAtRank]]'s bucket-offset
    * decomposition — no single-task sort anywhere — with the requested
    * positions derived per group from the month census (the kernel's
    * positions input is a frame, not driver literals). The cents and
    * deviation frames are scratch-persisted: the kernel scans its
    * values input twice plus a rank pass. */
  def robustOutlierCensus(orders: DataFrame, madK: Int = 2): DataFrame = {
    val o = graft.core.Caches.scratch(orders.select(
      trunc(col("o_orderdate"), "mon").as("part"),
      round(col("o_totalprice") * 100).cast("long").as("v")))
    // eager checkpoint: the positions frame derives FROM the values
    // frame it is ranked against (pos = (n+1) div 2 per group), and both
    // kernel calls join the two — a LogicalRDD leaf with fresh attribute
    // ids is the clean way out of the ambiguous-self-join trap for an
    // ≤80-row frame (tracked, released with the scratch sweep)
    // round-13: one census aggregate yields count AND bounds for the
    // kernel (saving its bounds pass over `o`), and the deviation frame's
    // bounds are DERIVED (median is attained ⇒ min d = 0,
    // max d = max(hi − med, med − lo)) instead of scanned.
    val census = graft.core.Caches.trackCheckpoint(
      o.groupBy(col("part")).agg(count(lit(1)).as("n"),
          min(col("v")).as("vlo"), max(col("v")).as("vhi"))
        .localCheckpoint(true))
    val positions = census
      .select(col("part"), lit(50L).as("q"), expr("(n + 1) div 2").as("pos"))
    val oBounds = census.select(col("part"), col("vlo").as("lo"),
      (col("vhi") - col("vlo") + 1).as("span"))
    // the kernel's output `part` keeps the values frame's attribute, so
    // joining it back onto the same frame is a true self-join — re-alias
    // the tiny per-group results before the equi-join. Eager-checkpointed:
    // two consumers (deviation frame, derived bounds) would otherwise each
    // re-execute the median kernel's jobs.
    val med = graft.core.Caches.trackCheckpoint(
      OrderStats.valueAtRank(o, positions, oBounds)
        .select(col("part").as("mpart"), col("v").as("med_cents"))
        .localCheckpoint(true))
    val dev = graft.core.Caches.scratch(
      o.join(broadcast(med), col("part") === col("mpart"))
        .select(col("part"), col("v"), col("med_cents"),
          abs(col("v") - col("med_cents")).as("d")))
    val devBounds = census.join(broadcast(med), col("part") === col("mpart"))
      .select(col("part"), lit(0L).as("lo"),
        (greatest(col("vhi") - col("med_cents"),
          col("med_cents") - col("vlo")) + 1).as("span"))
    val mad = OrderStats.valueAtRank(
        dev.select(col("part"), col("d").as("v")), positions, devBounds)
      .select(col("part").as("apart"), col("v").as("mad_cents"))
    dev.join(broadcast(mad), col("part") === col("apart"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_orders"),
        max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("d") > lit(madK.toLong) * col("mad_cents"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("part").as("mon"),
        col("n_orders").cast("long").as("n_orders"),
        col("med_cents").cast("long").as("med_cents"),
        col("mad_cents").cast("long").as("mad_cents"),
        col("n_outliers").cast("long").as("n_outliers"))
      .orderBy(col("mon").asc)
  }

  /** q282: BENFORD first-digit audit over order totals — the classic
    * forensic-accounting screen: naturally-arising monetary amounts put
    * ~30.1% of first digits at 1 (P(d) = log₁₀(1+1/d)); fabricated or
    * mechanically-generated amounts don't. The expected shares enter as
    * integer ppm LITERALS (the published constants), so no logarithm
    * touches the hash gate; output per digit: observed count, observed
    * ppm, Benford ppm, absolute deviation. This synthetic corpus's
    * uniform prices are loudly non-Benford — which is the audit doing
    * its job, same contract as the q280 anti-Zipf finding.
    *
    * Scale shape: one scan → 9-row census; the digit comes from the
    * exact integer cents' decimal string, no float formatting. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L).toDF("d", "benford_ppm")
    val obs = orders.filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("t"))
    broadcast(expected).join(obs, Seq("d"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("d"), col("n").cast("long").as("n"),
        expr("n * 1000000 div t").cast("long").as("obs_ppm"),
        col("benford_ppm").cast("long").as("benford_ppm"),
        abs(expr("n * 1000000 div t") - col("benford_ppm")).cast("long")
          .as("dev_ppm"))
      .orderBy(col("d").asc)
  }

  /** Heavy hitters via the [[graft.functions.MisraGries]] sketch, gated
    * the q38/q64 way: the sketch's CONTENT is engine-specific (and
    * merge-order-dependent in its non-guaranteed tail), so the query
    * reduces it to its mathematical guarantees — checked against the
    * EXACT top-N — and emits only engine-portable columns. The oracle
    * writes literal TRUEs; a sketch bug (or a broken merge under Spark's
    * partial aggregation) flips a boolean and fails the hash gate.
    *
    * Scale shape vs [[keySkewCensus]]: the exact census is the gate-side
    * yardstick here, but the SKETCH is the 100 TB artifact — one pass,
    * ≤ m counters per task, a single ≤ m-entry map on the driver; no
    * per-key groupBy state over the full key domain.
    *
    * Bounds use floor(n/m): the true MG error bound is n/(m+1) ≤ n/m, and
    * floor keeps both engines in exact integer arithmetic. */
  def heavyHittersChecked(
      spark: SparkSession, silver: DataFrame,
      m: Int = 32, topN: Int = 20): DataFrame = {
    import spark.implicits._
    val summary: Map[Long, Long] = silver
      .select(col("user_id")).as[Long]
      .select(new graft.functions.MisraGries(m).toColumn)
      .head()
    val counts = silver.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    val totals = counts.agg(sum(col("exact_cnt")).as("n"))
    // rank window runs over topN rows only (TakeOrdered first) — same
    // no-global-window shape as keySkewCensus
    // domain-sized: topN-row TakeOrdered frame (see note above)
    val w = Window.orderBy(col("exact_cnt").desc, col("user_id").asc)
    counts
      .orderBy(col("exact_cnt").desc, col("user_id").asc).limit(topN)
      .withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(totals))
      .withColumn("bound", expr(s"n div $m"))
      .withColumn("mg_est",
        element_at(typedLit(summary), col("user_id")))
      .withColumn("above_threshold", col("exact_cnt") > col("bound"))
      .withColumn("guaranteed_present",
        !col("above_threshold") || col("mg_est").isNotNull)
      .withColumn("estimate_sound", col("mg_est").isNull ||
        (col("mg_est") <= col("exact_cnt") &&
          col("mg_est") >= col("exact_cnt") - col("bound")))
      .select(col("rank"), col("user_id"), col("exact_cnt"),
        col("above_threshold"), col("guaranteed_present"),
        col("estimate_sound"))
      .orderBy(col("rank").asc)
  }

  /** Merkle-style BUCKET CHECKSUMS over the documents table — the
    * anti-entropy primitive: two replicas (or a table before/after a
    * migration) compare 64 bucket digests instead of 100 TB of rows,
    * then re-sync only the buckets whose checksums differ (the
    * Dynamo/Cassandra repair idea, expressed relationally). XOR is the
    * right fold: order- and partition-independent (so the digest is
    * identical on any cluster layout), self-inverse (a vanished row
    * flips the digest), and overflow-free where an int sum would wrap
    * differently across engines.
    *
    * One scan, one 64-row aggregation; the row digest covers every
    * content column so any field-level drift (not just missing rows)
    * changes the bucket. */
  def merkleBuckets(docs: DataFrame, buckets: Int = 64): DataFrame =
    docs.select((col("doc_id") % buckets).as("bucket"),
        h60(concat_ws("|",
          col("doc_id"), col("text"), col("lang"), col("source"))).as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").cast("long").as("checksum"))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_docs").cast("long").as("n_docs"), col("checksum"))
      .orderBy(col("bucket").asc)

  /** Join FAN-OUT histogram for orders → lineitem: how many orders have
    * 0, 1, 2, … lineitems. The cardinality profile every join planner
    * (human or cost-based) needs before sizing a 100 TB fact-to-fact
    * join — expected output rows = Σ fanout·matches, skew = the
    * histogram's tail. Zero-child parents are kept via the left join
    * (they vanish from an inner-join profile and then surprise the
    * reconciliation). One shuffle on the join key, then a
    * histogram-sized aggregation. */
  def fanoutHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(li.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n_items")),
        Seq("o_orderkey"), "left")
      .select(coalesce(col("n_items"), lit(0L)).as("fanout"))
      .groupBy(col("fanout"))
      .agg(count(lit(1)).as("n_orders"))
      .select(col("fanout").cast("long").as("fanout"),
        col("n_orders").cast("long").as("n_orders"),
        (col("fanout") * col("n_orders")).cast("long").as("n_lineitems"))
      .orderBy(col("fanout").asc)
  }

  /** Top-decile CONCENTRATION census over user activity: what share of
    * all events belongs to the most-active 10 % of users. The
    * complement of the gini census (q112): one number a capacity plan
    * or an abuse review reads first. Exact and sort-free via the
    * count-histogram decomposition (same pattern as the rank
    * decompositions): users collapse to (listen_count → n_users)
    * pairs, a cumulative window runs over the HISTOGRAM (distinct
    * count values, not users), and the decile cut is integer
    * cross-multiplication. Users tied at the cut count are included in
    * full — the deterministic rule both engines state identically. */
  def concentrationCensus(spark: SparkSession, silver: DataFrame): DataFrame = {
    val perUser = silver.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("nu"))
    // domain-sized: histogram of distinct per-user counts, not users
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_users", sum(col("nu")).over(w))
      .withColumn("cum_events", sum(col("c") * col("nu")).over(w))
      .crossJoin(broadcast(
        perUser.agg(count(lit(1)).as("total_users"),
          sum(col("c")).as("total_events"))))
      // smallest top set (by descending count, ties whole) covering ≥10%
      .filter(col("cum_users") * 10 >= col("total_users"))
      .orderBy(col("c").desc)
      .limit(1)
      .select(
        col("cum_users").cast("long").as("top_users"),
        col("total_users").cast("long").as("total_users"),
        col("cum_events").cast("long").as("top_events"),
        col("total_events").cast("long").as("total_events"),
        expr("cum_events * 1000000 div total_events").cast("long")
          .as("share_ppm"))
  }

  /** q235: JOIN-CARDINALITY estimation audit — the optimizer-statistics
    * machinery (MCV list + uniform remainder, the System-R/Postgres
    * estimator) run as a first-class relation and audited against the
    * exact join size it predicts. For events.user_id ⋈ orders.o_custkey:
    * per-side row/distinct counts, the exact output cardinality
    * Σ fₐ(k)·f_b(k), the estimate from the top-`mcv` most-common values
    * exactly + uniform-spread remainders (n_ra·n_rb div max(d_ra, d_rb)),
    * and the error in ppm. This is the number a cost-based planner bets
    * a broadcast decision on; the audit says how good that bet is on
    * this distribution. All counts/products exact int64.
    *
    * Scale shape: two per-key aggregations (map-side combinable), two
    * top-k TakeOrdereds for the MCV lists (broadcast-sized), one keyed
    * join of the per-key count frames for the exact term. Output is one
    * row. */
  def joinCardAudit(spark: SparkSession, dir: String, mcv: Int = 20): DataFrame = {
    val fa = graft.core.Caches.scratch(
      Tables.events(spark, dir).groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("fa")))
    val fb = graft.core.Caches.scratch(
      Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("fb")))
    val exact = fa.join(fb, Seq("k"))
      .agg(coalesce(sum(expr("fa * fb")), lit(0L)).as("exact_rows"))
    val topA = fa.orderBy(col("fa").desc, col("k").asc).limit(mcv)
    val topB = fb.orderBy(col("fb").desc, col("k").asc).limit(mcv)
    val mcvTerm = topA.join(topB, Seq("k"))
      .agg(coalesce(sum(expr("fa * fb")), lit(0L)).as("mcv_rows"))
    val restA = fa.join(topA.select(col("k")), Seq("k"), "left_anti")
      .agg(coalesce(sum(col("fa")), lit(0L)).as("n_ra"),
        count(lit(1)).as("d_ra"))
    val restB = fb.join(topB.select(col("k")), Seq("k"), "left_anti")
      .agg(coalesce(sum(col("fb")), lit(0L)).as("n_rb"),
        count(lit(1)).as("d_rb"))
    val sides = fa.agg(sum(col("fa")).as("n_a"), count(lit(1)).as("d_a"))
      .crossJoin(fb.agg(sum(col("fb")).as("n_b"), count(lit(1)).as("d_b")))
    sides.crossJoin(broadcast(exact)).crossJoin(broadcast(mcvTerm))
      .crossJoin(broadcast(restA)).crossJoin(broadcast(restB))
      .select(
        col("n_a").cast("long").as("n_a"), col("d_a").cast("long").as("d_a"),
        col("n_b").cast("long").as("n_b"), col("d_b").cast("long").as("d_b"),
        col("exact_rows").cast("long").as("exact_rows"),
        (col("mcv_rows") +
          when(col("d_ra") > 0 && col("d_rb") > 0,
            expr("n_ra * n_rb div greatest(d_ra, d_rb)")).otherwise(0L))
          .cast("long").as("est_rows"))
      .withColumn("err_ppm",
        expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
          .cast("long"))
      // Disjoint key domains ⇒ exact_rows = 0 ⇒ Spark div yields NULL
      // where DuckDB // raises — same empty-arm contract as abShareDrift
      // (round-8 advice): emit no row rather than diverge.
      .filter(col("exact_rows") > 0)
  }

  /** q239: STRUCTURED near-duplicate detection — the text-dedup blocking
    * discipline applied to rows: two events of the same (user, type) are
    * tolerant duplicates when they land within 300 s AND within 10.00 of
    * value (double-submit / retry artifacts that exact row-hash dedup
    * (q26-family) misses by construction). Candidates come from a
    * 300-second bucket join with ±1 neighbor buckets — any pair within
    * tolerance shares or straddles a bucket, so the blocking has NO
    * false negatives — and the exact tolerance check verifies. Output is
    * the per-type census (pairs, involved events, gap mass), never the
    * corpus-sized pair list.
    *
    * Scale shape: the probe side triples (3 buckets per event), the join
    * keys on (user, type, bucket) — the same bounded-bucket contract as
    * every dedup family; tolerances are row-local integer checks
    * (epoch seconds, exact cents). */
  def eventNearDups(spark: SparkSession, dir: String,
      tolSec: Long = 300L, tolCents: Long = 1000L): DataFrame =
    eventNearDupsOf(graft.pipeline.EventsPipeline.silver(spark, dir),
      tolSec, tolCents)

  private[analytics] def eventNearDupsOf(silver: DataFrame,
      tolSec: Long, tolCents: Long): DataFrame = {
    val e = graft.core.Caches.scratch(silver.select(
      col("user_id"), col("event_type"), col("event_id"),
      // floor-to-second via integer micros: DuckDB's epoch() ROUNDS the
      // fractional part when cast, Spark's unix_timestamp truncates —
      // epoch_us // 1e6 == unix_micros div 1e6 on both
      expr("unix_micros(ts) div 1000000").as("sec"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("b", expr(s"sec div $tolSec")))
    val probe = e.withColumn("bb",
      explode(array(col("b") - 1, col("b"), col("b") + 1)))
    val pairs = probe.as("a").join(e.as("x"),
        col("a.user_id") === col("x.user_id") &&
          col("a.event_type") === col("x.event_type") &&
          col("a.bb") === col("x.b") &&
          col("a.event_id") < col("x.event_id"))
      .filter(abs(col("a.sec") - col("x.sec")) <= tolSec &&
        abs(col("a.cents") - col("x.cents")) <= tolCents)
      .select(col("a.event_type").as("event_type"),
        col("a.event_id").as("id1"), col("x.event_id").as("id2"),
        abs(col("a.sec") - col("x.sec")).as("gap"))
      .distinct()
    val involved = pairs
      .select(col("event_type"), explode(array(col("id1"), col("id2"))).as("id"))
      .distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("gap")).as("sum_gap_s"),
        max(col("gap")).as("max_gap_s"))
      .join(involved, Seq("event_type"))
      .select(col("event_type"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_events").cast("long").as("n_events"),
        col("sum_gap_s").cast("long").as("sum_gap_s"),
        col("max_gap_s").cast("long").as("max_gap_s"))
      .orderBy(col("event_type").asc)
  }

  /** q240: HISTOGRAM SELECTIVITY audit — the other half of the
    * optimizer-statistics story (q235 audits join cardinality, this
    * audits range-predicate selectivity): build the 1024-bin equi-width
    * histogram of order totals in cents, estimate four deliberately
    * bin-UNALIGNED per-mille ranges by linear interpolation over the
    * overlapped bins, and report estimate vs exact count in ppm. This is
    * the estimate a planner's `BETWEEN` selectivity and a file-skipping
    * min/max index both reduce to; measured error here is ~0.1% —
    * the number that justifies trusting histogram pruning at 100 TB.
    *
    * All arithmetic integer: bin edges lo + k·span div B, overlap
    * widths, per-bin interpolation cnt·overlap div width.
    *
    * Scale shape: one pass bins the fact (map-side combinable); the
    * interpolation runs on the broadcast 4×1024 probe×bin frame; exact
    * counts are one conditional aggregation over a second fact pass.
    * Nothing shuffles beyond the 1024-row histogram. */
  def selectivityAudit(spark: SparkSession, dir: String,
      bins: Int = 1024): DataFrame = {
    val c = graft.core.Caches.scratch(
      Tables.orders(spark, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v")))
    // lo/span are TWO SCALARS — collect them once instead of threading a
    // broadcast 1-row frame through four subplans (each broadcast is its
    // own job; the literal form folds into every expression for free and
    // the probe edges become driver arithmetic, identical floor-division
    // semantics on non-negative operands).
    val mmRow = c.agg(min(col("v")).as("lo"),
      (max(col("v")) - min(col("v")) + 1).as("span")).head()
    val lo = mmRow.getLong(0)
    val span = mmRow.getLong(1)
    val binCounts = c
      .select(expr(s"(v - $lo) * $bins div $span").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val binRange = spark.range(0, bins).select(col("id").as("bin"))
      .join(binCounts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        expr(s"$lo + bin * $span div $bins").as("bin_lo"),
        expr(s"$lo + (bin + 1) * $span div $bins").as("bin_hi"))
    import spark.implicits._
    val probes = Seq((0L, 50L, 137L), (1L, 137L, 411L),
      (2L, 411L, 703L), (3L, 703L, 997L))
      .map { case (id, a, b) =>
        (id, lo + a * span / 1000, lo + b * span / 1000) }
      .toDF("probe_id", "p_lo", "p_hi")
    val est = broadcast(probes).crossJoin(binRange)
      .select(col("probe_id"), col("p_lo"), col("p_hi"),
        // bin_hi > bin_lo guard: when span < bins the integer edges
        // collapse (bin_hi = bin_lo) and the interpolation divides by 0 —
        // Spark's div NULL-skips inside SUM where DuckDB raises.
        when(col("bin_hi") > col("p_lo") && col("bin_lo") < col("p_hi")
            && col("bin_hi") > col("bin_lo"),
          expr("cnt * (least(bin_hi, p_hi) - greatest(bin_lo, p_lo)) " +
            "div (bin_hi - bin_lo)")).otherwise(0L).as("part"))
      .groupBy(col("probe_id"), col("p_lo"), col("p_hi"))
      .agg(sum(col("part")).as("est_rows"))
    val exact = c.crossJoin(broadcast(probes))
      .filter(col("v") >= col("p_lo") && col("v") < col("p_hi"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("exact_rows"))
    est.join(exact, Seq("probe_id"))
      .select(col("probe_id").cast("long").as("probe_id"),
        col("p_lo").cast("long").as("p_lo"),
        col("p_hi").cast("long").as("p_hi"),
        col("exact_rows").cast("long").as("exact_rows"),
        col("est_rows").cast("long").as("est_rows"),
        expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
          .cast("long").as("err_ppm"))
      .orderBy(col("probe_id").asc)
  }

  /** q248: RANGE-PARTITIONER balance audit — the machinery behind every
    * distributed global sort (Spark's RangePartitioner: sample the key
    * column, cut equi-depth boundaries, ship each row to its range) run
    * as a relation and audited: a deterministic 2% md5 sample of order
    * totals yields 32 equi-depth boundaries; every order is then
    * assigned to its range and the per-bucket counts + shares come back.
    * Skewed shares = stragglers in the sort stage — this is the number
    * that predicts whether `ORDER BY` at 100 TB finishes evenly.
    *
    * Scale shape: the sample is a row-local filter; boundary extraction
    * runs on the sample's VALUE HISTOGRAM (aggregate first, then a rank
    * window over sample-sized distinct values); assignment joins the
    * corpus against the broadcast 32-row boundary frame (≤ 32 matches
    * per row, max-aggregated back to one bucket per row — linear). */
  def rangePartitionBalance(spark: SparkSession, dir: String,
      buckets: Int = 32): DataFrame = {
    val v = graft.core.Caches.scratch(Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v")))
    val sample = v.filter(
      h60(concat(lit("rp:"), col("k").cast("string"))) % 1000 < 20)
    val hist = sample.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val ns = sample.agg(count(lit(1)).as("ns"))
    import org.apache.spark.sql.expressions.Window
    // domain-sized: value histogram of the ~2% hash sample
    val wv = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = hist
      .withColumn("cum", sum(col("c")).over(wv))
      .crossJoin(broadcast(ns))
      .select(col("v"), expr(s"(cum - 1) * $buckets div ns").as("b"))
    val starts = tagged.groupBy(col("b")).agg(min(col("v")).as("start_v"))
    val assigned = v.crossJoin(broadcast(starts))
      .filter(col("start_v") <= col("v"))
      .groupBy(col("k"), col("v"))
      .agg(max(col("b")).as("bucket"))
      .select(coalesce(col("bucket"), lit(0L)).as("bucket"))
    // rows below the sample minimum never match a start: count them in
    // bucket 0 via an anti-side union
    val below = v.crossJoin(broadcast(starts.agg(min(col("start_v")).as("m"))))
      .filter(col("v") < col("m")).select(lit(0L).as("bucket"))
    val counts = assigned.unionByName(below)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_orders"))
    val tot = counts.agg(sum(col("n_orders")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_orders").cast("long").as("n_orders"),
        expr("n_orders * 1000000 div t").cast("long").as("share_ppm"))
      .orderBy(col("bucket").asc)
  }

  def concentrationCensus(spark: SparkSession, dir: String): DataFrame =
    concentrationCensus(spark, graft.pipeline.EventsPipeline.silver(spark, dir))

  /** q256: PERCENTILE-SKETCH acceptance audit — completes the
    * optimizer-statistics quartet (q235 join cardinality, q240 histogram
    * selectivity, q248 range balance, and now quantile sketches): the
    * exact p50/p90/p99 of order totals in cents (ground truth via the
    * distributed order-statistic kernel, [[OrderStats.valueAtRank]] —
    * no single-task sort), and Spark's `percentile_approx` KLL-style
    * sketch verified against them. The sketch value itself is NOT in
    * the gate output (its internals are engine-specific); following the
    * q38 HLL pattern it is reduced to a within-tolerance boolean — with
    * sketch accuracy 10⁴ the rank error is ≤ 0.01%, far inside the 1%
    * value tolerance, so the boolean is deterministically TRUE on both
    * engines and the gate hash-verifies the sketch's accuracy claim.
    *
    * Exact position contract (1-indexed, discrete): pos = (pct·n + 99)
    * div 100 — the same formula the oracle evaluates. */
  /** Cumulative inverse-CDF thresholds of Poisson(1) in ppm —
    * floor(1e6 · e⁻¹ · Σ_{j≤k} 1/j!) for k = 0..5. Weights above 5 are
    * truncated to 6 (tail mass ≈ 6e-5); the literals are shared with the
    * oracle, so the resampling law is identical by construction. */
  val PoissonPpm: Seq[Long] = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L)

  /** q262: POISSON-BOOTSTRAP confidence table for the corpus mean doc
    * length — the bootstrap that actually runs at 100 TB. A classic
    * resample materializes B copies of the corpus; the Poisson bootstrap
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012) instead gives every row an independent
    * Poisson(1) weight per replicate, so B resamples ride ONE linear
    * pass and one combinable aggregation into a B-row frame.
    *
    * Determinism: the weight is the inverse CDF applied to
    * h60("boot:" + b + ":" + doc_id) % 1e6 — salted md5, no RNG state,
    * identical in both engines; every statistic is exact-integer. The
    * replicate means' spread IS the sampling-error estimate (spec pins
    * that the replicate band brackets the true mean). */
  def poissonBootstrap(spark: SparkSession, dir: String,
      replicates: Int = 32): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
          .cast("long").as("n_tokens"))
    val u = h60(concat(lit("boot:"), col("b").cast("string"),
      lit(":"), col("doc_id").cast("string"))) % 1000000L
    // Direct 6-branch CASE over u: CollapseProject textually inlines u
    // into every branch, but whole-stage codegen's subexpression
    // elimination evaluates the md5 ONCE. Two codegen traps measured
    // here: a lambda let-binding (transform(array(u), ...)) is a
    // higher-order function and disables codegen; so does expanding the
    // replicates via crossJoin(broadcast(reps)) — BroadcastNestedLoopJoin
    // stages never codegen. explode(sequence(...)) keeps the whole
    // expand→project→aggregate pipeline inside one codegen span.
    val weight = PoissonPpm.zipWithIndex
      .foldRight(lit(6L): org.apache.spark.sql.Column) { case ((t, k), rest) =>
        when(u < t, lit(k.toLong)).otherwise(rest)
      }
    toks
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), lit(replicates - 1L))).as("b"))
      .select(col("b"), col("n_tokens"), weight.as("wt"))
      .groupBy(col("b"))
      .agg(sum(col("wt")).as("n_eff"),
        sum(col("wt") * col("n_tokens")).as("sum_tokens"))
      .select(col("b"),
        col("n_eff").cast("long").as("n_eff"),
        col("sum_tokens").cast("long").as("sum_tokens"),
        expr("sum_tokens * 1000000 div n_eff").cast("long")
          .as("mean_tokens_ppm"))
      .orderBy(col("b").asc)
  }

  def percentileSketchAudit(spark: SparkSession, dir: String,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    // Gated surface: the EXACT order statistics only. The sketch-vs-exact
    // tolerance verdict lives in [[percentileSketchDetail]] and is
    // asserted visibly in DiagnosticsSpec (round-9 advice: the oracle has
    // no twin of Spark's percentile_approx sketch, so its within_1pct was
    // a hard-coded TRUE — any sketch drift past 1% would have surfaced as
    // an opaque hash-gate divergence instead of a named assertion
    // failure).
    percentileSketchDetail(spark, dir, pcts)
      .select(col("pct"), col("exact_cents"))
      .orderBy(col("pct").asc)

  /** The full sketch-acceptance audit behind [[percentileSketchAudit]]:
    * exact percentile (OrderStats bucket-offset kernel, no single-task
    * sort) joined with the same rank's percentile_approx estimate and an
    * explicit relative-tolerance verdict. Spec-gated, not oracle-gated —
    * the sketch side has no cross-engine twin. */
  def percentileSketchDetail(spark: SparkSession, dir: String,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import spark.implicits._
    val v = graft.core.Caches.scratch(
      Tables.orders(spark, dir)
        .select(lit(0L).as("part"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v")))
    val n = v.count()
    val positions = pcts.map(p => (0L, p.toLong, (p.toLong * n + 99) / 100))
      .toDF("part", "q", "pos")
    val exact = OrderStats.valueAtRank(v, positions)
      .select(col("q").as("pct"), col("v").as("exact_cents"))
    val approx = v.agg(percentile_approx(col("v"),
        array(pcts.map(p => lit(p / 100.0)): _*), lit(10000)).as("ap"))
      .select(posexplode(col("ap")).as(Seq("idx", "approx_cents")))
      .select(col("idx"), col("approx_cents"))
    val idxMap = pcts.zipWithIndex.map { case (p, i) => (i, p.toLong) }
      .toDF("idx", "pct")
    exact
      .join(idxMap.join(approx, Seq("idx")).select(col("pct"), col("approx_cents")),
        Seq("pct"))
      .select(col("pct"), col("exact_cents"), col("approx_cents"),
        (abs(col("approx_cents") - col("exact_cents")) * 1000000L
          <= col("exact_cents") * 10000L).as("within_1pct"))
      .orderBy(col("pct").asc)
  }

  /** q290: SPLIT-CONFORMAL COVERAGE AUDIT — distribution-free prediction
    * intervals with a finite-sample guarantee, checked empirically. Per
    * event type: a deterministic hash split carves calibration/test
    * halves; the "predictor" is the calibration median (cents); the
    * nonconformity score is the absolute residual; q̂ is the
    * ⌈0.9·(n+1)⌉-th smallest calibration score (the split-conformal
    * quantile, exact rank arithmetic — `(9(n+1)+9) div 10`, clamped to
    * n); the audit reports the TEST-side share of residuals ≤ q̂, which
    * the conformal theorem lower-bounds by 90% in expectation. gap_ppm
    * (cover − 900000) is a subtraction, never a signed division, so both
    * engines agree on under-coverage.
    *
    * Scale shape: both exact order statistics (median, q̂) come from
    * one per-type VALUE HISTOGRAM of the integer cents domain — no
    * per-type global sort, one calibration-side aggregation pass — and
    * the per-type results come back broadcast. */
  def conformalCoverage(silver: DataFrame): DataFrame = {
    val ev = graft.core.Caches.scratch(silver.select(
      col("event_type").as("part"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
      (h60(concat(lit("conf:"), col("event_id").cast("string")))
        % 10 < 5).as("is_cal")))
    // Round-14: both order statistics come from ONE per-part VALUE
    // HISTOGRAM of the calibration cents (integer domain, so the
    // histogram is exact and domain-sized). The round-13 form ran the
    // bucket-offset OrderStats kernel twice (median, then q̂ over a
    // re-derived deviation frame) — five-plus event-level passes and a
    // dozen small stages; now one aggregation pass builds the histogram,
    // the median is the value whose cumulative count covers rank
    // (n+1) div 2, the DEVIATION histogram is derived from the value
    // histogram by the |v − med| key map (domain-sized, never touches
    // events again), and q̂ reads the same cumulative construction.
    // Rank selection on a cumulative histogram is tie-invariant, so the
    // statistics are bit-identical to the kernel form's.
    val hist = graft.core.Caches.scratch(
      ev.filter(col("is_cal")).groupBy(col("part"), col("cents").as("v"))
        .agg(count(lit(1)).as("c")))
    val calN = hist.groupBy(col("part")).agg(sum(col("c")).as("n"))
    val wc = Window.partitionBy(col("part")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = graft.core.Caches.trackCheckpoint(
      hist.withColumn("cum", sum(col("c")).over(wc))
        .join(broadcast(calN), Seq("part"))
        .filter(col("cum") - col("c") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"))
        .select(col("part").as("mpart"), col("v").as("med_cents"))
        .localCheckpoint(true))
    val ncHist = hist.join(broadcast(med), col("part") === col("mpart"))
      .select(col("part"), abs(col("v") - col("med_cents")).as("v"), col("c"))
      .groupBy(col("part"), col("v")).agg(sum(col("c")).as("c"))
    val qhat = ncHist.withColumn("cum", sum(col("c")).over(wc))
      .join(broadcast(calN), Seq("part"))
      .filter(col("cum") - col("c") <
          least(expr("(9 * (n + 1) + 9) div 10"), col("n")) &&
        least(expr("(9 * (n + 1) + 9) div 10"), col("n")) <= col("cum"))
      .select(col("part").as("qpart"), col("v").as("qhat_cents"))
    ev.filter(!col("is_cal"))
      .join(broadcast(med), col("part") === col("mpart"))
      .join(broadcast(qhat), col("part") === col("qpart"))
      .join(broadcast(calN.select(col("part").as("cpart"),
        col("n").as("n_cal"))), col("part") === col("cpart"))
      .groupBy(col("part"))
      .agg(max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("med_cents")).as("med_cents"),
        max(col("qhat_cents")).as("qhat_cents"),
        sum((abs(col("cents") - col("med_cents")) <= col("qhat_cents"))
          .cast("long")).as("n_cover"))
      .select(col("part").as("event_type"),
        col("n_cal").cast("long").as("n_cal"),
        col("n_test").cast("long").as("n_test"),
        col("med_cents").cast("long").as("med_cents"),
        col("qhat_cents").cast("long").as("qhat_cents"),
        col("n_cover").cast("long").as("n_cover"),
        expr("n_cover * 1000000 div n_test").cast("long").as("cover_ppm"),
        (expr("n_cover * 1000000 div n_test") - lit(900000L)).cast("long")
          .as("gap_ppm"))
      .orderBy(col("event_type").asc)
  }
}
