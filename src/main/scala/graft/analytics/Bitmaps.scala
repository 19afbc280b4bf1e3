package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bitmap-index aggregation — the roaring-bitmap idiom expressed with
  * nothing but built-in integer ops, so it stays inside whole-stage
  * codegen. Reference semantics: cohort retention like the reference's
  * week-over-week report (SURVEY §2.4 retention family, cf.
  * notebooks/analysis.ipynb), but the ENGINE computes it from per-user
  * activity bitmaps instead of a week×week self-join.
  *
  * Why this matters at 100 TB: the naive retention query joins the
  * distinct (user, week) activity frame to itself — a shuffle whose
  * size is |active users| × |weeks| on BOTH sides, twice. The bitmap
  * formulation folds a user's whole activity history into ONE int64
  * (`bit_or(1L << day)`), so the corpus is touched once by a map-side
  * combinable aggregate, and every week-pair statistic afterwards is
  * mask arithmetic on a |users|-row frame. At a billion users that is
  * the difference between re-shuffling the event log per cohort matrix
  * cell and one groupBy. The same trick backs segment-overlap /
  * audience-intersection engines (Druid's, ClickHouse's groupBitmap):
  * AND/OR/XOR of bitmaps replace joins entirely.
  */
object Bitmaps {

  /** q201: 4-week bitmap retention matrix. Day index = days since the
    * corpus' first event date; only the first 28 days participate (the
    * observation window — one int64 holds up to 63 days, so a quarter
    * fits; longer horizons shard into (user, epoch-week-block) rows).
    * For each week w ∈ {0,1,2}: users active in week w, users active in
    * BOTH w and w+1, and the retention ratio in ppm (integer div —
    * exact in both engines).
    *
    * Scale shape: one broadcast of the 1-row min-date frame, one
    * map-side-combinable bit_or groupBy over the events, then a
    * 3×|users| expand aggregated to 3 rows. No self-join, no distinct
    * (user, week) materialization, no shuffle beyond the single
    * per-user hash. */
  def bitmapRetention(silver: DataFrame): DataFrame = {
    val spark = silver.sparkSession
    val base = silver.select(col("user_id"), col("event_date"))
    val d0 = base.agg(min(col("event_date")).as("d0"))
    val bm = base.crossJoin(broadcast(d0))
      .select(col("user_id"), datediff(col("event_date"), col("d0")).as("d"))
      .filter(col("d") >= 0 && col("d") < 28)
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), d))").as("bm"))
    val weeks = spark.range(3).select(col("id").cast("int").as("week"))
    bm.crossJoin(broadcast(weeks))
      .select(col("week"),
        (expr("shiftright(bm, week * 7) & 127") =!= 0).as("a"),
        (expr("shiftright(bm, week * 7 + 7) & 127") =!= 0).as("b"))
      .groupBy(col("week"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("active_users"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("retained_users"))
      .filter(col("active_users") > 0)
      .select(col("week"), col("active_users"), col("retained_users"),
        expr("retained_users * 1000000 div active_users").cast("long")
          .as("retention_ppm"))
      .orderBy(col("week").asc)
  }

  /** q205: the full cohort triangle from the same bitmaps — cohort =
    * the user's FIRST active week in the window, and for every
    * (cohort, week ≥ cohort) cell: how many of the cohort were active
    * that week, as count + ppm of cohort size. The classic retention
    * heat-map, again with zero self-joins: cohort assignment is a CASE
    * over the four week masks of one int64, the matrix is one groupBy
    * over a 4-weeks-per-user expand. */
  def cohortMatrix(silver: DataFrame): DataFrame = {
    val spark = silver.sparkSession
    val base = silver.select(col("user_id"), col("event_date"))
    val d0 = base.agg(min(col("event_date")).as("d0"))
    val bm = base.crossJoin(broadcast(d0))
      .select(col("user_id"), datediff(col("event_date"), col("d0")).as("d"))
      .filter(col("d") >= 0 && col("d") < 28)
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), d))").as("bm"))
      .select(col("bm"),
        expr(
          """CASE WHEN (bm & 127) <> 0 THEN 0
            |     WHEN (shiftright(bm, 7) & 127) <> 0 THEN 1
            |     WHEN (shiftright(bm, 14) & 127) <> 0 THEN 2
            |     ELSE 3 END""".stripMargin).cast("int").as("cohort"))
    val weeks = spark.range(4).select(col("id").cast("int").as("week"))
    // cells feed both the matrix and the cohort-size lookup — scratch
    // so the corpus-side pipeline (bitmap groupBy + expand) runs once
    val cells = graft.core.Caches.scratch(bm.crossJoin(broadcast(weeks))
      .filter(col("week") >= col("cohort"))
      .filter(expr("(shiftright(bm, week * 7) & 127) <> 0"))
      .groupBy(col("cohort"), col("week"))
      .agg(count(lit(1)).as("n_active")))
    // cohort size = the cohort's own-week cell (first activity is in
    // the cohort week by definition, so that cell counts everyone)
    val sizes = cells.filter(col("week") === col("cohort"))
      .select(col("cohort"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("week"), col("n_active"), col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").cast("long")
          .as("active_ppm"))
      .orderBy(col("cohort").asc, col("week").asc)
  }

  /** q207: segment-overlap matrix (audience intersection) via bitmap
    * PATTERN COUNTING — the third bitmap trick after per-user masks
    * (q201) and cohort CASEs (q205). Naive pairwise overlap of T
    * segments needs T² semi-joins over the corpus; instead each user
    * folds into one bit-pattern of segment membership (bit i = did
    * event_type i), the corpus collapses to ≤ 2^T pattern-count rows,
    * and every pairwise statistic is then arithmetic on that tiny
    * frame. For T segments the corpus is read ONCE regardless of how
    * many of the T·(T−1)/2 pairs are reported — the Druid/ClickHouse
    * audience-engine shape.
    *
    * Output per (type_a < type_b): both segment sizes, the exact
    * intersection, and Jaccard in ppm — all integers. Segment indices
    * come from a row_number over the DISTINCT type frame (domain-sized;
    * the single-partition window is the same bounded-domain exemption
    * as every other range-sized window here). */
  def segmentOverlap(silver: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tIdx = silver.select(col("event_type")).distinct()
      .withColumn("ti",
        // domain-sized: distinct event types (single digits)
        row_number().over(Window.orderBy(col("event_type"))) - 1)
    val patterns = silver.select(col("user_id"), col("event_type"))
      .join(broadcast(tIdx), Seq("event_type"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), ti))").as("pat"))
      .groupBy(col("pat")).agg(count(lit(1)).as("n_users"))
    val pairs = tIdx.select(col("event_type").as("type_a"), col("ti").as("ta"))
      .crossJoin(tIdx.select(col("event_type").as("type_b"), col("ti").as("tb")))
      .filter(col("ta") < col("tb"))
    pairs.crossJoin(patterns)
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        sum(when(expr("(shiftright(pat, ta) & 1) = 1"), col("n_users"))
          .otherwise(0L)).as("n_a"),
        sum(when(expr("(shiftright(pat, tb) & 1) = 1"), col("n_users"))
          .otherwise(0L)).as("n_b"),
        sum(when(expr("(shiftright(pat, ta) & 1) = 1 AND (shiftright(pat, tb) & 1) = 1"),
          col("n_users")).otherwise(0L)).as("n_both"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 1000000 div (n_a + n_b - n_both)").cast("long")
          .as("jaccard_ppm"))
      .orderBy(col("type_a").asc, col("type_b").asc)
  }
}
