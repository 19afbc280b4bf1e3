package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Shard, Tables}

/** Mergeable cardinality / frequency sketches (SURVEY §2 scale levers).
  *
  * Reference behavior: the notebook's distinct-count and top-N reports
  * recompute exactly per run (reference: src/analysis/analysis.ipynb).
  * At 100 TB a pipeline keeps SKETCHES next to the data instead —
  * mergeable across partitions/days, constant memory — and audits them
  * against exact counts on the gate corpus, which is exactly what these
  * operators emit. Both are formulated in EXACT integer arithmetic over
  * md5-derived hashes so the sketch contents (not just the estimates)
  * are engine-portable and hash-gateable.
  */
object Sketches {

  /** 48-bit positive integer hash of a column (the portable md5 prefix). */
  private def h48(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Shard.md5Prefix(c, 12)

  /** q230: KMV (k-minimum-values / bottom-k) DISTINCT sketch with its own
    * accuracy audit — distinct active user-days per event type, plus the
    * merged all-types sketch. Per group: the exact distinct count
    * (the truth this corpus can still afford), the sketch's k-th minimum
    * hash, the KMV estimate `(k-1)·2⁴⁸ div h_(k)`, and the error in ppm.
    * Groups with fewer than k elements hold the whole set — the sketch IS
    * exact there and the estimate falls back to the held count.
    *
    * Mergeability is the point: the `_all` row is the union-merge of the
    * per-type sketches (KMV(A ∪ B) = bottom-k of KMV(A) ∪ KMV(B)), the
    * property that makes the sketch a partition-parallel aggregate at
    * 100 TB (one bottom-k per shard, one tiny merge).
    *
    * Scale shape: one distinct-aggregation to the (group, hash) grain,
    * then a rank window partitioned BY GROUP (never global) for the k-th
    * minimum; the merged row ranks the union of the per-group bottom-k
    * frames — ≤ groups·k rows, domain-sized. The exact-truth column is
    * the audit's luxury at gate scale; production drops it and keeps the
    * sketch columns unchanged. */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val events = Tables.events(spark, dir)
    val elems = events
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit("#"),
          col("ts").cast("date").cast("string")).as("elem"))
      .select(col("event_type"), col("elem"), h48(col("elem")).as("h"))
    // distinct to the (group, hash) grain; exact truth per group rides
    // the same pass at the (group, elem) grain
    val perType = elems.select(col("event_type"), col("elem"), col("h")).distinct()
    val truth = perType.groupBy(col("event_type"))
      .agg(countDistinct(col("elem")).as("n_true"))
    val hs = perType.select(col("event_type"), col("h")).distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
    val bottomK = hs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    // merged '_all' sketch: union-merge of the per-type bottom-k frames
    // (dedup by hash — the same element seen under two types is one
    // distinct), re-ranked; its truth is the global distinct count
    // domain-sized: union of per-type bottom-k frames (<= k * |types| rows)
    val wAll = Window.orderBy(col("h").asc)
    val mergedK = bottomK.select(col("h")).distinct()
      .withColumn("rn", row_number().over(wAll))
      .filter(col("rn") <= k)
      .select(lit("_all").as("event_type"), col("h"), col("rn"))
    val truthAll = perType.select(col("elem")).distinct()
      .agg(countDistinct(col("elem")).as("n_true"))
      .select(lit("_all").as("event_type"), col("n_true"))
    def estimate(sketch: DataFrame, tr: DataFrame): DataFrame = {
      val kth = sketch.filter(col("rn") === k)
        .select(col("event_type"), col("h").as("kth_min"))
      tr.join(kth, Seq("event_type"), "left")
        .select(col("event_type"), lit(k.toLong).as("k"),
          coalesce(col("kth_min"), lit(0L)).as("kth_min"),
          when(col("kth_min").isNull, col("n_true"))
            .otherwise(expr(s"(($k - 1) * 281474976710656) div kth_min"))
            .cast("long").as("est_distinct"),
          col("n_true").cast("long").as("n_true"))
        .withColumn("err_ppm",
          expr("abs(est_distinct - n_true) * 1000000 div n_true").cast("long"))
    }
    estimate(bottomK, truth)
      .unionByName(estimate(mergedK, truthAll))
      .orderBy(col("event_type").asc)
  }

  /** q231: COUNT-MIN sketch heavy-hitter audit over the document corpus —
    * d=4 hash rows × w=16 counters of word occurrences, read back for the
    * top-10 true words. Emits per word: the exact count, the CMS estimate
    * (min over the d bucket counters), and the overestimate in ppm. The
    * CMS guarantee — estimate ≥ truth, error bounded by collision mass —
    * is checkable row by row, and SketchesSpec pins the ≥ side.
    *
    * w=16 against a ~31-word vocabulary FORCES collisions on purpose:
    * the audit shows the min-over-rows recovering heavy hitters through
    * them, which is the sketch's actual claim. (Production sizes w to
    * ε=e/w; the operator shape is identical.)
    *
    * Scale shape: the sketch build is one map-side-combinable aggregate
    * to the (row, bucket) grain — d·w = 64 counters total, a broadcast
    * frame; the top-10 selection is a TakeOrdered over the word counts.
    * Nothing joins at corpus cardinality. */
  def cmsHeavyHitters(spark: SparkSession, dir: String,
      d: Int = 4, w: Int = 16, topN: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val words = graft.core.Caches.scratch(
      docs.select(explode(split(norm, " ")).as("word"))
        .filter(length(col("word")) > 0))
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("n_true"))
    // sketch: for each of the d rows, bucket = h48('row#' || word) % w
    val rows = (0 until d).map { i =>
      words.select(lit(i).as("cms_row"),
        (h48(concat(lit(s"$i#"), col("word"))) % w).as("bucket"))
    }.reduce(_ unionAll _)
    val sketch = rows.groupBy(col("cms_row"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val top = counts
      .orderBy(col("n_true").desc, col("word").asc).limit(topN)
    // read-back: each top word probes its d buckets; min over rows
    val probes = (0 until d).map { i =>
      top.select(col("word"), col("n_true"), lit(i).as("cms_row"),
        (h48(concat(lit(s"$i#"), col("word"))) % w).as("bucket"))
    }.reduce(_ unionAll _)
    probes
      .join(broadcast(sketch), Seq("cms_row", "bucket"))
      .groupBy(col("word"), col("n_true"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("word"), col("n_true").cast("long").as("n_true"),
        col("cms_est").cast("long").as("cms_est"),
        expr("(cms_est - n_true) * 1000000 div n_true").cast("long")
          .as("over_ppm"))
      .orderBy(col("n_true").desc, col("word").asc)
  }
}
