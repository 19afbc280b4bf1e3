package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}
import graft.core.Shard.h60

/** Greedy coverage-based source selection — the data-mixture question
  * ("which sources do I ingest first to cover the most distinct
  * content?") answered as greedy maximum set cover over shingle sets.
  * Greedy is the classic (1 − 1/e)-approximation for submodular
  * coverage, and its loop is DRIVER-side model state: one picked source
  * per round, like the k-means centroid and Markov-matrix collects —
  * the corpus-side work per round is one anti-join + one count.
  */
object Coverage {

  /** q217: up to `rounds` greedy picks. Per round: among unpicked
    * sources, count each one's DISTINCT shingles not yet covered by the
    * picked set, take the max (count desc, source asc tiebreak — fully
    * deterministic), and add its shingles to the covered set. Output:
    * (round, source, marginal_new, cum_covered). Stops early when no
    * unpicked source adds anything (both engines agree on the stop —
    * a zero-marginal source never appears as a candidate).
    *
    * Scale shape: the (source, shingle) incidence frame is built once
    * from the memoized shingle pass and scratch-persisted; each round
    * re-derives `covered` from that frame and the picked-source LITERAL
    * list, so plans stay constant-size (no round-over-round lineage —
    * nothing to checkpoint). The per-round reduction is an anti-join on
    * the shingle key plus a |sources|-row aggregate; the 1-row argmax
    * collect is model-state scale. */
  def coverageGreedy(spark: SparkSession, dir: String,
      rounds: Int = 5): DataFrame =
    coverageGreedyOf(
      Caches.scratch(
        TextDedup.shinglesFor(spark, dir)
          .join(Tables.documents(spark, dir)
            .select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"), col("shingle"))
          .distinct()),
      rounds)

  /** Core greedy over an arbitrary (source, shingle) incidence frame;
    * `maskMax` is a test hook forcing the per-round fallback path. */
  private[llm] def coverageGreedyOf(ss: DataFrame, rounds: Int,
      maskMax: Int = 63): DataFrame = {
    val spark = ss.sparkSession
    import spark.implicits._
    // Round-14: a shingle's contribution to every possible greedy state
    // depends only on its SOURCE SET, so when the source roster fits a
    // 63-bit mask the whole corpus reduces to a (source-set bitmask →
    // shingle count) HISTOGRAM — one aggregation pass — and the greedy
    // runs on the driver over that domain-sized table: marginal(s) =
    // Σ count(M) over masks with s ∈ M and M ∩ picked = ∅. Identical
    // picks, marginals, and stop condition as the per-round anti-join
    // loop (CoverageSpec pins the equivalence on a crafted roster);
    // rosters wider than 63 sources fall back to the per-round loop.
    val sources = ss.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    if (sources.length <= maskMax) {
      val bit = sources.zipWithIndex.toMap
      val bitCol = sources.foldLeft(lit(0L)) { (acc, s) =>
        acc + when(col("source") === s, lit(1L << bit(s))).otherwise(lit(0L))
      }
      val hist = ss.select(col("shingle"), bitCol.as("b"))
        .groupBy(col("shingle")).agg(sum(col("b")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
      var pickedMask = 0L
      var cum = 0L
      var round = 0
      var done = false
      while (round < rounds && !done) {
        round += 1
        var bestSrc: String = null
        var bestM = 0L
        sources.foreach { s =>
          if ((pickedMask & (1L << bit(s))) == 0L) {
            var m = 0L
            hist.foreach { case (mask, cnt) =>
              if ((mask & (1L << bit(s))) != 0L && (mask & pickedMask) == 0L)
                m += cnt
            }
            // count desc, source asc — sources iterate in ascending
            // order, so strict > keeps the first (lowest) on ties
            if (m > 0L && m > bestM) { bestM = m; bestSrc = s }
          }
        }
        if (bestSrc == null) done = true
        else {
          pickedMask |= 1L << bit(bestSrc)
          cum += bestM
          out += ((round, bestSrc, bestM, cum))
        }
      }
      out.toSeq.toDF("round", "source", "marginal_new", "cum_covered")
        .orderBy(col("round").asc)
    } else {
      val picked = scala.collection.mutable.ArrayBuffer[String]()
      val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
      var cum = 0L
      var round = 0
      var done = false
      while (round < rounds && !done) {
        round += 1
        val covered = if (picked.isEmpty) null
          else ss.filter(col("source").isin(picked.toSeq: _*))
            .select(col("shingle")).distinct()
        val remaining =
          if (covered == null) ss
          else ss.join(covered, Seq("shingle"), "left_anti")
        val unpicked =
          if (picked.isEmpty) remaining
          else remaining.filter(!col("source").isin(picked.toSeq: _*))
        val best = unpicked.groupBy(col("source"))
          .agg(count(lit(1)).as("m"))
          .orderBy(col("m").desc, col("source").asc)
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (src, m) = (best(0).getString(0), best(0).getLong(1))
          picked += src
          cum += m
          out += ((round, src, m, cum))
        }
      }
      out.toSeq.toDF("round", "source", "marginal_new", "cum_covered")
        .orderBy(col("round").asc)
    }
  }

  /** q218: dedup-aware contrastive negative sampling — for each of the
    * first `numQueries` docs, `k` pseudo-random negatives drawn by a
    * DETERMINISTIC per-(query, candidate) hash rank (md5, the engine's
    * reproducible-randomness idiom: same sample on any engine, any
    * partitioning, any rerun), excluding the query itself and every
    * member of its near-dup cluster — the subtle contrastive-training
    * bug this operator exists to prevent: a "negative" that is a
    * near-duplicate of the anchor teaches the model to collapse.
    *
    * Scale shape: the query set broadcasts against the corpus (rows =
    * |docs|·numQueries — at real scale the candidate pool is a
    * per-query hash-bucket sample first, same rank function); the
    * cluster exclusion is one broadcast join of the pair-graph-sized
    * cluster frame; ranking is a per-query window over the candidate
    * pool. */
  def negativeSamples(spark: SparkSession, dir: String,
      numQueries: Int = 10, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val clusters = DupClusters.dupClusters(spark, dir)
      .select(col("cluster_id"), col("doc_id"))
    val queries = docs.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("query_id"))
      .join(clusters.select(col("doc_id").as("query_id"),
        col("cluster_id").as("qc")), Seq("query_id"), "left")
    val cands = docs.select(col("doc_id").as("neg_id"))
      .join(broadcast(clusters.select(col("doc_id").as("neg_id"),
        col("cluster_id").as("nc"))), Seq("neg_id"), "left")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("h").asc, col("neg_id").asc)
    cands.crossJoin(broadcast(queries))
      .filter(col("neg_id") =!= col("query_id"))
      .filter(col("qc").isNull || col("nc").isNull || col("qc") =!= col("nc"))
      .select(col("query_id"), col("neg_id"),
        h60(concat(col("query_id").cast("string"), lit(":"),
          col("neg_id").cast("string"))).as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neg_id"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
