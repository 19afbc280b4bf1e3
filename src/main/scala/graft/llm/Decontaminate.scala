package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Caches
import graft.core.Shard.h60

/** Benchmark decontamination: flag training documents whose word n-grams
  * overlap a held-out evaluation set (the GPT-3 / Llama "13-gram overlap"
  * family of checks, sized down to the fixture corpus). A training corpus
  * that contains the eval set inflates benchmark scores; every serious
  * pipeline runs this join before training.
  *
  * Shape at 100 TB: the eval side is a BENCHMARK — thousands of documents
  * against billions — so its distinct n-gram set is broadcast and the whole
  * check is one map-side pass over the training corpus (explode → distinct
  * per doc → broadcast-hash left join → per-doc count). No shuffle of the
  * corpus' n-grams, no all-pairs anything; cost is linear in corpus tokens.
  * The per-doc `array_distinct` happens BEFORE the explode, so duplicate
  * n-grams within a document never leave the map side.
  *
  * The fixture has no separate benchmark table, so the eval set is carved
  * deterministically from `documents` (doc_id % evalMod == 0) — the same
  * rule the DuckDB oracle applies, and the synthetic corpus' planted
  * near-duplicates make a realistic leak signal (a handful of train docs
  * overlap an eval doc on 18+ of their 5-grams; everything else is 0).
  */
object Decontaminate {

  val NgramN = 5
  val EvalMod = 97
  /** Docs sharing at least this many distinct n-grams with the eval set
    * are contaminated (real pipelines use 1 hit of a 13-gram; with short
    * fixture docs and 5-grams a small threshold keeps the same spirit). */
  val ContaminationThreshold = 3

  private def words: Column =
    split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")

  /** Per-doc DISTINCT word n-grams, one row per (doc_id, gram). Docs
    * shorter than `n` tokens produce no rows (mirrored by the oracle). */
  private[llm] def docNgrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("w", words)
      .filter(size(col("w")) >= n)
      .select(
        col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("w")) - (n - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(n)))))).as("gram"))

  /** Per-train-doc eval-overlap report: distinct shared n-grams and the
    * contamination verdict. Eval docs themselves are excluded from the
    * output (they would trivially self-match). */
  def overlapReport(docs: DataFrame,
                    n: Int = NgramN,
                    evalMod: Int = EvalMod,
                    threshold: Int = ContaminationThreshold): DataFrame = {
    val grams = docNgrams(docs, n)
    val isEval = col("doc_id") % evalMod === 0
    // The eval n-gram set is the small side by construction: benchmarks
    // are fixed-size while the corpus grows. Broadcast it.
    val evalGrams = grams.filter(isEval).select(col("gram")).distinct()
      .withColumn("hit", lit(1))
    grams.filter(!isEval)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("hit")).as(s"overlap_${n}grams"),
        (count(col("hit")) >= threshold).as("contaminated"))
      .orderBy(col("doc_id").asc)
  }

  // ------------------------------------------------- boilerplate census

  /** Grams present in at least this percentage of documents count as
    * boilerplate (CCNet-style common-paragraph removal, at 2-gram
    * granularity for the single-line fixture docs). */
  val BoilerplateDfPct = 5
  val BoilerplateGramN = 2
  /** Docs whose distinct 2-grams are mostly boilerplate get flagged. */
  val BoilerplateHeavyRatio = 0.5

  /** Corpus-level boilerplate census: per-doc distinct n-grams, how many
    * of them are corpus-common (document frequency ≥ BoilerplateDfPct%),
    * the resulting ratio, and the keep/drop style flag.
    *
    * Scale shape: ONE explode pass feeds both sides — the gram frame is
    * scratch-persisted and reused for the document-frequency aggregate and
    * the back-join. The flagged set is small BY DEFINITION (high-df grams
    * are rare in gram-space), so the back-join broadcasts it; the corpus'
    * gram stream is never shuffled twice. The doc count joins in as a
    * broadcast scalar, not a collected driver value.
    */
  def boilerplateCensus(docs: DataFrame): DataFrame = {
    val n = BoilerplateGramN
    val grams = Caches.scratch(docNgrams(docs, n))
    val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("nd"))
    val nDocs = docs.agg(count(lit(1)).as("ndocs"))
    val flagged = df.crossJoin(broadcast(nDocs))
      .filter(col("nd") * (100 / BoilerplateDfPct) >= col("ndocs"))
      .select(col("gram"), lit(1).as("bp"))
    grams
      .join(broadcast(flagged), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as(s"distinct_${n}grams"),
        count(col("bp")).as(s"boilerplate_${n}grams"))
      .withColumn("boilerplate_ratio",
        col(s"boilerplate_${n}grams").cast("double") / col(s"distinct_${n}grams"))
      .withColumn("boilerplate_heavy",
        col("boilerplate_ratio") > BoilerplateHeavyRatio)
      .orderBy(col("doc_id").asc)
  }

  // ------------------------------------------------ source overlap

  /** Source-overlap matrix: shingle-level Jaccard between every pair of
    * sources — the corpus diagnostic that answers "is crawl B a re-crawl
    * of crawl A?" before any per-document dedup runs. The pair join is
    * SHINGLE-keyed (two scans of the distinct (source, shingle) set,
    * equi-join on shingle, source_a < source_b): work scales with shared
    * shingles × source-pair fan-out — the fan-out is bounded by the
    * (small) source count squared, never by corpus size. Exact integer
    * intersections; one fixed-order double division. */
  def sourceOverlap(docs: DataFrame, n: Int = BoilerplateGramN): DataFrame = {
    val srcShingles = Caches.scratch(
      docs.withColumn("w", words)
        .filter(size(col("w")) >= n)
        .select(col("source"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("w")) - (n - 1)),
            i => concat_ws(" ", slice(col("w"), i, lit(n)))))).as("gram"))
        .distinct())
    val sizes = srcShingles.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val a = srcShingles.select(col("source").as("source_a"), col("gram"))
    val b = srcShingles.select(col("source").as("source_b"), col("gram"))
    a.join(b, Seq("gram"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("ns").as("na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("ns").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        (col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams"))).as("jaccard"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }

  /** Slots in the per-source minhash signature (q269). */
  val SourceSketchSlots = 64

  /** q269: MERGEABLE per-source MinHash signatures, estimate vs exact —
    * the sketch form of [[sourceOverlap]]. The exact matrix needs the
    * shared-gram pair join (shuffle ∝ shared shingles); the sketch needs
    * ONE aggregation: each source keeps 64 permutation minima (the same
    * (a·h + b) mod p family as the doc-level q27 sketch), and any two
    * sources' Jaccard is estimated by their slot agreement. Minima are
    * mergeable — partial aggregates combine by min, shards/days/crawls
    * roll up without touching grams again — which is why production
    * overlap monitoring ships sketches and reconciles against exact only
    * in audits like this one. Emits both estimates and the exact truth
    * with the absolute error, per source pair.
    *
    * Scale: grams scanned once for the sketch (64 min-aggregate COLUMNS,
    * no row explosion) + once for the exact baseline; the pair frame is
    * |sources|² rows. */
  def sourceMinhashAudit(docs: DataFrame, n: Int = BoilerplateGramN): DataFrame = {
    import graft.llm.TextDedup.{minhashA, minhashB, MinhashP}
    val srcShingles = Caches.scratch(
      docs.withColumn("w", words)
        .filter(size(col("w")) >= n)
        .select(col("source"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("w")) - (n - 1)),
            i => concat_ws(" ", slice(col("w"), i, lit(n)))))).as("gram"))
        .distinct())
    val based = srcShingles.withColumn("hb",
      h60(col("gram")) % MinhashP)
    val slotAggs = (0 until SourceSketchSlots).map { s =>
      min((lit(minhashA(s)) * col("hb") + lit(minhashB(s))) % MinhashP).as(s"h$s")
    }
    val sigs = based.groupBy(col("source"))
      .agg(slotAggs.head, slotAggs.tail: _*)
    val a = sigs.select(col("source").as("source_a") +:
      (0 until SourceSketchSlots).map(s => col(s"h$s").as(s"a$s")): _*)
    val b = sigs.select(col("source").as("source_b") +:
      (0 until SourceSketchSlots).map(s => col(s"h$s").as(s"b$s")): _*)
    val matches = (0 until SourceSketchSlots)
      .map(s => when(col(s"a$s") === col(s"b$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), matches.as("slot_matches"))
    val sizes = srcShingles.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val exact = srcShingles.select(col("source").as("source_a"), col("gram"))
      .join(srcShingles.select(col("source").as("source_b"), col("gram")), Seq("gram"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("ns").as("na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("ns").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        expr("shared_grams * 1000000 div (na + nb - shared_grams)")
          .as("exact_ppm"))
    est.join(exact, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"),
        col("slot_matches").cast("long").as("slot_matches"),
        expr(s"slot_matches * 1000000 div $SourceSketchSlots").cast("long")
          .as("est_ppm"),
        col("exact_ppm").cast("long").as("exact_ppm"),
        abs(expr(s"slot_matches * 1000000 div $SourceSketchSlots")
          - col("exact_ppm")).cast("long").as("err_ppm"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }
}
