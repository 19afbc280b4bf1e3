package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Shard, Tables}

/** Blocked fuzzy matching (entity resolution) — the catalog-cleaning twin
  * of document near-dedup: find records whose NAMES are within a small
  * edit distance, without the all-pairs cross join.
  *
  * Scale shape, the standard ER pipeline:
  *  1. canonicalize → DISTINCT name level first (a name repeated across
  *     thousands of rows contributes ONE node, not a quadratic clique);
  *  2. BLOCK on a cheap stable key (here the head noun = last token; at
  *     larger scale the key widens — noun + length band, phonetic code —
  *     exactly like q29's (lang, band, shard) blocking) so candidate
  *     pairs are per-block, never corpus²;
  *  3. verify candidates with the exact scorer (`levenshtein`, a codegen
  *     built-in) and keep pairs under the threshold.
  * The pair join shuffles on the block key; per-block fan-out is bounded
  * by block size, and the name table is orders of magnitude smaller than
  * the row table it summarizes.
  */
object FuzzyMatch {

  /** Near-duplicate part-name pairs (edit distance ≤ maxDist), blocked by
    * head noun, with the member counts a merge step would reconcile. */
  def fuzzyPartNames(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.name") < col("b.name"))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("dist") <= maxDist && col("dist") > 0)
      .select(
        col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("dist"),
        col("a.n_parts").as("n_parts_a"), col("b.n_parts").as("n_parts_b"))
      .orderBy(col("name_a").asc, col("name_b").asc)
  }

  /** Blocking key per document for [[editDistanceDups]]: (lang,
    * n_chars div 64 length band) capped by [[Shard.capped]],
    * with `p` the first `prefixLen` normalized chars. */
  def editBlocks(docs: DataFrame, prefixLen: Int = 64): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val meta = docs
      .select(col("doc_id"), col("lang"),
        expr("n_chars div 64").as("band"),
        substring(norm, 1, prefixLen).as("p"))
    Shard.capped(meta, Seq("lang", "band"))
  }

  /** q323: EDIT-DISTANCE near-dup pairs over the document corpus — the
    * character-level dedup family the shingle/minhash/simhash set lacks
    * (Jaccard on word shingles is blind to dense single-character noise;
    * OCR scans and templated spam are exactly that). The scorer is a
    * PREFIX-WINDOW Levenshtein: distance over the first `prefixLen`
    * normalized chars, a bounded DP (64×64) per pair instead of
    * full-text quadratic — the production bound for fuzzy dedup at
    * scale (a full-document DP on 100 KB texts is 10¹⁰ cells/pair).
    *
    * Blocking is the q29 contract verbatim ([[editBlocks]]), so
    * candidate pairs stay LINEAR in the corpus (unsharded length-band
    * blocks grow linearly and their pair counts quadratically — measured
    * 94× pairs for 10× docs on this corpus). The documented trade:
    * near-dups split across subshards are missed; recall comes from the
    * OTHER families (q27/q28), this one adds the char-noise lens. */
  def editDistanceDups(docs: DataFrame, maxDist: Int = 8,
                       prefixLen: Int = 64): DataFrame = {
    val keyed = editBlocks(docs, prefixLen)
    // thresholded levenshtein: the banded DP short-circuits at maxDist
    // (returns -1 above it) — O(maxDist·len) per pair instead of len²,
    // the difference between a cheap verify and the dominant bench cost
    // at 128k candidates
    keyed.as("a").join(keyed.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band")
          && col("a.subshard") === col("b.subshard")
          && col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.p"), col("b.p"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a.lang").as("lang"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }
}
