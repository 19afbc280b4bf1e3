package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Caches, Sessions, Shard, Tables}
import graft.llm.{EmbedDedup, FuzzyMatch, Multimodal, TextDedup}

/** Multi-scale-point audit of the dedup/ANN candidate volumes (round-5 review
  * stretch item): every near-dup family in this engine claims its candidate
  * generation is LINEAR in corpus size because of an explicit collision cap
  * (LSH bands, df-capped inverted indexes, block subsharding). This main
  * MEASURES that claim instead of asserting it: it counts the
  * candidate-stage rows at two scale factors and records the growth ratio
  * next to the document-count ratio in `SCALE_GROWTH.json`. A family whose
  * candidate ratio is bounded by a small multiple of the doc ratio is
  * shuffling O(n) pairs at 100 TB; a super-linear ratio here would be the
  * earliest possible warning that a cap is not holding.
  *
  * Counted stages (all public operator stages, no test-only forks):
  *  - minhash_cand:   banded-LSH candidate pairs (q27's join input)
  *  - ngram_block_pairs: Σ n·(n−1)/2 over (lang, source, band, subshard)
  *    blocks — the exact comparison count the blocked Jaccard (q29) pays
  *  - contain_rare_collisions: Σ df·(df−1)/2 over shingles with df in
  *    [2, ContainDfCap] — q157's pre-gate candidate volume
  *  - contain_gated: pairs surviving the ≥ ContainMinShared support gate
  *    (q157's verify input)
  *  - winnow_collisions: Σ df·(df−1)/2 over fingerprints with df ≤ MaxFpDf
  *    — q59's inverted-index join output bound
  *  - embed_cand: sign-LSH band-bucket candidate pairs (q51's verify input)
  *  - cdc_chunks: content-defined chunks (q65 — linear by construction;
  *    counted as the control row)
  *
  * Usage: `./run_local.sh graft.ScaleGrowth dir... [out.json]`
  * (defaults: sf0.01, sf0.1 → SCALE_GROWTH.json). A dir of the form
  * `gen:<rows>` reads that many documents from the engine's own
  * deterministic zero-I/O `graft-docs` DSv2 source instead of parquet.
  * CAVEAT: the generated text is much shorter and word-sparser than the
  * testdata documents, so the word-shingle families measure ~zero there
  * — use `gen:` points for cap-saturation stress, not family-by-family
  * growth comparison. Measured at `gen:50000` (≈ sf1 doc count): ngram
  * block pairs saturate at 99.8 % of the cap bound and stay there
  * (1 571 414 of 1 575 000 — the cap IS the linear asymptote), and the
  * capped embed-LSH candidates sit at 19 % of bound; no capped family
  * exceeded its bound.
  */
object ScaleGrowth {

  /** Σ df·(df−1)/2 of group sizes of `cols` in `df` with size in
    * [lo, hi] — the pair count an inverted-index self-join on those keys
    * would emit. */
  private def pairSum(df: DataFrame, lo: Long, hi: Long, cols: String*): Long = {
    val g = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") >= lo && col("n") <= hi)
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("pairs"))
    g.head().getLong(0)
  }

  private def docsOf(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    if (dir.startsWith("gen:"))
      spark.read.format("graft-docs")
        .option("rows", dir.stripPrefix("gen:").toLong).load()
    else Tables.documents(spark, dir)

  private def measure(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Seq[(String, Long)] = {
    val docs = docsOf(spark, dir)
    def timedCount(name: String)(f: => Long): (String, Long) = {
      val v = f
      Caches.releaseScratch(spark)
      name -> v
    }
    Seq(
      timedCount("n_docs")(docs.count()),
      timedCount("n_shingle_rows")(
        TextDedup.shingles(docs, TextDedup.MinhashK).count()),
      timedCount("n_fp_rows")(TextDedup.winnowFingerprints(docs).count()),
      timedCount("minhash_cand")(TextDedup.minhashCandidates(docs).count()),
      timedCount("ngram_block_pairs") {
        pairSum(TextDedup.ngramBlocks(docs), 2L, Long.MaxValue,
          "lang", "source", "band", "subshard")
      },
      timedCount("contain_rare_collisions") {
        pairSum(TextDedup.shingles(docs, TextDedup.MinhashK),
          2L, TextDedup.ContainDfCap.toLong, "shingle")
      },
      timedCount("contain_gated") {
        val sh = Caches.scratch(TextDedup.shingles(docs, TextDedup.MinhashK))
        val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= TextDedup.ContainDfCap)
          .select(col("shingle"))
        val rsh = sh.join(rare, Seq("shingle"))
        rsh.as("a").join(rsh.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id"), col("b.doc_id"))
          .agg(count(lit(1)).as("rare_shared"))
          .filter(col("rare_shared") >= TextDedup.ContainMinShared)
          .count()
      },
      timedCount("winnow_collisions") {
        pairSum(TextDedup.winnowFingerprints(docs),
          2L, TextDedup.MaxFpDf.toLong, "fp")
      },
      timedCount("embed_cand") {
        EmbedDedup.candidates(
          EmbedDedup.bandValues(EmbedDedup.tfVectors(docs))).count()
      },
      // NOTE deliberately not counted: q232's exact prefix-filter join.
      // Exactness forbids a candidate cap, and on this low-entropy
      // corpus (31-word vocabulary) shingle rarity saturates with scale,
      // so its candidate mass is super-linear BY NATURE — it is the
      // bounded-scale ground-truth tool (q243), not a 100 TB dedup path;
      // listing it here would misstate its claim (round-8 measurement:
      // 25 -> 12 784 candidates for 10x docs even with all three PPJoin
      // prunes).
      timedCount("cdc_chunks")(TextDedup.cdcChunks(docs).count()),
      timedCount("phash_band_pairs") {
        // candidate pairs of the q204 banded Hamming join, after the
        // adaptive subshard cap — bounded by 4·n_docs·(cap−1)/2
        pairSum(Multimodal.phashBands(docs), 2L, Long.MaxValue,
          "b", "bv", "subshard")
      },
      // q322: sorted-neighborhood candidates — (window−1)·N by
      // construction (block-edge truncation only shrinks it); blocking
      // constants single-sourced from the q322 operator
      timedCount("snm_candidates") {
        val keyed = TextDedup.normalized(docs).select(col("doc_id"),
          substring(col("norm"), 1, TextDedup.SnmPrefixLen).as("k"),
          substring(col("norm"), 1, TextDedup.SnmBlockLen).as("blk"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("k").asc, col("doc_id").asc)
        val rn = Caches.scratch(
          keyed.withColumn("rn", row_number().over(w))
            .select(col("blk"), col("rn")))
        rn.as("x").join(rn.as("y"),
            col("x.blk") === col("y.blk") && col("y.rn") > col("x.rn")
              && col("y.rn") <= col("x.rn") + (TextDedup.SnmWindow - 1))
          .count()
      },
      // q323: Σ n·(n−1)/2 over (lang, length-band, adaptive subshard)
      // blocks — the exact pair count the edit-distance verify pays
      timedCount("edit_block_pairs") {
        pairSum(FuzzyMatch.editBlocks(docs), 2L, Long.MaxValue,
          "lang", "band", "subshard")
      },
      // q318/q326 watch counter: LARGEST simhash hamming≤1 component.
      // Not a candidate volume — a merge-structure metric: hamming
      // components CHAIN with corpus growth (5 → 1288 members for 10×
      // docs), which is the union-find over-merge hazard the q213/q318
      // audits quantify. Recorded so the drift is visible; excluded
      // from the linear criterion (see `watch` below).
      timedCount("simhash_h1_max_component") {
        val pairs = TextDedup.simhashNearDups(docs)
          .filter(col("hamming") <= graft.llm.DupClusters.SimRefHammingMax)
          .select(col("doc_a"), col("doc_b"))
        graft.llm.DupClusters.connectedComponents(pairs)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("k"))
          .agg(coalesce(max(col("k")), lit(0L))).head().getLong(0)
      })
  }

  /** The documented linear-in-corpus candidate bound per capped family,
    * evaluated from the measured base counts. An unsaturated corpus can
    * legitimately show super-linear growth BETWEEN two small scale points
    * (blocks/buckets filling toward their caps — measured round 6:
    * ngram 93× and rare-shingle 90× for 10× docs while still far below
    * the cap bound), so the scale claim is "stays under the cap-derived
    * bound", not "grows no faster than docs". Families without a hard cap
    * (minhash bands, the support-gated containment output, CDC chunks)
    * keep the growth-ratio criterion instead. */
  private def capBound(counts: Map[String, Long]): Map[String, Long] = Map(
    // per subshard ≤ cap docs → pairs ≤ n_docs·(cap−1)/2
    "ngram_block_pairs" -> counts("n_docs") * (Shard.Cap - 1) / 2,
    // per shingle df ≤ cap → Σ df(df−1)/2 ≤ (cap−1)/2 · Σ df ≤ (cap−1)/2 · rows
    "contain_rare_collisions" ->
      counts("n_shingle_rows") * (TextDedup.ContainDfCap - 1) / 2,
    "winnow_collisions" ->
      counts("n_fp_rows") * (TextDedup.MaxFpDf - 1) / 2,
    // NumBands buckets per doc, each subsharded to ≤ cap docs
    "embed_cand" ->
      counts("n_docs") * EmbedDedup.NumBands * (Shard.Cap - 1) / 2,
    // 4 band postings per doc, each bucket subsharded to ≤ cap docs
    "phash_band_pairs" -> counts("n_docs") * 4 * (Shard.Cap - 1) / 2,
    // (window − 1) successors per row, blocks only truncate
    "snm_candidates" -> counts("n_docs") * (TextDedup.SnmWindow - 1),
    // per subshard ≤ cap docs → pairs ≤ n_docs·(cap−1)/2
    "edit_block_pairs" -> counts("n_docs") * (Shard.Cap - 1) / 2)

  /** Counters RECORDED but excluded from the linear criterion: structure
    * metrics whose growth IS the measured hazard (not a candidate volume
    * with a cap to hold). `simhash_h1_max_component` tracks hamming-
    * closure chaining — the q213/q318 over-merge signal. */
  private val watch = Set("simhash_h1_max_component")

  def main(args: Array[String]): Unit = {
    val (dirs, out) = {
      val (ds, outs) = args.toSeq.partition(a => !a.endsWith(".json"))
      (if (ds.nonEmpty) ds
       else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"),
        outs.headOption.getOrElse("SCALE_GROWTH.json"))
    }
    require(dirs.length >= 2, "need at least two scale points")
    val spark = Sessions.local(Sessions.defaultCpus, "graft-scale-growth")

    val points = dirs.map(d => measure(spark, d).toMap)
    val (first, last) = (points.head, points.last)
    val docsRatio = last("n_docs").toDouble / math.max(1L, first("n_docs"))

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val keys = Seq("n_docs", "n_shingle_rows", "n_fp_rows", "minhash_cand",
      "ngram_block_pairs", "contain_rare_collisions", "contain_gated",
      "winnow_collisions", "embed_cand", "cdc_chunks", "phash_band_pairs",
      "snm_candidates", "edit_block_pairs", "simhash_h1_max_component")
    // bound at EVERY point, judged at the largest (the saturated regime)
    val lastBounds = capBound(last)
    def ok(k: String): Boolean = if (watch(k)) true else lastBounds.get(k) match {
      // capped family: the scale claim is the cap-derived linear bound
      case Some(bound) => last(k) <= bound
      // uncapped family: growth within 2x of doc growth (slack covers
      // density effects); a zero small-scale count is reported, not ratio'd
      case None =>
        first(k) == 0L || last(k).toDouble / first(k) <= 2.0 * docsRatio
    }
    val rows = keys.map { k =>
      val vals = points.map(_(k))
      val ratio = if (first(k) == 0L) -1.0 else last(k).toDouble / first(k)
      val boundPart =
        lastBounds.get(k).map(v => s""","bound_last":$v""").getOrElse("")
      val verdict = if (watch(k)) """"watch":true""" else s""""linear":${ok(k)}"""
      s""""$k":{"vals":${vals.mkString("[", ",", "]")},""" +
        s""""ratio":${num(ratio)}$boundPart,$verdict}"""
    }
    val line =
      s"""{"dirs":${dirs.map(d => "\"" + d + "\"").mkString("[", ",", "]")},""" +
        s""""docs_ratio":${num(docsRatio)},""" +
        s""""slack":2.0,"counts":{${rows.mkString(",")}},""" +
        s""""generated_utc":"${java.time.Instant.now().toString}"}"""
    println(line)
    Files.writeString(Paths.get(out), line + "\n")
    spark.stop()
    val bad = keys.filterNot(ok)
    if (bad.nonEmpty) {
      System.err.println(s"[scale-growth] SUPER-LINEAR: ${bad.mkString(", ")}")
      sys.exit(1)
    }
  }
}
