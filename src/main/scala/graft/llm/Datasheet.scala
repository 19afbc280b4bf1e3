package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** q220: the corpus datasheet — the "datasheet for datasets" headline
  * block every corpus release ships: size, composition, vocabulary,
  * and duplication health, as ONE (metric, value) relation so a
  * release gate can diff two corpus snapshots row by row. Composes the
  * engine's existing passes (normalized tokens, exact-hash dedup, the
  * memoized near-dup closure) rather than re-deriving them.
  *
  * Scale shape: every metric is a map-side-combinable aggregate or a
  * reuse of a pair-graph-sized memoized frame; the union glues 1-row
  * frames. Values are exact int64 (the one ratio ships in ppm).
  */
object Datasheet {

  private def norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  def datasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nd = docs.select(col("doc_id"), norm.as("norm"), col("source"),
      col("lang"), col("n_chars"))
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col("value").cast("long").as("value"))

    val base = nd.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("chars_total"))
    val toks = nd
      .select(explode(split(col("norm"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .agg(count(lit(1)).as("tokens_total"),
        countDistinct(col("token")).as("vocab_size"))
    // docs sharing an exact normalized-content hash with another doc
    val exactDups = nd.groupBy(md5(col("norm")).as("f"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .agg(coalesce(sum(col("c")), lit(0L)).as("value"))
    // docs inside any near-dup cluster (memoized closure frame)
    val nearDups = DupClusters.dupClusters(spark, dir)
      .agg(count(lit(1)).as("value"))

    val wide = base.crossJoin(toks)
    one("01_docs", wide.select(col("n_docs").as("value")))
      .unionByName(one("02_sources", wide.select(col("n_sources").as("value"))))
      .unionByName(one("03_langs", wide.select(col("n_langs").as("value"))))
      .unionByName(one("04_chars_total", wide.select(col("chars_total").as("value"))))
      .unionByName(one("05_tokens_total", wide.select(col("tokens_total").as("value"))))
      .unionByName(one("06_vocab_size", wide.select(col("vocab_size").as("value"))))
      .unionByName(one("07_tokens_per_doc_ppm",
        wide.select(expr("tokens_total * 1000000 div n_docs").as("value"))))
      .unionByName(one("08_exact_dup_docs", exactDups))
      .unionByName(one("09_neardup_docs", nearDups))
      .orderBy(col("metric").asc)
  }

  /** q301: LEAVE-ONE-SOURCE-OUT CORPUS-STAT INFLUENCE — for every
    * source, how the corpus-level datasheet numbers MOVE if that source
    * is dropped: the without-it mean document length (and its signed
    * delta, a subtraction so both engines agree on negatives) and the
    * total-variation shift of the LANGUAGE mix. This is the jackknife
    * companion to q288's LM-support valuation: q288 asks "is this
    * source's content explainable by the rest", this asks "does removing
    * it change what the corpus IS" — the number a curation owner checks
    * before cutting a source. All leave-one-out statistics come from ONE
    * pass by sufficient-statistic subtraction; no per-source rescan.
    *
    * Scale shape: one (source, lang) census; everything after runs on
    * that |sources|·|langs| frame. */
  def looCorpusInfluence(docs: DataFrame): DataFrame = {
    val cells = graft.core.Caches.scratch(
      docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("nc"), sum(col("n_chars")).as("sc")))
    val perSource = cells.groupBy(col("source"))
      .agg(sum(col("nc")).as("n_s"), sum(col("sc")).as("s_s"))
    val tot = perSource.agg(sum(col("n_s")).as("n"), sum(col("s_s")).as("s"))
    val langTot = cells.groupBy(col("lang")).agg(sum(col("nc")).as("nl"))
    // TV of the lang mix with/without the source: per (source, lang),
    // |share_all − share_wo| over the zero-filled grid
    val grid = perSource.select(col("source"), col("n_s"))
      .crossJoin(broadcast(langTot))
    val shift = grid
      .join(cells.select(col("source"), col("lang"), col("nc")),
        Seq("source", "lang"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("c", coalesce(col("nc"), lit(0L)))
      .withColumn("d", expr("abs(nl * 1000000 div n - "
        + "(nl - c) * 1000000 div (n - n_s))"))
      .groupBy(col("source")).agg(expr("sum(d) div 2").cast("long")
        .as("langmix_shift_ppm"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s").cast("long").as("n_docs"),
        expr("s * 1000 div n").cast("long").as("mean_all_milli"),
        expr("(s - s_s) * 1000 div (n - n_s)").cast("long")
          .as("mean_wo_milli"))
      .withColumn("delta_milli",
        (col("mean_wo_milli") - col("mean_all_milli")).cast("long"))
      .join(shift, Seq("source"))
      .orderBy(col("source").asc)
  }

  /** q303: HOEFFDING SAMPLING-ERROR SCREEN — is each source's mean doc
    * length within the distribution-free sampling-error band of the
    * corpus mean? ε = (hi − lo)·√(ln(2/δ)/(2n)) at δ = 0.05 is the
    * Hoeffding bound for a bounded variable; a source outside the band
    * differs by MORE than chance could explain even adversarially — the
    * screen that separates "this source is genuinely different" from
    * "this source is just small". ln(2/δ) enters as a fixed full-
    * precision literal (the q282 Benford-constant discipline); the only
    * floating ops are one IEEE division, one correctly-rounded sqrt and
    * two multiplies, spelled identically in both engines and floored.
    *
    * Scale shape: one linear moment pass; the corpus bounds arrive
    * broadcast; output is |sources| rows. */
  def hoeffdingScreen(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"))
    val tot = docs.agg(sum(col("n_chars")).as("s"), count(lit(1)).as("nt"),
      min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        expr("sx * 1000 div n").cast("long").as("mean_milli"),
        expr("s * 1000 div nt").cast("long").as("corpus_mean_milli"),
        floor((col("hi") - col("lo")).cast("double")
          * sqrt(lit(3.6888794541139363) / (lit(2.0) * col("n")))
          * lit(1000.0)).cast("long").as("eps_milli"))
      .withColumn("within_bound",
        abs(col("mean_milli") - col("corpus_mean_milli")) <= col("eps_milli"))
      .orderBy(col("source").asc)
  }
}
