package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class DatasheetSpec extends SparkSpecBase {

  test("datasheet metrics reconcile with their source computations") {
    val m = Datasheet.datasheet(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.core.Caches.releaseScratch(spark)
    val docs = Tables.documents(spark, sf)
    assert(m("01_docs") === docs.count())
    assert(m("02_sources") ===
      docs.select("source").distinct().count())
    assert(m("03_langs") === docs.select("lang").distinct().count())
    assert(m("04_chars_total") ===
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    assert(m("07_tokens_per_doc_ppm") ===
      m("05_tokens_total") * 1000000L / m("01_docs"))
    assert(m("06_vocab_size") <= m("05_tokens_total"))
    // near-dup doc count equals the cluster frame's membership
    assert(m("09_neardup_docs") === DupClusters.dupClusters(spark, sf).count())
    // exact dups are a subset of docs and pair up (>= 2 per group or 0)
    assert(m("08_exact_dup_docs") <= m("01_docs"))
    assert(m("08_exact_dup_docs") === 0L || m("08_exact_dup_docs") >= 2L)
  }

  test("q301 loo influence: deltas re-derivable, lang shift bounded") {
    val docs = graft.core.Tables.documents(spark, sf)
    val out = Datasheet.looCorpusInfluence(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val n = docs.count()
    val s = docs.agg(org.apache.spark.sql.functions.sum("n_chars"))
      .collect()(0).getLong(0)
    out.foreach { case (_, nd, allM, woM, delta, shift) =>
      assert(allM === s * 1000 / n)
      assert(delta === woM - allM)
      assert(shift >= 0L && shift <= 1000000L)
      assert(nd < n, "no source may own the whole corpus")
    }
  }

  test("q303 hoeffding screen: small sources get wide bands") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val out = Datasheet.hoeffdingScreen(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    // epsilon shrinks as 1/sqrt(n): any strictly larger source has a
    // strictly smaller band
    for ((_, na, ea) <- out; (_, nb, eb) <- out if na < nb)
      assert(ea > eb, s"eps must shrink with n: ($na,$ea) vs ($nb,$eb)")
    // a planted far-out small source breaches even its wide band
    val synth = ((1 to 50).map(i => (i.toLong, "t", "en", "bulk", 300L))
      ++ (51 to 55).map(i => (i.toLong, "t", "en", "outlier", 5000L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flags = Datasheet.hoeffdingScreen(synth).collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(!flags("outlier"), "planted outlier must breach the bound")
    assert(flags("bulk"))
  }
}
