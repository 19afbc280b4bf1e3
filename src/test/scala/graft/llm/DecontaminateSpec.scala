package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class DecontaminateSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sf)

  test("fixture decontamination finds planted eval near-dups and no noise") {
    val out = Decontaminate.overlapReport(docs).cache()
    // every eval doc is excluded from the report
    assert(out.filter(col("doc_id") % Decontaminate.EvalMod === 0).count() === 0)
    // the corpus' planted near-dups give a bimodal signal: a few heavy
    // overlaps, everything else zero — no mid-range false positives
    val contaminated = out.filter(col("contaminated")).count()
    assert(contaminated > 0, "expected at least one planted eval near-dup")
    val midRange = out.filter(
      col("overlap_5grams") > 0 && col("overlap_5grams") < 10).count()
    assert(midRange === 0, "random word-soup docs must not partially overlap")
  }

  test("a verbatim eval copy under a train id is flagged") {
    import spark.implicits._
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val fixture = Seq(
      (0L, evalText, "en", "s", 0L), // doc_id % 97 == 0 → eval
      (1L, evalText, "en", "s", 0L), // verbatim leak
      (2L, "totally different words entirely unrelated content here", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Decontaminate.overlapReport(fixture)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows(1L), "verbatim eval copy must be contaminated")
    assert(!rows(2L), "unrelated doc must be clean")
  }

  test("eval n-gram set joins as a broadcast (no corpus-wide shuffle)") {
    val plan = Decontaminate.overlapReport(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast join against the eval gram set:\n$plan")
  }

  test("boilerplate census: ratio bounded, flag consistent with ratio") {
    val out = Decontaminate.boilerplateCensus(docs).cache()
    assert(out.count() === docs.count())
    assert(out.filter(
      col("boilerplate_ratio") < 0 || col("boilerplate_ratio") > 1).count() === 0)
    assert(out.filter(
      col("boilerplate_heavy") =!=
        (col("boilerplate_ratio") > Decontaminate.BoilerplateHeavyRatio))
      .count() === 0)
    // a threshold of 5% docs must flag SOMETHING in a small-vocab corpus
    assert(out.agg(sum("boilerplate_2grams")).head().getLong(0) > 0)
  }

  test("source overlap: a cloned source scores jaccard 1 against its twin") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "srcA", 0L),
      (2L, "alpha beta gamma delta epsilon", "en", "srcB", 0L), // clone of A
      (3L, "totally different content here now", "en", "srcC", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Decontaminate.sourceOverlap(fixture)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(rows(("srcA", "srcB")) === 1.0, "clone sources must overlap fully")
    assert(!rows.contains(("srcA", "srcC")),
      "disjoint sources share no grams and emit no row")
  }

  test("source overlap on the corpus: jaccard bounded, pairs ordered") {
    val out = Decontaminate.sourceOverlap(docs).cache()
    assert(out.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() === 0)
    assert(out.filter(col("source_a") >= col("source_b")).count() === 0)
    graft.core.Caches.releaseScratch(spark)
  }

  test("source minhash sketch: estimator law holds, error inside the sketch bound") {
    val out = Decontaminate.sourceMinhashAudit(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    // every sharing pair of the 20 sources appears (this corpus: all)
    assert(out.length === 20 * 19 / 2)
    out.foreach { r =>
      val (m, est, exact, err) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(est === m * 1000000L / 64L, s"estimator law: $r")
      assert(err === math.abs(est - exact), s"error column law: $r")
      assert(exact > 0L && exact <= 1000000L, s"exact range: $r")
      // 64-slot minhash: sd = sqrt(J(1-J)/64) <= 0.0625; 5 sd = 312500 ppm
      assert(err <= 312500L, s"sketch error outside 5 sigma: $r")
    }
  }

  test("boilerplate census releases its scratch persist") {
    graft.core.Caches.releaseScratch(spark)
    Decontaminate.boilerplateCensus(docs).count()
    assert(graft.core.Caches.pendingScratch(spark) > 0)
    graft.core.Caches.releaseScratch(spark)
    assert(graft.core.Caches.pendingScratch(spark) === 0)
  }
}
