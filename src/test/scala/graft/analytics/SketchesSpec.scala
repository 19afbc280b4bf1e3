package graft.analytics

import graft.SparkSpecBase

class SketchesSpec extends SparkSpecBase {

  test("kmv sketch: audit rows per type + merged, estimate within sketch error") {
    val out = Sketches.kmvDistinct(spark, sf).collect()
    val types = out.map(_.getString(0)).toSeq
    assert(types.contains("_all"), "union-merged row missing")
    assert(types.distinct.size === types.size)
    out.foreach { r =>
      val (k, kth, est, nTrue, err) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(k === 64L)
      assert(nTrue > 0L && est > 0L)
      assert(err === math.abs(est - nTrue) * 1000000L / nTrue)
      if (nTrue >= k) assert(kth > 0L, s"group with >=k elems lacks kth_min: $r")
      // KMV standard error ~ 1/sqrt(k-1) = 12.6%; 40% is a 3-sigma-ish
      // bound that still fails on a broken estimator (which is off by x10)
      assert(err <= 400000L, s"estimate outside sketch error: $r")
    }
    // the merged truth can never exceed the sum of the per-type truths
    val all = out.find(_.getString(0) == "_all").get.getLong(4)
    val sum = out.filterNot(_.getString(0) == "_all").map(_.getLong(4)).sum
    assert(all <= sum)
  }

  test("kmv sketch: group smaller than k is exact") {
    // sf0.001 types hold ~150 user-days each (>k), so craft the exact
    // case through the public path is impossible — instead pin the
    // CONTRACT on the output: any group whose kth_min is 0 (sketch holds
    // everything) must estimate exactly.
    Sketches.kmvDistinct(spark, sf, k = 1000).collect().foreach { r =>
      assert(r.getLong(2) === 0L, "k=1000 should exceed every group")
      assert(r.getLong(3) === r.getLong(4), s"held-set estimate not exact: $r")
      assert(r.getLong(5) === 0L)
    }
  }

  test("cms heavy hitters: estimate dominates truth, heaviest word recovered") {
    val out = Sketches.cmsHeavyHitters(spark, sf).collect()
    assert(out.length === 10)
    out.foreach { r =>
      val (nTrue, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= nTrue, s"CMS under-estimated (impossible): $r")
      assert(over === (est - nTrue) * 1000000L / nTrue)
    }
    // rows ordered by true count desc; the heaviest word's estimate is
    // bounded by the total token mass (sanity on the bucket counters)
    val totals = out.map(_.getLong(1))
    assert(totals.zip(totals.tail).forall { case (a, b) => a >= b })
  }

  test("cms read-back equals a direct per-word bucket recount") {
    import org.apache.spark.sql.functions._
    val out = Sketches.cmsHeavyHitters(spark, sf).collect()
    // independently recount one word's d buckets with plain aggregations
    val word = out.head.getString(0)
    val docs = graft.core.Tables.documents(spark, sf)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val words = docs.select(explode(split(norm, " ")).as("w"))
      .filter(length(col("w")) > 0)
    val est = (0 until 4).map { i =>
      val bucket = words
        .select((conv(substring(md5(concat(lit(s"$i#"), col("w"))), 1, 12), 16, 10)
          .cast("long") % 16).as("b"),
          col("w"))
      val wb = bucket.filter(col("w") === word).select(col("b")).head().getLong(0)
      bucket.filter(col("b") === wb).count()
    }.min
    assert(out.head.getLong(2) === est, "min-over-rows read-back mismatch")
  }
}
