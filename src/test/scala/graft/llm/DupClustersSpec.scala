package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class DupClustersSpec extends SparkSpecBase {

  test("chain and clique resolve to min-id components; singletons excluded") {
    import spark.implicits._
    // component {1,2,3} as a chain (needs 2 propagation rounds),
    // component {10,11} as a pair; doc 99 appears in no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = DupClusters.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq(
      (1L, 1L, true), (1L, 2L, false), (1L, 3L, false),
      (10L, 10L, true), (10L, 11L, false)))
  }

  test("propagation crosses long chains (diameter > 2)") {
    import spark.implicits._
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val out = DupClusters.connectedComponents(chain)
    assert(out.select(countDistinct(col("cluster_id"))).head().getLong(0) === 1L)
    assert(out.filter(col("is_canonical")).head().getLong(1) === 1L)
  }

  test("corpus minhash pairs resolve to clusters consistent with the pair graph") {
    val pairs = TextDedup.minhashNearDups(Tables.documents(spark, sf))
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val clusters = DupClusters.connectedComponents(pairs)
    // every paired doc gets exactly one cluster row
    assert(clusters.count() === members.count())
    // both endpoints of every pair share a cluster
    val lab = clusters.select(col("doc_id"), col("cluster_id"))
    val crossing = pairs
      .join(lab.toDF("doc_a", "ca"), "doc_a")
      .join(lab.toDF("doc_b", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb")).count()
    assert(crossing === 0L, s"$crossing pairs span two clusters")
    // exactly one canonical per cluster, and it is the min member
    val bad = clusters.groupBy(col("cluster_id"))
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("ncanon"),
        min(col("doc_id")).as("minid"))
      .filter(col("ncanon") =!= 1 || col("minid") =!= col("cluster_id"))
      .count()
    assert(bad === 0L)
  }

  test("best-of-cluster keeps the max-quality member with min-id tiebreak") {
    import org.apache.spark.sql.functions._
    val best = DupClusters.bestOfClusters(spark, sf).collect()
    val clusters = DupClusters.dupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val quality = TextStats.qualityScore(graft.core.Tables.documents(spark, sf))
      .select("doc_id", "quality").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("quality")).toMap
    val byCluster = clusters.groupBy(_._2)
    assert(best.length === byCluster.size)
    best.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = byCluster(cid).map(_._1)
      assert(r.getAs[Long]("n_members") === members.length)
      val expected = members.map(d => (quality(d), d)).sortBy { case (q, d) => (-q, d) }.head._2
      assert(r.getAs[Long]("kept_doc") === expected,
        s"cluster $cid kept ${r.getAs[Long]("kept_doc")} expected $expected")
    }
  }

  test("cross-lingual census accounts every near-dup pair exactly once") {
    val nPairs = TextDedup.minhashNearDups(spark, sf).count()
    val census = DupClusters.crossLingualDups(spark, sf).collect()
    assert(census.map(_.getAs[Long]("n_pairs")).sum === nPairs)
    census.foreach { r =>
      val (lo, hi) = (r.getString(0), r.getString(1))
      assert(lo <= hi, s"unordered key not canonical: $r")
      assert(r.getAs[Boolean]("is_cross") === (lo != hi))
    }
  }

  test("cluster size histogram conserves clusters and docs") {
    val clusters = DupClusters.dupClusters(spark, sf)
    val hist = DupClusters.clusterSizeHistogram(spark, sf).collect()
    assert(hist.map(_.getAs[Long]("n_docs")).sum === clusters.count())
    assert(hist.map(_.getAs[Long]("n_clusters")).sum ===
      clusters.select("cluster_id").distinct().count())
    hist.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2L, s"singleton in histogram: $r")
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
  }

  test("survivorship census reconciles with the keep list per source") {
    val out = DupClusters.survivorshipBySource(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = Tables.documents(spark, sf)
    val keep = DupClusters.dedupKeepList(spark, sf)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val perSrc = keep.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === perSrc.keySet)
    out.foreach { case (src, r) =>
      val (n, k) = perSrc(src)
      assert(r.getAs[Long]("n_docs") === n, s"$src docs")
      assert(r.getAs[Long]("n_kept") === k, s"$src kept")
      assert(r.getAs[Long]("n_absorbed") === n - k, s"$src absorbed")
      assert(r.getAs[Long]("absorbed_cross") <= r.getAs[Long]("n_absorbed"))
      assert(r.getAs[Long]("absorbed_ppm") === (n - k) * 1000000L / n)
    }
    // the fixture plants cross-source templates: the audit must see them
    assert(out.values.map(_.getAs[Long]("absorbed_cross")).sum > 0L,
      "no cross-source absorption detected on the template corpus")
  }

  test("cluster dilution reconciles with clusters and verified pairs") {
    val out = DupClusters.clusterDilution(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty, "no clusters on the sf corpus")
    out.foreach { r =>
      val (k, nc, dp, tp, ppm) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tp === nc * (k * (k - 1) / 2), s"implied pairs for size $k")
      // a connected size-k cluster needs >= k-1 direct pairs (a spanning
      // tree) and can't exceed the implied count
      assert(dp >= nc * (k - 1), s"too few direct pairs for size $k")
      assert(dp <= tp, s"direct exceeds implied for size $k")
      assert(ppm === dp * 1000000L / tp)
    }
    // every verified pair lands in exactly one cluster row
    val totalDirect = out.map(_.getLong(2)).sum
    val nPairs = TextDedup.minhashNearDups(spark, sf).count()
    graft.core.Caches.releaseScratch(spark)
    assert(totalDirect === nPairs, "pair census does not reconcile")
    // cluster size census agrees with the cluster frame itself
    val sizes = DupClusters.dupClusters(spark, sf)
      .groupBy(col("cluster_id")).count()
      .groupBy(col("count")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === sizes)
  }

  test("q318 B-cubed: hand-computed fixture and sf-corpus bounds") {
    import spark.implicits._
    // docs 1..6; system clusters {1,2} {3,4}; reference cluster {1,2,3};
    // 4,5,6 reference singletons, 5,6 system singletons.
    val docs = (1L to 6L).toDF("doc_id")
    val sys = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    val ref = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val r = DupClusters.bcubedEval(docs, sys, ref).collect()(0)
    // per-doc precision: 1,1,.5,.5,1,1 -> cell-weighted floor sum 5e6/6
    assert(r.getAs[Long]("n_docs") === 6L)
    assert(r.getAs[Long]("b3_precision_ppm") === 833333L)
    // per-doc recall: 2/3,2/3,1/3,1,1,1 -> (2*666666+333333+3e6)/6
    assert(r.getAs[Long]("b3_recall_ppm") === 777777L)
    assert(r.getAs[Long]("b3_f1_ppm") ===
      2L * 833333L * 777777L / (833333L + 777777L))
    // sf corpus: averages bounded, doc conservation, F1 between P and R
    val c = DupClusters.bcubedEval(spark, sf).collect()(0)
    graft.core.Caches.releaseScratch(spark)
    assert(c.getAs[Long]("n_docs") === Tables.documents(spark, sf).count())
    val (p, rc, f1) = (c.getAs[Long]("b3_precision_ppm"),
      c.getAs[Long]("b3_recall_ppm"), c.getAs[Long]("b3_f1_ppm"))
    assert(p > 0L && p <= 1000000L)
    assert(rc > 0L && rc <= 1000000L)
    assert(f1 >= math.min(p, rc) - 1 && f1 <= math.max(p, rc))
  }

  test("q326 ARI: identical clusterings score 1e6; fixture is exact") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val sys = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    val ref = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val same = DupClusters.adjustedRand(docs, sys, sys).collect()(0)
    assert(same.getAs[Long]("ari_ppm") === 1000000L)
    // hand contingency: I=1, A=2, B=3, T=15 -> 2*(15-6)/(75-12)=18/63
    val r = DupClusters.adjustedRand(docs, sys, ref).collect()(0)
    assert(r.getAs[Long]("pairs_both") === 1L)
    assert(r.getAs[Long]("pairs_sys") === 2L)
    assert(r.getAs[Long]("pairs_gold") === 3L)
    assert(r.getAs[Long]("pairs_total") === 15L)
    assert(r.getAs[Long]("ari_ppm") === 285714L)
    // sf corpus: both-pairs bounded by each marginal; index inside [-1,1]
    val c = DupClusters.adjustedRand(spark, sf).collect()(0)
    graft.core.Caches.releaseScratch(spark)
    assert(c.getAs[Long]("pairs_both") <= c.getAs[Long]("pairs_sys"))
    assert(c.getAs[Long]("pairs_both") <= c.getAs[Long]("pairs_gold"))
    assert(c.getAs[Long]("ari_ppm") >= -1000000L &&
      c.getAs[Long]("ari_ppm") <= 1000000L)
  }

  test("q329 weighted mass: conservation, bounds, clean-source identity") {
    val docs = Tables.documents(spark, sf)
    val out = DupClusters.dupWeightedMass(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.map(_.getLong(1)).sum === docs.count())
    out.foreach { r =>
      val (raw, w, ret) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(w <= raw * 1000000L, "weighting can only shrink mass")
      assert(ret === w / raw)
      assert(ret > 0L && ret <= 1000000L)
    }
    // sources with no clustered doc must retain exactly 1e6
    val dupSources = docs
      .join(DupClusters.dupClusters(spark, sf).select(col("doc_id")),
        Seq("doc_id"))
      .select(col("source")).distinct()
      .collect().map(_.getString(0)).toSet
    graft.core.Caches.releaseScratch(spark)
    out.filterNot(r => dupSources(r.getString(0))).foreach { r =>
      assert(r.getLong(4) === 1000000L,
        s"clean source ${r.getString(0)} must keep all mass")
    }
  }

  test("q330 dup-score AUC matches the brute-force pair count") {
    val out = DupClusters.dupScoreAuc(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.length === 1)
    val r = out(0)
    val (n1, n0, u2, auc) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    // brute force over the collected (score, label) frame
    val dupIds = DupClusters.dupClusters(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val scored = graft.llm.TextStats
      .docLmScore(Tables.documents(spark, sf))
      .select(col("doc_id"), col("lm_score_ppm")).collect()
      .map(row => (row.getLong(1), dupIds(row.getLong(0))))
    graft.core.Caches.releaseScratch(spark)
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(n1 === pos.length.toLong && n0 === neg.length.toLong)
    val bruteU2 = (for (p <- pos; q <- neg) yield {
      if (p > q) 2L else if (p == q) 1L else 0L
    }).sum
    assert(u2 === bruteU2, "rank-sum U must equal the pair count")
    assert(auc === bruteU2 * 1000000L / (2L * n1 * n0))
    assert(auc >= 0L && auc <= 1000000L)
  }

  test("reference closure only admits hamming <= 1 simhash pairs") {
    val refDocs = DupClusters.simClustersFor(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val tight = TextDedup.simhashNearDups(Tables.documents(spark, sf))
      .filter(col("hamming") <= DupClusters.SimRefHammingMax)
    val tightDocs = tight.select(col("doc_a")).collect().map(_.getLong(0))
      .toSet ++ tight.select(col("doc_b")).collect().map(_.getLong(0)).toSet
    graft.core.Caches.releaseScratch(spark)
    assert(refDocs === tightDocs,
      "reference closure must cover exactly the tight simhash pair nodes")
  }
}
