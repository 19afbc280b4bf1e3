package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class SimilaritySpec extends SparkSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("exact knn: self excluded, k per query, cosine within [-1, 1]") {
    val out = Similarity.knnExact(emb).cache()
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
    val perQuery = out.groupBy("query_id").count()
    assert(perQuery.filter(col("count") =!= 5).count() === 0)
    assert(out.filter(abs(col("cos")) > 1.000000001).count() === 0)
  }

  test("label consistency: geometry-aligned labels agree fully, census conserves vectors") {
    import spark.implicits._
    // Two antipodal clusters whose labels FOLLOW the geometry: every
    // vector's sign signature equals its cluster's, so LSH buckets are
    // label-pure — agreement must be exactly 1e6 with zero suspects.
    val vecs = (0L until 20L).map { i =>
      val lab = (i % 2).toInt
      val s = if (lab == 0) 1.0f else -1.0f
      val jitter = 0.01f * (i / 2)
      (i, Array(s, s + jitter, s, s - jitter), lab)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.labelConsistency(vecs).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getLong(1) === 10L)
      assert(r.getLong(2) === 0L, s"isolated vectors in a pure cluster: $r")
      assert(r.getLong(4) === 1000000L, s"agreement below 1e6: $r")
      assert(r.getLong(5) === 0L, s"suspects in label-pure buckets: $r")
    }
  }

  test("label consistency over the corpus: conservation and bounds") {
    val out = Similarity.labelConsistency(emb).cache()
    assert(out.agg(sum("n_vecs")).head().getLong(0) === emb.count())
    graft.core.Caches.releaseScratch(spark)
    val bad = out.filter(col("agreement_ppm") > 1000000 ||
      col("n_suspect") > col("n_vecs") || col("n_isolated") > col("n_vecs"))
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("lsh knn: results come from a reduced candidate set with useful recall") {
    val exact = Similarity.knnExact(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.knnLsh(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    // sign-LSH on weakly-clustered vectors: recall well above the ~10%
    // random-candidate floor demonstrates the buckets carry signal
    assert(recall >= 0.2, s"recall@5 = $recall")

    // bucketing actually prunes: candidate pairs << all pairs
    val n = emb.count()
    val cand = Similarity.similarPairs(emb, minCosine = -2.0).count()
    assert(cand < n * (n - 1) / 2 / 2, s"candidates $cand vs all-pairs ${n * (n - 1) / 2}")
  }

  test("ivf knn: probes prune the corpus yet keep useful recall") {
    val exact = Similarity.knnExact(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // 2 of 10 cells probed → ~20% of the corpus scanned; recall must beat
    // the random-candidate floor
    assert(recall >= 0.2, s"ivf recall@5 = $recall")
    assert(ivf.size === exact.size) // full k returned per query
  }

  test("ann recall audit agrees with the set-based recall per method") {
    val audit = Similarity.annRecallAudit(emb).collect()
    assert(audit.length === 5 * 10, s"5 methods x 10 queries expected: ${audit.length}")
    audit.foreach { r =>
      val (k, hits, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(k === 5L && hits >= 0L && hits <= k, s"bad audit row: $r")
      assert(ppm === hits * 1000000L / k, s"ppm not exact: $r")
    }
    // cross-check one method against the independently computed set recall
    val exact = Similarity.knnExact(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfHits = audit.filter(_.getString(0) == "ivf").map(_.getLong(3)).sum
    assert(ivfHits === exact.intersect(ivf).size.toLong,
      s"audit ivf hits $ivfHits != set recall ${exact.intersect(ivf).size}")
    // int8 quantization loses little: the documented >= 0.8 recall contract
    val int8Hits = audit.filter(_.getString(0) == "int8").map(_.getLong(3)).sum
    assert(int8Hits >= (0.8 * exact.size).toLong, s"int8 recall too low: $int8Hits")
    // PQ contracts: the 16x-compressed ADC ranking is honest-but-lossy on
    // this isotropic synthetic corpus (PQ's worst case — no cluster
    // structure for the codebook to exploit); the DEPLOYMENT arm is
    // pq_rerank (ADC nominates C=50, exact cosine re-ranks), which meets
    // the same >= 0.8 contract as int8. Re-ranking can only re-order the
    // ADC candidate set with the true metric, so it must also dominate
    // the pure-ADC arm in aggregate.
    val pqHits = audit.filter(_.getString(0) == "pq").map(_.getLong(3)).sum
    val rrHits = audit.filter(_.getString(0) == "pq_rerank").map(_.getLong(3)).sum
    assert(rrHits >= (0.8 * exact.size).toLong, s"pq_rerank recall too low: $rrHits")
    assert(rrHits >= pqHits, s"re-rank lost recall vs pure ADC: $rrHits < $pqHits")
    assert(pqHits > 0L, "pure-ADC arm found nothing — encode/LUT path broken")
  }

  test("kmeans ivf: recall at equal probe budget >= the seed-cell variant") {
    val exact = Similarity.knnExact(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val seedRecall = recallOf(Similarity.knnIvf(emb))
    val kmRecall = recallOf(Similarity.knnIvfKmeans(emb))
    // Lloyd-refined centroids tighten cells: same 2-probe budget must not
    // recall fewer true neighbors than the raw seed quantizer
    assert(kmRecall >= seedRecall,
      s"kmeans recall@5 = $kmRecall < seed recall@5 = $seedRecall")
  }

  test("kmeans cells are deterministic across builds") {
    val a = Similarity.kmeansCells(emb).collect().map(_.toString).sorted
    val b = Similarity.kmeansCells(emb).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("similar pairs honor the cosine threshold symmetrically") {
    val out = Similarity.similarPairs(emb).collect()
    assert(out.forall(_.getAs[Double]("cos") >= 0.45))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("cluster profile: every vector assigned once, purity bounded") {
    val out = Similarity.clusterProfile(emb).cache()
    assert(out.agg(org.apache.spark.sql.functions.sum("n_vectors"))
      .head().getLong(0) === emb.count())
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Long]("purity_bps") >= 0 &&
      r.getAs[Long]("purity_bps") <= 10000))
    assert(rows.forall(r =>
      r.getAs[Double]("min_cos") <= r.getAs[Double]("max_cos")))
    // seeds cluster their own label's vectors: purity must beat chance
    // (10 labels → 1000 bps) on at least one cell
    assert(rows.exists(_.getAs[Long]("purity_bps") > 1000))
  }

  test("vector stats: norms ordered, positives bounded by dim") {
    val out = Similarity.vectorStats(emb).cache()
    assert(out.count() === emb.count())
    import org.apache.spark.sql.functions.col
    assert(out.filter(col("linf") > col("l1")).count() === 0)
    assert(out.filter(col("n_positive") > col("dim")).count() === 0)
    assert(out.filter(col("l1") <= 0).count() === 0, "zero vectors unexpected")
  }

  test("cluster profile broadcasts the quantizer (no corpus self-join)") {
    val plan = Similarity.clusterProfile(emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"seed table not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus-wide cartesian leaked into:\n$plan")
  }

  test("int8-quantized top-k keeps recall >= 0.8 vs full precision") {
    val exact = Similarity.knnExact(Tables.embeddings(spark, sf)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val quant = Similarity.knnQuantized(Tables.embeddings(spark, sf)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall < 0.8")
  }

  test("embedding drift: single-label corpus has cosine ~1; all cosines bounded") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, sf)
    val one = emb.filter(col("label") === lit(emb.select("label").head().get(0)))
    val solo = Similarity.embeddingDrift(one).collect()
    assert(solo.length === 1)
    // sum vec == corpus vec; sqrt(x)*sqrt(x) wobbles the last ulp, so
    // the cosine is deterministic but not algebraically 1
    assert(math.abs(solo(0).getAs[Double]("cos_to_corpus") - 1.0) < 1e-12)
    val all = Similarity.embeddingDrift(emb).collect()
    assert(all.length > 1)
    all.foreach { r =>
      val c = r.getAs[Double]("cos_to_corpus")
      assert(c > -1.0001 && c <= 1.0001, s"cosine out of range: $c")
    }
  }

  test("cluster-balanced sample: k per cell, quality-ordered, deterministic") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val docs = graft.core.Tables.documents(spark, sf)
    val out = Similarity.clusterBalancedSample(emb, docs, k = 5).collect()
    val byCell = out.groupBy(_.getAs[Int]("slabel"))
    // every quantizer cell contributes, none more than k
    assert(byCell.size ===
      emb.select("label").distinct().count().toInt)
    byCell.foreach { case (cell, rows) =>
      assert(rows.length <= 5, s"cell $cell overfull")
      // ranks dense from 1; quality non-increasing along the rank
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to rows.length).toSeq)
      val ordered = rows.sortBy(_.getAs[Int]("rk"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Int]("quality") >= b.getAs[Int]("quality"))
        case _ =>
      }
    }
    // a doc appears at most once (cells partition the corpus)
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length === ids.length)
    // deterministic: a rebuild returns the identical selection
    val again = Similarity.clusterBalancedSample(emb, docs, k = 5).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("cosine histogram: pair conservation per label, deciles in range") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val out = Similarity.cosineHistogram(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // cosine ∈ [-1, 1] ⇒ decile ∈ [-10, 10]
      assert(r.getLong(1) >= -10L && r.getLong(1) <= 10L, s"decile range: $r")
      assert(r.getLong(2) > 0L)
    }
    // Σ pairs per label = n·(n−1)/2 of that label's vectors
    val sizes = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = out.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    got.foreach { case (label, n) =>
      val s = sizes(label)
      assert(n === s * (s - 1) / 2, s"label $label pair count")
    }
  }

  test("pq knn: clustered fixture retrieves same-pattern vectors at ADC 0") {
    import spark.implicits._
    // 64 vectors = 16 distinct patterns × 4 exact copies; the codebook
    // (first 16 vectors) contains every pattern, so copies encode with
    // zero distortion and ADC to a same-pattern query is exactly 0
    // mod 17 (> 16 patterns, coprime): patterns c, c' collide in a
    // subvector iff 5c ≡ 5c' (mod 17) iff c = c' — all 16 distinct in
    // every subspace (mod 13 bit: pattern 13 duplicated pattern 0)
    def pattern(c: Int): Seq[Float] =
      (0 until 64).map(i => ((c * 5 + i * 3) % 17 - 8).toFloat)
    val emb = (0 until 64)
      .map(id => (id.toLong, pattern(id % 16), id % 16))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnPq(emb).collect()
    (0L until 10L).foreach { q =>
      val mine = out.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      // ranks 1-3: the three other exact copies of the query's pattern,
      // ascending id, all at ADC distance 0
      val copies = (0L until 64L).filter(v => v != q && v % 16 == q % 16)
      assert(mine.take(3).map(_.getLong(2)).toSeq === copies.take(3),
        s"query $q same-pattern copies not top-ranked")
      mine.take(3).foreach(r => assert(r.getLong(3) === 0L,
        s"exact copy must sit at ADC 0: $r"))
    }
  }

  test("pq knn vs exact L2: compressed scan keeps nonzero recall on sf data") {
    // codebookSize = corpus size makes every vector its own nearest
    // codeword (zero distortion), so knnPq degenerates to EXACT int8 L2 —
    // the uncompressed reference the compressed scan is measured against
    val emb = graft.core.Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val exact = Similarity.knnPq(emb, codebookSize = n).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.knnPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size === exact.size)
    val overlap = (pq & exact).size
    // PQ on unclustered synthetic vectors is the distance-concentration
    // worst case — recall is legitimately modest; the floor documents
    // "far better than random" (random ≈ k/n), not production quality
    assert(overlap * 10 >= pq.size,
      s"recall collapsed to noise: $overlap of ${pq.size}")
  }

  test("rrf fusion: scores are the exact sum of reciprocal-rank contributions") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val ra = Similarity.knnExact(emb, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val rb = Similarity.knnQuantized(emb, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val fused = Similarity.rrfFusion(emb).collect()
    assert(fused.nonEmpty)
    fused.foreach { row =>
      val key = (row.getLong(0), row.getLong(2))
      val expect =
        ra.get(key).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        rb.get(key).map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(row.getLong(3) === expect, s"score for $key")
      assert(expect > 0L, "fused result must come from at least one list")
    }
    fused.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 5), s"ranks for query $q")
    }
  }

  test("quant-error census: residuals bounded by half a step, counts conserve") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val out = Similarity.quantErrorCensus(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 10, s"bucket out of range: $r")
      assert(r.getLong(2) <= 500000L, s"residual beyond half a step: $r")
      assert(r.getLong(2) >= r.getInt(0) * 50000L, s"ppm below its bucket floor: $r")
    }
    assert(out.map(_.getLong(1)).sum === emb.count())
  }

  test("quant-error census: hand-built vectors land in the right buckets") {
    import spark.implicits._
    // scale = 127: elements are integers in step units -> residual 0
    val exact = (1L, "a", Array(127.0f, 64.0f, 0.0f))
    // scale = 127: 63.5 sits exactly between steps -> residual 0.5
    val worst = (2L, "a", Array(127.0f, 63.5f, 0.0f))
    val df = Seq(exact, worst).toDF("vec_id", "label", "embedding")
    val out = Similarity.quantErrorCensus(df).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(0 -> 1L, 10 -> 1L))
  }

  test("matryoshka recall: full dim is perfect, recall never exceeds 1, monotone-ish") {
    val out = Similarity.matryoshkaRecall(emb).collect()
    assert(out.length === 4 * 10, "4 dims x 10 queries")
    out.foreach { r =>
      assert(r.getLong(2) === 5L, s"k drifted: $r")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 5L, s"hits out of range: $r")
      assert(r.getLong(4) === r.getLong(3) * 1000000L / 5L, s"ppm law: $r")
    }
    // the d = 64 arm IS the truth ranking: recall exactly 1 everywhere
    assert(out.filter(_.getLong(0) == 64L).forall(_.getLong(3) === 5L),
      "full-dim arm must reproduce the exact top-k")
    // averaged over queries, more dims never hurt on this corpus
    val mean = out.groupBy(_.getLong(0)).view
      .mapValues(rs => rs.map(_.getLong(3)).sum).toMap
    assert(mean(8L) <= mean(32L) && mean(32L) <= mean(64L),
      s"recall curve not monotone over dims: $mean")
  }

  test("contrastive mining: hard negatives capped per anchor, harder than easy") {
    val out = Similarity.contrastiveMiningCensus(emb).collect()
      .map(r => r.getString(0) -> r).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out.keySet === Set("positive", "hard_negative", "easy_negative"))
    val hard = out("hard_negative")
    // every anchor that has easy negatives first filled its hard-k quota
    assert(hard.getLong(1) === hard.getLong(2) * 8L,
      s"hard negatives not exactly k per contributing anchor: $hard")
    // mining ordering: hard negatives are by construction the highest-
    // cosine different-label candidates, so their mean dominates easy's
    assert(hard.getLong(3) > out("easy_negative").getLong(3),
      "hard negatives not harder (higher-cos) than easy ones")
    // positives are same-label: re-derive their count from the banded
    // candidate set independently
    val sigs = Similarity.signatures(emb)
    val bands = sigs.select(col("vec_id"),
      explode(expr("transform(sequence(0, 3), b -> " +
        "struct(b AS band, shiftright(sig, CAST(b * 4 AS INT)) & 15 AS bval))")).as("e"))
      .select(col("vec_id"), col("e.band"), col("e.bval"))
    val labels = emb.select(col("vec_id"), col("label"))
    val nPos = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y")).distinct()
      .join(labels.select(col("vec_id").as("x"), col("label").as("lx")), Seq("x"))
      .join(labels.select(col("vec_id").as("y"), col("label").as("ly")), Seq("y"))
      .filter(col("lx") === col("ly")).count()
    graft.core.Caches.releaseScratch(spark)
    assert(out("positive").getLong(1) === nPos)
  }

  test("semantic leakage: candidates respect the split carve, censuses conserve") {
    val out = Similarity.semanticLeakage(emb).collect()
    assert(out.nonEmpty)
    val nEval = emb.filter(col("vec_id") % 7 === 3).count()
    out.foreach { r =>
      val (pairs, tr, ev) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pairs >= tr && pairs >= ev, s"distincts exceed pairs: $r")
      assert(ev <= nEval, s"more eval docs than the carve holds: $r")
      assert(r.getLong(0) >= -10L && r.getLong(0) <= 10L, s"decile range: $r")
    }
    assert(out.map(_.getLong(1)).sum > 0L, "no candidate pairs at all")
  }

  test("q306 label margin: bounds hold and the census is deterministic") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val out = Similarity.labelMargin(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, mean, mn, neg) =>
      assert(n > 0L)
      assert(mn >= -2000000L && mn <= 2000000L, "margin out of cosine range")
      assert(mean >= mn, "mean below the minimum")
      assert(neg <= n)
    }
    val again = Similarity.labelMargin(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.map(r => (r._1, r._3)).toSeq === again.toSeq)
  }

  test("q319 rank quality: bounds, perfect-ranking law, recall consistency") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val out = Similarity.rankQualityAudit(emb).collect()
      .map(r => r.getLong(1) -> (r.getAs[Long]("ap_ppm"),
        r.getAs[Long]("rbo_ppm"))).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out.size === 10, "one row per query")
    // truncated RBO ceiling at k=5, p=0.9: (1e6+9e5+81e4+729e3+6561e2)/10
    val rboMax = 409510L
    out.values.foreach { case (ap, rbo) =>
      assert(ap >= 0L && ap <= 1000000L)
      assert(rbo >= 0L && rbo <= rboMax)
    }
    // identical rankings are the only way to reach the RBO ceiling, and
    // they force AP = 1; AP = 1 is exactly set-equality (recall 1e6)
    out.values.foreach { case (ap, rbo) =>
      if (rbo == rboMax) assert(ap === 1000000L)
    }
    val recalls = Similarity.annRecallAudit(emb).collect()
      .filter(_.getString(0) == "ivf")
      .map(r => r.getLong(1) -> r.getAs[Long]("recall_ppm")).toMap
    graft.core.Caches.releaseScratch(spark)
    out.foreach { case (q, (ap, _)) =>
      assert((ap == 1000000L) === (recalls(q) == 1000000L),
        s"AP=1 must coincide with full recall for query $q")
      assert(ap <= recalls(q),
        s"AP can never exceed recall at the same k for query $q")
    }
  }
}
