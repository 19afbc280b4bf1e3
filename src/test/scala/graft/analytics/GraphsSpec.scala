package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class GraphsSpec extends SparkSpecBase {

  test("triangle census is exact on a crafted graph (K4 + pendant)") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant edge 4-5 (no new triangle)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val out = Graphs.triangleCensus(edges).head()
    assert(out.getAs[Long]("n_nodes") === 5L)
    assert(out.getAs[Long]("n_edges") === 7L)
    assert(out.getAs[Long]("n_triangles") === 4L)
  }

  test("degree-ordered count matches the brute-force closed-wedge count") {
    // deterministic pseudo-random graph (no RNG: hash arithmetic)
    import spark.implicits._
    val n = 40
    val edges = (for {
      u <- 1 to n; v <- (u + 1) to n
      if (u * 7919 + v * 104729) % 5 == 0
    } yield (u.toLong, v.toLong)).toDF("u", "v")
    val got = Graphs.triangleCensus(edges).head().getAs[Long]("n_triangles")
    // brute force: every node triple with all three edges present
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def has(a: Long, b: Long) = e((a min b, a max b))
    val brute = (for {
      a <- 1L to n; b <- (a + 1) to n; c <- (b + 1) to n
      if has(a, b) && has(a, c) && has(b, c)
    } yield 1).size
    assert(got === brute.toLong)
  }

  test("item-item recs: ≤3 per part, weights are true co-order counts") {
    val out = Graphs.itemItemRecs(spark, sf).cache()
    val sizes = out.groupBy("part").count()
    assert(sizes.filter(col("count") > 3).count() === 0)
    // ranks are 1..k and weights non-increasing within a part
    out.collect().groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRk = rows.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq === (1 to byRk.length))
      val ws = byRk.map(_.getAs[Long]("w"))
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    }
    // spot-check one edge weight against the direct co-order count
    val r = out.head()
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val direct = li.filter(col("pk") === r.getLong(0)).select("ok")
      .intersect(li.filter(col("pk") === r.getLong(2)).select("ok")).count()
    assert(r.getAs[Long]("w") === direct)
  }

  test("co-purchase edges ignore duplicate lineitem part entries") {
    import spark.implicits._
    // order 10 lists part 1 twice: no self-edge, single (1,2) edge
    val li = Seq((10L, 1L), (10L, 1L), (10L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val edges = Graphs.coPurchaseEdges(li).collect()
    assert(edges.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("pagerank ppm: hand-traced path graph 1–2–3, three iterations") {
    import spark.implicits._
    // degrees 1,2,1; all-integer update r' = 150000 + (Σ r div deg)·17 div 20:
    //   iter1: (575000, 1850000, 575000)
    //   iter2: (936250, 1127500, 936250)
    //   iter3: (629187, 1741625, 629187)   [563750·17 = 9583750, div 20 floors]
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val out = Graphs.pageRankPpmOf(edges, iters = 3, topK = 10).collect()
    val got = out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1, 2L, 1741625L), (2, 1L, 629187L), (3, 3L, 629187L)))
  }

  test("graph kernels share one memoized pair scaffold per dir") {
    // q93/q104/q109/q115 all start from coPurchasePairs; after running
    // two of them the memo must hold exactly one frame for this dir, and
    // the scaffold must agree with the per-call edge builder
    Graphs.coPurchaseTriangles(spark, sf).collect()
    Graphs.itemItemRecs(spark, sf).collect()
    assert(Graphs.cachedPairCount(spark) >= 1)
    val fromMemo = Graphs.coPurchasePairs(spark, sf)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Graphs.coPurchaseEdges(graft.core.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromMemo === direct)
  }

  test("pagerank ppm on sf data: dense ranks, floor ≥ base mass, deterministic") {
    val a = Graphs.pageRankPpm(spark, sf).collect()
    val b = Graphs.pageRankPpm(spark, sf).collect()
    assert(a.toSeq === b.toSeq) // the loop is restart-identical
    assert(a.map(_.getInt(0)).toSeq === (1 to a.length))
    a.foreach(r => assert(r.getLong(2) >= 150000L))
    val ranks = a.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (x, y) => x >= y })
  }

  test("assortativity: star graph is exactly r = -1, path graph hand-traced") {
    import spark.implicits._
    // star K1,3: hub degree 3, leaves 1 — perfectly disassortative
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val s = Graphs.degreeAssortativityOf(star).head()
    assert(s.getAs[Long]("n_edges") === 3L)
    assert(s.getAs[Long]("r_num") === -s.getAs[Long]("r_den"))
    assert(s.getAs[Long]("r_den") > 0L)
    // path 1-2-3: degrees 1,2,1; directed pairs x=[1,2,2,1], y=[2,1,1,2]
    // n=4 Sx=6 Sxy=2*(2+2)=8 Sxx=10 → num=32-36=-4, den=40-36=4 → r=-1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val p = Graphs.degreeAssortativityOf(path).head()
    assert(p.getAs[Long]("r_num") === -4L)
    assert(p.getAs[Long]("r_den") === 4L)
  }

  test("k-core: pendant chain peels off, core survives, cascade needs rounds") {
    import spark.implicits._
    // K5 (all degrees 4) + pendant chain 5-6-7: k=3 strips 6 and 7
    val g = (for { u <- 1L to 5L; v <- (u + 1) to 5L } yield (u, v)) ++
      Seq((5L, 6L), (6L, 7L))
    val r = Graphs.kCoreCensusOf(g.toDF("u", "v"), k = 3, rounds = 3).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 5L, 10L)))
    // path graph, k=2: each round only exposes the next endpoints —
    // one round is NOT enough, the cascade must iterate to empty
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val p = Graphs.kCoreCensusOf(path, k = 2, rounds = 3).head()
    assert((p.getLong(1), p.getLong(2)) === ((0L, 0L)))
    val oneRound = Graphs.kCoreCensusOf(path, k = 2, rounds = 1).head()
    assert(oneRound.getLong(2) === 1L, "round 1 alone leaves the middle edge")
  }

  test("converged pagerank: true fixpoint — more iteration budget changes nothing") {
    import spark.implicits._
    // K3 triangle: regular graph, so the uniform mass IS the fixpoint —
    // contrib sum per node = 2·(10⁶ div 2) and 150000 + (10⁶·17) div 20
    // = 10⁶ again. (A 3-node PATH, by contrast, never reaches an exact
    // fixpoint — the floor arithmetic drifts on irregular tiny graphs;
    // oracle consistency there comes from the per-round fixpoint test
    // never firing on a cycle, so the loop runs to the same r_maxIters
    // the unrolled oracle evaluates.)
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val a = Graphs.pageRankConvergedPpmOf(k3, 10, 64).collect().toSeq
    assert(a.map(_.getLong(2)).forall(_ === 1000000L), s"K3 not uniform: $a")
    assert(a === Graphs.pageRankConvergedPpmOf(k3, 10, 128).collect().toSeq)
    // sf data reaches an exact fixpoint (26 rounds at sf0.001): the
    // result must be invariant to the iteration budget and to the
    // check-block size, deterministic, dense-ranked, non-increasing.
    val x = Graphs.pageRankConvergedPpm(spark, sf).collect()
    val y = Graphs.pageRankConvergedPpm(spark, sf, maxIters = 128).collect()
    assert(x.toSeq === y.toSeq, "sf fixpoint depends on maxIters")
    assert(x.map(_.getInt(0)).toSeq === (1 to x.length))
    val ranks = x.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (p, q) => p >= q })
    graft.core.Caches.releaseScratch(spark)
  }

  test("k-core peel census: rounds consecutive, removals conserve the node count") {
    import spark.implicits._
    // path graph at k=2 dissolves endpoint-pair by endpoint-pair: the
    // census is the per-round cascade record, and when the core empties
    // the removal column must sum to |V|.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val census = Graphs.kCorePeelCensusOf(spark, path, k = 2, maxRounds = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(census === Seq((1L, 2L), (2L, 2L)), s"got $census")
    // sf data at the q228 default: cascade empties the graph, so the
    // census conserves the corpus node count and rounds are 1..R
    val sfCensus = Graphs.kCorePeelCensus(spark, sf).collect()
    assert(sfCensus.map(_.getLong(0)).toSeq ===
      (1L to sfCensus.length.toLong).toSeq, "rounds not consecutive")
    val nNodes = Graphs.coPurchasePairs(spark, sf)
      .select(org.apache.spark.sql.functions.col("u").as("n"))
      .unionByName(Graphs.coPurchasePairs(spark, sf)
        .select(org.apache.spark.sql.functions.col("v").as("n")))
      .distinct().count()
    assert(sfCensus.map(_.getLong(1)).sum === nNodes,
      "peel census does not conserve the node count")
    graft.core.Caches.releaseScratch(spark)
  }

  test("association rules: hand-traced confidence, support, and lift") {
    import spark.implicits._
    // orders: 1..3 contain {A=10, B=20}; 4 contains {A} only.
    //   w(A,B)=3, orders_A=4, orders_B=3, n_orders=4
    //   A→B: conf 750000, supp 750000, lift (3·4·1e6)//(4·3) = 1000000
    //   B→A: conf 1000000, supp 750000, lift 1000000
    val op = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (1L, 20L), (2L, 20L), (3L, 20L)).toDF("ok", "pk")
    val pairs = Seq((10L, 20L, 3L)).toDF("u", "v", "w")
    val rules = Graphs.associationRulesOf(pairs, op, minW = 3L, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(rules === Seq(
      (20L, 10L, 3L, 1000000L, 750000L, 1000000L),
      (10L, 20L, 3L, 750000L, 750000L, 1000000L)))
    graft.core.Caches.releaseScratch(spark)
  }

  test("cheapest paths: hand-traced weighted distances, budget invariance") {
    import spark.implicits._
    // path 1-(w2)-2-(w1)-3: costs 500000, 1000000; src = min id = 1
    //   dist: 1 -> 0, 2 -> 500000, 3 -> 1500000
    val pairs = Seq((1L, 2L, 2L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val census = Graphs.cheapestPathCensusOf(pairs, maxRounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(census === Seq((0L, 1L), (500000L, 1L), (1500000L, 1L)))
    graft.core.Caches.releaseScratch(spark)
    // sf data: fixpoint invariance + full reachability (graph connected)
    val a = Graphs.cheapestPathCensus(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    val b = Graphs.cheapestPathCensus(spark, sf, maxRounds = 16).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(a.toSeq.map(r => (r.getLong(0), r.getLong(1))) ===
      b.toSeq.map(r => (r.getLong(0), r.getLong(1))),
      "distance census depends on round budget — not converged")
    val nNodes = Graphs.coPurchasePairs(spark, sf)
      .select(col("u")).unionAll(Graphs.coPurchasePairs(spark, sf).select(col("v")))
      .distinct().count()
    assert(a.map(_.getLong(1)).sum === nNodes,
      "census does not account for every node (graph is connected)")
  }

  test("brand modularity: edge and degree conservation, Q-term arithmetic") {
    val out = Graphs.brandModularity(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty)
    val m = out.head.getLong(4)
    assert(out.forall(_.getLong(4) == m))
    // degree sums over all communities = 2m (every edge endpoint counted)
    assert(out.map(_.getLong(3)).sum === 2 * m, "degree mass not conserved")
    // internal edges can never exceed m, and Q-terms follow the formula
    assert(out.map(_.getLong(2)).sum <= m)
    out.foreach { r =>
      assert(r.getLong(5) === 4 * m * r.getLong(2) - r.getLong(3) * r.getLong(3))
    }
  }

  test("assortativity on sf data: Cauchy-Schwarz bound and nonzero den") {
    val r = Graphs.degreeAssortativity(spark, sf).head()
    val (num, den) = (r.getAs[Long]("r_num"), r.getAs[Long]("r_den"))
    assert(den > 0L, "degenerate graph: all degrees equal")
    assert(math.abs(num) <= den, "correlation outside [-1, 1]")
    assert(r.getAs[Long]("n_edges") > 0L)
  }

  test("clustering coefficients: crafted graph buckets exactly, census conserves") {
    import spark.implicits._
    // K4 on {1,2,3,4}: every K4 node has cc = 1 (bucket 10, 3 triangles
    // each); pendant 5 on node 4 drops 4's cc to 3/6 (bucket 5); node 5
    // has degree 1 → excluded
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val out = Graphs.clusteringCoefficientCensus(edges).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(10 -> ((3L, 9L)), 5 -> ((1L, 3L))))
  }

  test("clustering coefficients: brute-force per-node counts on a pseudo-random graph") {
    import spark.implicits._
    val n = 40
    val pairs = for {
      u <- 1 to n; v <- (u + 1) to n
      if (u * 7919 + v * 104729) % 5 == 0
    } yield (u.toLong, v.toLong)
    val out = Graphs.clusteringCoefficientCensus(pairs.toDF("u", "v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = pairs.toSet
    def has(a: Long, b: Long) = e((a min b, a max b))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val deg = nodes.map(x => x -> pairs.count(p => p._1 == x || p._2 == x)).toMap
    val brute = nodes.filter(deg(_) >= 2).map { x =>
      val nb = nodes.filter(y => y != x && has(x, y))
      val tri = (for { a <- nb; b <- nb if a < b && has(a, b) } yield 1).size.toLong
      val d = deg(x).toLong
      (2 * tri * 1000000L / (d * (d - 1)) / 100000L).toInt -> tri
    }
    val expected = brute.groupBy(_._1)
      .map { case (b, xs) => b -> ((xs.size.toLong, xs.map(_._2).sum)) }
    assert(out === expected)
  }

  test("gather and distributed fixpoint paths are bit-identical") {
    // three paths: below LoopEdgesPerPartition row entries nodeLoop runs
    // its gather rounds in the driver; above it, one narrow job per
    // round; above GatherLoopMaxNodes nodes, co-partitioned RDD rounds.
    // Force the other two paths on the same inputs (sf data and the
    // hand-traced fixtures) and pin row-for-row equality.
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val costed = Seq((1L, 2L, 2L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val inputs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRankPpm(sf)" -> (() => Graphs.pageRankPpm(spark, sf)),
      "pageRankConvergedPpm(sf)" -> (() => Graphs.pageRankConvergedPpm(spark, sf)),
      "kCorePeelCensus(sf)" -> (() => Graphs.kCorePeelCensus(spark, sf)),
      "cheapestPathCensus(sf)" -> (() => Graphs.cheapestPathCensus(spark, sf)),
      "kCoreCensus(sf)" -> (() => Graphs.kCoreCensus(spark, sf)),
      "pageRankPpmOf(path)" -> (() => Graphs.pageRankPpmOf(path, iters = 3, topK = 10)),
      "pageRankConvergedPpmOf(k3)" -> (() => Graphs.pageRankConvergedPpmOf(k3, 10, 64)),
      "cheapestPathCensusOf(costed)" ->
        (() => Graphs.cheapestPathCensusOf(costed, maxRounds = 8)))
    def all(): Seq[Seq[Seq[Any]]] = try {
      inputs.map(_._2().collect().toSeq.map(_.toSeq))
    } finally graft.core.Caches.releaseScratch(spark)
    val viaDriver = all()
    val (edges, nodes) = (Graphs.LoopEdgesPerPartition, Graphs.GatherLoopMaxNodes)
    val viaJobs = try { Graphs.LoopEdgesPerPartition = 1L; all() }
      finally Graphs.LoopEdgesPerPartition = edges
    val viaDistributed = try { Graphs.GatherLoopMaxNodes = 0L; all() }
      finally Graphs.GatherLoopMaxNodes = nodes
    for ((other, name) <- Seq(viaJobs -> "job-per-round", viaDistributed -> "distributed"))
      inputs.map(_._1).zip(viaDriver.zip(other)).foreach { case (input, (d, o)) =>
        assert(d === o, s"$input: driver-loop and $name paths differ")
      }
  }

  test("the driver loop submits no job per round: 64 rounds cost the jobs of 2") {
    // sf0.001's co-purchase adjacency is far below LoopEdgesPerPartition,
    // so every PageRank round runs in the driver; the memoized adjacency
    // is built before counting
    Graphs.pageRankConvergedPpm(spark, sf, maxIters = 2).collect()
    try {
      val (two, jobs2) = jobsDuring(
        Graphs.pageRankConvergedPpm(spark, sf, maxIters = 2).collect())
      val (conv, jobs64) = jobsDuring(
        Graphs.pageRankConvergedPpm(spark, sf, maxIters = 64).collect())
      assert(two.toSeq !== conv.toSeq, "2 rounds already converged: the pin counts nothing")
      assert(jobs64 === jobs2, s"maxIters 64 submitted $jobs64 jobs, maxIters 2 $jobs2")
    } finally graft.core.Caches.releaseScratch(spark)
  }

  // The iterative kernels' loop mechanics live in one runner
  // (Graphs.nodeLoop): one explicit HashPartitioner and one gather /
  // distributed dispatch in the whole engine, so no kernel can grow a
  // private copy of the loop back.
  test("one fixpoint runner: one HashPartitioner and one gather dispatch in src/main") {
    val partitioner = """new org\.apache\.spark\.HashPartitioner\(""".r
    val dispatch = """[<>]=?\s*GatherLoopMaxNodes\b|\bGatherLoopMaxNodes\s*[<>]""".r
    // positive controls: the detectors flag the shapes they count
    assert(partitioner.findFirstIn(
      "val part = new org.apache.spark.HashPartitioner(loopW)").isDefined)
    assert(dispatch.findFirstIn("if (nNodes <= GatherLoopMaxNodes)").isDefined)
    assert(dispatch.findFirstIn("if (GatherLoopMaxNodes >= nNodes)").isDefined)
    // negative controls: prose, doc links and the test hook are not counted
    assert(partitioner.findFirstIn("ONE explicit HashPartitioner per loop").isEmpty)
    assert(dispatch.findFirstIn("fits driver memory (≤ [[GatherLoopMaxNodes]])").isEmpty)
    assert(dispatch.findFirstIn("Graphs.GatherLoopMaxNodes = 0L").isEmpty)
    val files = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .forEach(p => if (p.toString.endsWith(".scala")) files += p)
    assert(files.nonEmpty, "source scan found nothing — path wrong?")
    def sites(re: scala.util.matching.Regex): Seq[String] = files.toSeq.flatMap { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      re.findAllMatchIn(txt).map(m => s"$p:${txt.take(m.start).count(_ == '\n') + 1}")
    }
    val parts = sites(partitioner)
    assert(parts.size === 1, "HashPartitioner sites (the loop belongs in " +
      "Graphs.nodeLoop):\n  " + parts.mkString("\n  "))
    val dispatches = sites(dispatch)
    assert(dispatches.size === 1, "GatherLoopMaxNodes comparisons (the " +
      "dispatch belongs in Graphs.nodeLoop):\n  " + dispatches.mkString("\n  "))
  }

  test("k-core peel: a hub dropping straight to zero degree is never censused") {
    import spark.implicits._
    // ADVICE r13: star graph, hub 0 with 5 leaves, k=3. Round 1 peels
    // every leaf (d=1 < 3) — census (1, 5). The hub's degree falls from
    // 5 (>= k) straight to 0 in that same round, so it is never isBad
    // (d > 0 guard), never recorded as removed, and correctly excluded
    // from the surviving-core census. This pins the intended edge-form
    // semantics the phantom-negative-row argument leans on.
    val star = (1L to 5L).map(l => (0L, l)).toDF("u", "v")
    val census = Graphs.kCorePeelCensusOf(spark, star, k = 3, maxRounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(census === Seq((1L, 5L)), s"got $census")
    val core = Graphs.kCoreCensusOf(star, k = 3, rounds = 8).head()
    assert((core.getLong(1), core.getLong(2)) === ((0L, 0L)),
      "hub must not survive as core mass")
    // and on the distributed path too
    val was = Graphs.GatherLoopMaxNodes
    Graphs.GatherLoopMaxNodes = 0L
    try {
      val census2 = Graphs.kCorePeelCensusOf(spark, star, k = 3, maxRounds = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(census2 === Seq((1L, 5L)), s"got $census2")
    } finally { Graphs.GatherLoopMaxNodes = was }
  }

  test("q289 rec backtest: hits cumulative in k, rates exact") {
    val out = Graphs.recBacktest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_._2).distinct.length === 1,
      "anchor denominator is k-independent")
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "hit@k must be non-decreasing in k")
    out.foreach { r =>
      assert(r._4 === r._3 * 1000000L / math.max(1L, r._2))
      assert(r._3 <= r._2, "hits cannot exceed anchors")
    }
  }
}
