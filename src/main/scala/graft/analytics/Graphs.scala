package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}

/** Distributed graph analytics over the order co-purchase graph (parts that
  * appear in the same order are connected). Complements the iterative
  * connected-components op (q60) with the other canonical graph kernel:
  * triangle counting.
  *
  * Scale design — the naive triangle join (edges³) dies on hub nodes: a
  * part in k orders contributes O(k²) wedges. The classic fix (node-
  * iterator++ / Schank–Wagner; the MapReduce formulation is Suri &
  * Vassilvitskii's "Counting Triangles and the Curse of the Last Reducer",
  * WWW'11) is DEGREE ORDERING: orient every edge from its lower-(degree,
  * id) endpoint to the higher one. Every triangle then has exactly one
  * low-apex orientation a→b, a→c, b→c, out-degrees are bounded by O(√m),
  * and hub-reducer skew vanishes.
  *
  * On top of the orientation we count by ADJACENCY INTERSECTION, not by
  * materializing wedges: triangles = Σ over oriented edges (u,v) of
  * |N⁺(u) ∩ N⁺(v)|. The wedge formulation shuffles O(Σ d⁺²) rows (tens of
  * millions here); the intersection join shuffles only the EDGE list and
  * broadcasts the nodes-sized adjacency table — same exact count, one
  * order of magnitude less data movement. (GraphFrames' triangleCount
  * uses the same shape.) `array_intersect` on sorted long arrays stays in
  * codegen; no UDF.
  */
object Graphs {

  /** Memoized weighted co-purchase scaffold — one row per undirected part
    * pair (u < v) with w = number of shared orders, built ONCE per
    * (session, dir) and persisted via [[graft.core.FrameMemo]] (the same
    * materialized-table pattern as the silver frame and the dup-cluster
    * frame). All four graph kernels — triangles (q93), item-item recs
    * (q104), recursive BFS (q109), pagerank (q115) — start from this
    * scaffold; rebuilding the quadratic-per-order self-join in each query
    * was ~2/3 of the graph family's bench time. The weighted form
    * subsumes the unweighted edge list (project u, v and drop w). A
    * production deployment writes this frame as the co-occurrence edge
    * table; at 100 TB you materialize it once per corpus snapshot, never
    * per downstream query. */
  private val pairCache = new graft.core.FrameMemo(4)

  private[graft] def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    pairCache.get(spark, dir) {
      val li = Tables.lineitem(spark, dir)
      coOrderPairs(li).groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("w"))
    }

  /** All within-order part pairs (u < v), one row per (order, pair)
    * instance — the expansion both the weighted scaffold and the edge
    * list reduce. Round-14 rewrite (guide §2.4): the former self-join on
    * `ok` (scratch-cache materialization + two sorted probes of the same
    * frame) is ONE exchange-free aggregate over the order-partitioned
    * lineitem — per-order sorted part SETS (collect_set dedups duplicate
    * lines; bounded by order size, the same bound the join argued) —
    * followed by an in-row array expansion: `transform` with the index
    * lambda pairs each part with its strict successors, so u < v holds
    * by construction and no join, sort or second shuffle exists at all.
    * The explicit full-width repartition keeps the documented expansion
    * rule — partitions sized to the quadratic OUTPUT, not the few-MB
    * input (it subsumes the scan fan-out: CollapseRepartition folds
    * adjacent repartitions). */
  private def coOrderPairs(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(fullWidth(li), col("ok"))
      .groupBy(col("ok"))
      .agg(expr("sort_array(collect_set(pk))").as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS u, y AS v))))""".stripMargin))
        .as("p"))
      .select(col("p.u"), col("p.v"))

  /** Memoized symmetric WEIGHTED adjacency of the co-purchase graph —
    * one row per node: (node, deg, nbrs: array<struct<v, w>>), built from
    * the pair scaffold with one exchange + one exchange-free groupBy and
    * persisted per (session, dir) like the scaffold itself (round-13:
    * the four iterative kernels q195/q227/q228/q233 each rebuilt the
    * symmetrize+group pipeline per RUN — ~2-3 s apiece at sf0.1 — when
    * its input is the same immutable frame; a production deployment
    * materializes the adjacency table once per corpus snapshot). Each
    * kernel projects the payload it needs (plain neighbor ids, costed
    * struct) into its own loop-width checkpoint. */
  private val adjCache = new graft.core.FrameMemo(4)

  private[analytics] def coPurchaseAdjacency(spark: SparkSession,
      dir: String): DataFrame =
    adjCache.get(spark, dir) {
      val p = coPurchasePairs(spark, dir)
      p.select(col("u").as("node"), struct(col("v"), col("w")).as("nb"))
        .unionAll(p.select(col("v").as("node"),
          struct(col("u").as("v"), col("w")).as("nb")))
        .repartition(fullWidth(p), col("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("deg"), collect_list(col("nb")).as("nbrs"))
    }

  /** Test hook: number of pair scaffolds memoized for `spark`. */
  def cachedPairCount(spark: SparkSession): Int =
    pairCache.cachedCount(spark)

  /** Distinct undirected co-purchase edges (u < v) from lineitem. */
  private[analytics] def coPurchaseEdges(li: DataFrame): DataFrame =
    // distinct undirected edge list over the shared expansion
    // (collect_set inside coOrderPairs already drops duplicate
    // (order, part) lines, so no self-pairs or inflated multiplicity)
    coOrderPairs(li).distinct()

  /** The session's configured shuffle width — the explicit partition
    * count for operators whose output expands far beyond their input
    * (pair self-joins, per-iteration graph joins), where AQE's
    * input-size-based coalescing picks too few partitions. */
  private def fullWidth(df: DataFrame): Int =
    math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Memoized degree-ordered orientation + out-adjacency of the
    * co-purchase graph — round-14: q93 (triangles) and q206 (clustering
    * coefficients) each rebuilt the orient-and-group pipeline per run
    * over the same memoized pair scaffold; like the pair/adjacency
    * memos, a production deployment materializes the oriented adjacency
    * once per corpus snapshot. */
  private val orientedCache = new graft.core.FrameMemo(4)
  private val orientedAdjListCache = new graft.core.FrameMemo(4)

  private def coPurchaseOriented(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val edges = coPurchasePairs(spark, dir).select(col("u"), col("v"))
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = orientedCache.get(spark, dir) {
      edges
        .join(broadcast(deg).withColumnRenamed("n", "u")
          .withColumnRenamed("d", "du"), "u")
        .join(broadcast(deg).withColumnRenamed("n", "v")
          .withColumnRenamed("d", "dv"), "v")
        .select(
          when(lower, col("u")).otherwise(col("v")).as("src"),
          when(lower, col("v")).otherwise(col("u")).as("dst"))
    }
    val adj = orientedAdjListCache.get(spark, dir) {
      oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    }
    (edges, deg, oriented, adj)
  }

  /** Global triangle census: one row (n_nodes, n_edges, n_triangles).
    * Exact integer counts — engine-portable. */
  def coPurchaseTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensusFrom(coPurchaseOriented(spark, dir))

  /** Item-item recommendations from co-purchase counts — the classic
    * item-based collaborative-filtering kernel: for every part, the top-k
    * parts most often bought in the same order. One (order, part)-pair
    * shuffle builds WEIGHTED edges (weight = co-order count); the pair
    * list is then symmetrized (a narrow union — each undirected edge
    * feeds both endpoints' candidate lists) and top-k'd with a
    * per-part window whose input is neighbor-list-sized, never
    * catalog². Full (weight desc, neighbor asc) tiebreak keeps the
    * result deterministic. */
  def itemItemRecs(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // Round-14 (guide §2.4): the memoized ADJACENCY already holds every
    // part's full weighted neighbor list as one array row, so the top-k
    // is an IN-ROW array_sort + slice — no per-run aggregation shuffle
    // beyond the memoized adjacency (whose first build pays its own
    // exchanges); only the final presentation orderBy remains, a range
    // exchange + sort of the catalog×k result on every run (rounds 12-13
    // symmetrized the pair scaffold into a 2|E|-row union and
    // re-aggregated it per run through a typed top-k Aggregator: one
    // more exchange plus per-row encoder dispatch, every execution).
    // Same (w desc, rec asc) tiebreak, row-for-row the row_number()
    // formulation (GraphsSpec pins it). Per-node cost is d log d against
    // the Aggregator's d·k scan — bounded by the same per-group degree
    // bound; a 100 TB hot node pays a sort of ITS OWN list, not a
    // shuffle of everyone's.
    coPurchaseAdjacency(spark, dir)
      .select(col("node").as("part"), posexplode(expr(
        s"""slice(array_sort(nbrs, (a, b) ->
           |  CASE WHEN a.w > b.w THEN -1 WHEN a.w < b.w THEN 1
           |       WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1
           |       ELSE 0 END), 1, $k)""".stripMargin)))
      .select(col("part"), (col("pos") + 1).cast("int").as("rk"),
        col("col.v").as("rec"), col("col.w").as("w"))
      .orderBy(col("part").asc, col("rk").asc)
  }

  /** Shared degree-ordered-orientation scaffold: degrees, oriented
    * edges (low-(deg, id) → high), and sorted out-adjacency lists
    * (≤ O(√m) neighbors per node by construction). The nodes-sized
    * degree table is broadcast so orientation adds no shuffle over the
    * edge list. */
  private def orientedAdjacency(edges0: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val edges = Caches.scratch(edges0) // scanned by deg, orient, census
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Caches.scratch(edges
      .join(broadcast(deg).withColumnRenamed("n", "u")
        .withColumnRenamed("d", "du"), "u")
      .join(broadcast(deg).withColumnRenamed("n", "v")
        .withColumnRenamed("d", "dv"), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst")))
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    (edges, deg, oriented, adj)
  }

  /** Triangle census over arbitrary undirected (u < v) distinct edges. */
  def triangleCensus(edges0: DataFrame): DataFrame =
    triangleCensusFrom(orientedAdjacency(edges0))

  private def triangleCensusFrom(
      built: (DataFrame, DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (edges, deg, oriented, adj) = built
    val triangles = oriented
      .join(broadcast(adj).select(col("src"), col("nbrs").as("src_nbrs")),
        "src")
      .join(broadcast(adj).select(col("src").as("dst"),
        col("nbrs").as("dst_nbrs")), "dst")
      .agg(coalesce(
        sum(size(array_intersect(col("src_nbrs"), col("dst_nbrs"))).cast("long")),
        lit(0L)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(triangles)
  }

  /** q206: local clustering-coefficient census — the per-node texture
    * statistic the global triangle count (q93) and the k-core density
    * cut (q195) both flatten: cc(n) = 2·tri(n) / (d(n)·(d(n)−1)),
    * bucketed into deciles of exact ppm. Community-rich regions pile
    * into high buckets; star-like hubs land at zero — the shape signal
    * a graph-based curation pass (e.g. co-citation spam detection)
    * reads.
    *
    * Scale shape: same degree-ordered orientation as q93, so each
    * triangle is ENUMERATED exactly once (explode of the wedge/edge
    * intersection — output-sized, the irreducible cost of per-node
    * counts) and credited to its three corners with a narrow 3-way
    * union + one keyed count. Coefficients and buckets are all integer
    * arithmetic (2·tri·10⁶ div d(d−1), then div 10⁵), bit-identical in
    * any engine. */
  def clusteringCoefficientCensus(edges0: DataFrame): DataFrame =
    clusteringCoefficientCensusFrom(orientedAdjacency(edges0))

  private def clusteringCoefficientCensusFrom(
      built: (DataFrame, DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (_, deg, oriented, adj) = built
    // every triangle enumerated once (the wedge/edge intersection) and
    // credited to its three corners in ONE explode — the edge's two
    // endpoints take the whole intersection SIZE as a single row each
    // (they corner every triangle on the edge), so the exploded stream
    // is 2 + |W| rows per edge instead of the 3·|W| of the old
    // corner-array form; the counts per node are identical
    val perNode = oriented
      .join(broadcast(adj).select(col("src"), col("nbrs").as("src_nbrs")),
        "src")
      .join(broadcast(adj).select(col("src").as("dst"),
        col("nbrs").as("dst_nbrs")), "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("src_nbrs"), col("dst_nbrs")).as("ww"))
      .select(explode(concat(
        array(
          struct(col("src").as("n"), size(col("ww")).cast("long").as("c")),
          struct(col("dst").as("n"), size(col("ww")).cast("long").as("c"))),
        expr("transform(ww, w -> struct(w AS n, CAST(1 AS BIGINT) AS c))")))
        .as("e"))
      .groupBy(col("e.n").as("n")).agg(sum(col("e.c")).as("tri"))
      .filter(col("tri") > 0)
    deg.join(perNode, Seq("n"), "left")
      .filter(col("d") >= 2)
      .select(coalesce(col("tri"), lit(0L)).as("tri"), col("d"))
      .select(col("tri"),
        expr("(2 * tri * 1000000 div (d * (d - 1))) div 100000")
          .cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("tri")).cast("long").as("sum_triangles"))
      .orderBy(col("bucket").asc)
  }

  def clusteringCoefficients(spark: SparkSession, dir: String): DataFrame =
    clusteringCoefficientCensusFrom(coPurchaseOriented(spark, dir))

  /** PageRank over the undirected co-purchase graph, in EXACT integer
    * parts-per-million — the iterative "Pregel on DataFrames" kernel the
    * graph family still lacked (one-shot: triangles q93, recs q104;
    * iterative-converging: components q60, BFS q109; iterative-numeric:
    * this).
    *
    * Arithmetic is engine-portable by construction: ranks live in ppm
    * longs, a node's per-edge contribution is `rank div deg` (floor), and
    * the damping update is `150000 + (Σ contribs × 17) div 20` — 0.85 as
    * the exact rational 17/20, floor division on non-negative operands ≡
    * DuckDB `//`. No IEEE doubles anywhere, so iteration count doesn't
    * compound rounding drift across engines. The oracle unrolls the same
    * three iterations as plain CTEs (aggregates are illegal in a SQL
    * recursive member, and unrolling IS the semantics: fixed iters, not
    * convergence).
    *
    * Scale shape: each iteration is one keyed equi-join of the edge list
    * against the node-sized rank table plus one aggregation — the
    * standard distributed PageRank step. Edges and degrees are computed
    * once and reused ([[graft.core.Caches.scratch]]); each round's ranks
    * are truncated with an eager `localCheckpoint` so the plan stays
    * constant-size across iterations (same rule as the connected-
    * components loop, q60). Undirected symmetric edges mean every node
    * has out-degree ≥ 1 — no dangling-mass redistribution term needed.
    *
    * Overflow headroom: Σ contribs ≤ total mass = n·10⁶, so the ×17 stays
    * within Long for n up to ~5·10¹¹ nodes. */
  def pageRankPpm(spark: SparkSession, dir: String,
                  iters: Int = 3, topK: Int = 10): DataFrame =
    pageRankPpmFromAdj(
      coPurchaseAdjacency(spark, dir)
        .select(col("node"), col("deg"),
          expr("transform(nbrs, x -> x.v)").as("outs")),
      iters, topK)

  /** [[pageRankPpm]] over an arbitrary undirected (u, v) edge list. */
  def pageRankPpmOf(undirected: DataFrame,
                    iters: Int = 3, topK: Int = 10): DataFrame = {
    val directed = undirected.select(col("u"), col("v"))
      .unionAll(undirected.select(col("v").as("u"), col("u").as("v")))
      .repartition(fullWidth(undirected), col("u"))
    pageRankPpmFromAdj(
      directed.groupBy(col("u"))
        .agg(count(lit(1)).as("deg"), collect_list(col("v")).as("outs"))
        .select(col("u").as("node"), col("deg"), col("outs")),
      iters, topK)
  }

  /** Fixed-iteration pagerank over an out-adjacency plan (node, deg,
    * outs) — round 13: the same node-sized loop frame as the converged
    * kernel (q227), minus its convergence machinery. The adjacency is
    * scratch-cached (scanned `iters` times), each iteration is one
    * co-partitioned join + explode + node-sized re-aggregation, and the
    * fixed small iteration count keeps the single fused job with NO
    * per-round checkpoint (lineage grows linearly — `ranks` feeds one
    * side only; a convergence-driven variant needs the q227 batching). */
  private def pageRankPpmFromAdj(adjPlan: DataFrame,
      iters: Int, topK: Int): DataFrame = {
    val adj = Caches.scratch(adjPlan)
    var ranks = adj.select(col("node"), lit(1000000L).as("rank_ppm"))
    for (_ <- 1 to iters) {
      ranks = adj
        .join(ranks, Seq("node"))
        .select(col("outs"), expr("rank_ppm div deg").as("contrib"))
        .select(explode(col("outs")).as("v"), col("contrib"))
        .groupBy(col("v"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("v").as("node"),
          expr("150000 + (s * 17) div 20").as("rank_ppm"))
    }
    // domain-sized: applied to the topK-row TakeOrdered frame below
    val w = Window.orderBy(col("rank_ppm").desc, col("node").asc)
    val out = ranks
      .orderBy(col("rank_ppm").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("node"), col("rank_ppm"))
      .orderBy(col("rank").asc)
    out
  }

  /** q227: PageRank run to the EXACT integer fixpoint — the unbounded-
    * iteration form of q115 (round-7 stretch item 8). The ppm/floor
    * arithmetic makes convergence a DECIDABLE equality, not an epsilon
    * judgement: the rank map is a function of the previous map over a
    * finite integer lattice, the damping contraction pulls it to a fixed
    * point (measured: 35 rounds at sf0.01, 46 at sf0.1), and once
    * r_t == r_{t-1} every later round is identical — so "converged" is a
    * relation both engines can agree on bit-for-bit, and the oracle can
    * unroll a SUFFICIENT number of rounds (maxIters=64 here) knowing the
    * tail rounds are no-ops.
    *
    * Scale shape: per round, the node-sized rank frame joins INTO the
    * pinned, checkpointed edge list — broadcast while the measured node
    * count fits ([[TrickleBroadcastRows]]), shuffle beyond — and the
    * new ranks aggregate at a width derived from the node count
    * ([[NodeRowsPerPartition]]). One action per [[FixpointBatch]]
    * rounds: rounds chain lazily and the batch-edge fixpoint test
    * (anti-join between the batch's last two frames) materializes the
    * whole chain and decides convergence. AQE is off inside the
    * kernel: every join is explicitly hinted on driver-measured counts
    * and its stage-by-stage materialization cost ~35% of the loop
    * (measured evolution at the 46-round sf0.1 fixpoint: 29.0 s
    * committed block form → 25.4 s with the edge frame checkpointed →
    * 21.3 s with broadcast ranks + fused per-round fixpoint).
    *
    * The fixpoint test always compares CONSECUTIVE rounds (the batch's
    * last two frames), so a floor-arithmetic CYCLE (period > 1, which
    * irregular graphs can enter instead of a fixpoint) simply never
    * fires the early stop and the loop runs to maxIters — exactly the
    * r_maxIters the unrolled oracle evaluates, so the two engines still
    * agree bit-for-bit; and a fixpoint reached mid-batch is detected at
    * the batch edge with the identical final frame. */
  def pageRankConvergedPpm(spark: SparkSession, dir: String,
      topK: Int = 10, maxIters: Int = 64): DataFrame =
    pageRankConvergedFromAdj(
      coPurchaseAdjacency(spark, dir)
        .select(col("node"), col("deg"),
          expr("transform(nbrs, x -> x.v)").as("outs")),
      topK, maxIters)

  private[analytics] def pageRankConvergedPpmOf(undirected: DataFrame,
      topK: Int, maxIters: Int): DataFrame = {
    val directed = undirected.select(col("u"), col("v"))
      .unionAll(undirected.select(col("v").as("u"), col("u").as("v")))
      .repartition(fullWidth(undirected), col("u"))
    pageRankConvergedFromAdj(
      directed.groupBy(col("u"))
        .agg(count(lit(1)).as("deg"), collect_list(col("v")).as("outs"))
        .select(col("u").as("node"), col("deg"), col("outs")),
      topK, maxIters)
  }

  /** The q227 loop over a prebuilt out-adjacency plan (node, deg,
    * outs: array<node>) — from the memoized [[coPurchaseAdjacency]] for
    * the declared query, or built ad hoc from an edge list for tests. */
  private def pageRankConvergedFromAdj(adjPlan: DataFrame,
      topK: Int, maxIters: Int): DataFrame = {
    val spark = adjPlan.sparkSession
    import spark.implicits._
    // Round-14 (verdict item 1): the round-13 kernel was DRIVER-PLANNING-
    // bound — each of the 46 sf0.1 rounds constructed a fresh Dataset
    // (join+explode+agg), ~56 ms of Catalyst analysis per construction,
    // ~0.45 s of plan building vs ~0.5 s of execution per 8-round batch.
    // The loop now runs on RAW RDDs with ONE explicit HashPartitioner:
    // zero Catalyst work per round, the co-partitioned rank join is a
    // narrow zip of cached blocks, and the only per-round cost left is
    // pagerank's irreducible node-sized contribution shuffle
    // (reduceByKey). Arithmetic is bit-identical to the Dataset form:
    // rank div deg and (s·17) div 20 on non-negative longs are plain
    // Java long division; the contribution sum is order-independent
    // integer addition. Batching and the consecutive-pair fixpoint test
    // are unchanged in shape (FixpointBatch rounds chain lazily, one
    // action per batch); the test is a co-partitioned zipPartitions
    // count instead of an anti-join. Session confs (AQE, shuffle width)
    // are NOT touched anymore — the round-13 set/restore dance was
    // unsafe under concurrent queries (verdict what's-wrong 6); the RDD
    // loop's width is the explicit partitioner, invisible to SQL.
    //
    // Below [[GatherLoopMaxNodes]] MEASURED nodes the loop switches to a
    // DRIVER-GATHER round: the rank vector rides to the tasks in the
    // round closure, each task pre-combines its partition's contributions
    // in a primitive map, and the driver merges the ≤ loopW node-sized
    // partials — one narrow job per round, no shuffle stage at all.
    // Measured at sf0.1 (20k nodes, 46 rounds): a shuffle STAGE boundary
    // costs ~51 ms in this runtime even for a 20k-row round (16-stage
    // micro-chain probe), so the shuffle-per-round form has a 2.4 s
    // floor the gather form does not.
    val stats = adjPlan.agg(count(lit(1)).as("n"),
      coalesce(sum(col("deg")), lit(0L)).as("e")).head()
    val nNodes = stats.getLong(0)
    if (nNodes <= GatherLoopMaxNodes)
      pageRankConvergedGather(adjPlan, topK, maxIters)
    else {
      // Scale-adaptive loop width from the MEASURED directed-edge count
      // (per-partition work is edge-sized — the adjacency arrays — not
      // node-sized); same formula as round 13 (width sweep there: 32 wide
      // was stage-latency-bound, 1 wide serialized ~110M row-ops, ~600k
      // edge entries per task is one latency quantum of work). At 100 TB
      // the formula yields thousands of partitions and every round stays
      // the same co-partitioned form.
      val nEdges = stats.getLong(1)
      val sessW = fullWidth(adjPlan)
      val loopW = math.max(1L, math.min(sessW.toLong,
        nEdges / LoopEdgesPerPartition + 1L)).toInt
      val part = new org.apache.spark.HashPartitioner(loopW)
      // adjacency → (node, (deg, outs)) pairs, partitioned once, cached:
      // every round's rank join is then a narrow co-partitioned zip
      val adjRdd = adjPlan.select(col("node"), col("deg"), col("outs"))
        .as[(Long, Long, Array[Long])].rdd
        .map { case (n, d, o) => (n, (d, o)) }
        .partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var ranks: org.apache.spark.rdd.RDD[(Long, Long)] =
          adjRdd.mapValues(_ => 1000000L)
        // Per round: a narrow co-partitioned zip joins ranks into the
        // adjacency and PRE-COMBINES contributions in a primitive
        // long->long map (graft.core.LongLongMap — reduceByKey's boxed
        // map-side combine alone cost ~0.3 s/round here), so the round's
        // irreducible shuffle carries one entry per (partition, node)
        // instead of one per contribution. Long sums are order-
        // independent; rank/deg on non-negative longs is `div`.
        def step(r: org.apache.spark.rdd.RDD[(Long, Long)])
            : org.apache.spark.rdd.RDD[(Long, Long)] =
          adjRdd.zipPartitions(r, preservesPartitioning = false) { (ai, ri) =>
            val rank = new graft.core.LongLongMap(1 << 12)
            ri.foreach { case (n, v) => rank.update(n, v) }
            val acc = new graft.core.LongLongMap(1 << 12)
            ai.foreach { case (n, (deg, outs)) =>
              val rv = rank.getOrElse(n, Long.MinValue)
              if (rv != Long.MinValue) { // inner-join semantics
                val contrib = rv / deg
                var i = 0
                while (i < outs.length) { acc.addTo(outs(i), contrib); i += 1 }
              }
            }
            acc.iterator
          }
            .reduceByKey(part, _ + _)
            .mapValues(s => 150000L + (s * 17L) / 20L)
        var iter = 0
        var converged = false
        var live: org.apache.spark.rdd.RDD[(Long, Long)] = null
        // Batched cadence unchanged from round 13: FixpointBatch rounds
        // chain lazily, ONE action per batch (the consecutive-pair
        // changed-count) materializes the whole chain — intermediate
        // rounds are ShuffledRDDs whose map stages the scheduler shares,
        // so nothing recomputes. Convergence stays a CONSECUTIVE
        // comparison (a floor-arithmetic cycle never fires the early
        // stop; a mid-batch fixpoint holds through the batch's no-op
        // tail and is caught at the batch edge with identical ranks).
        while (!converged && iter < maxIters) {
          val nRounds = math.min(FixpointBatch, maxIters - iter)
          var prev = ranks
          var last = ranks
          (1 to nRounds).foreach { _ => prev = last; last = step(last) }
          iter += nRounds
          last.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // exact fixpoint: no (node, rank_ppm) pair of the batch's last
          // round differs from its predecessor — a narrow co-partitioned
          // zip (both sides hash(node)-partitioned by `part`), no shuffle
          val changed = last.zipPartitions(prev) { (a, b) =>
            // boxed map: a Long-valued scala map would silently unbox an
            // absent key's null to 0L and break the membership test
            val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
            b.foreach { case (n, v) => m.put(n, v) }
            var c = 0L
            a.foreach { case (n, v) =>
              val got = m.get(n)
              if (got == null || got.longValue() != v) c += 1L
            }
            Iterator.single(c)
          }.fold(0L)(_ + _)
          converged = changed == 0L
          if (live != null) live.unpersist(blocking = false)
          live = last
          ranks = last
        }
        // final ranks stay persisted for the lazy result frame below;
        // released with the caller's next releaseScratch
        Caches.trackRdd(spark, ranks)
        // domain-sized: applied to the topK-row TakeOrdered frame below
        val w = Window.orderBy(col("rank_ppm").desc, col("node").asc)
        ranks.toDF("node", "rank_ppm")
          .orderBy(col("rank_ppm").desc, col("node").asc).limit(topK)
          .withColumn("rank", row_number().over(w))
          .select(col("rank"), col("node"), col("rank_ppm"))
          .orderBy(col("rank").asc)
      } finally {
        // the result frame reads only the FINAL ranks blocks — the
        // pinned adjacency owes nothing once the loop exits
        adjRdd.unpersist(blocking = false)
      }
    }
  }

  /** Driver-gather converged pagerank for graphs whose MEASURED node
    * count fits driver memory (≤ [[GatherLoopMaxNodes]]): the adjacency
    * stays distributed (cached, ≤ loopW partitions from the edge-count
    * formula), the rank VECTOR lives on the driver as two flat long
    * arrays (nodes sorted once; ranks positional). Per round: one narrow
    * job — each task rebuilds the node→rank index from the closure-
    * shipped arrays (a few ms), pre-combines its partition's
    * contributions in a primitive map, returns one interleaved long[]
    * partial — and the driver sum-merges ≤ loopW partials and applies
    * the damping formula. Convergence is the exact array comparison.
    * Identical arithmetic to the distributed loop (integer sums are
    * order-independent; same div/floor ops), so the two paths are
    * interchangeable — GraphsSpec pins their equivalence. */
  private def pageRankConvergedGather(adjPlan: DataFrame,
      topK: Int, maxIters: Int): DataFrame = {
    val spark = adjPlan.sparkSession
    import spark.implicits._
    val adjRdd = adjPlan.select(col("node"), col("deg"), col("outs"))
      .as[(Long, Long, Array[Long])].rdd
    val nEdges = adjPlan
      .agg(coalesce(sum(col("deg")), lit(0L))).head().getLong(0)
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEdges / LoopEdgesPerPartition + 1L)).toInt
    val adj = adjRdd.coalesce(loopW)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = adj.map(_._1).collect().sorted
      var ranks = Array.fill(nodes.length)(1000000L)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val ns = nodes; val rs = ranks
        val partials = adj.mapPartitions { it =>
          val idx = new graft.core.LongLongMap(math.max(16, ns.length * 2))
          var j = 0
          while (j < ns.length) {
            // MinValue marks a node that dropped from the rank set (an
            // asymmetric test graph can have rankless nodes; the
            // symmetric co-purchase graph never does)
            if (rs(j) != Long.MinValue) idx.update(ns(j), rs(j))
            j += 1
          }
          val acc = new graft.core.LongLongMap(math.max(16, ns.length * 2))
          it.foreach { case (n, deg, outs) =>
            val rv = idx.getOrElse(n, Long.MinValue)
            if (rv != Long.MinValue) { // inner-join semantics
              val contrib = rv / deg
              var i = 0
              while (i < outs.length) { acc.addTo(outs(i), contrib); i += 1 }
            }
          }
          val flat = new Array[Long](acc.size * 2)
          var w = 0
          acc.foreachEntry { (n, v) => flat(w) = n; flat(w + 1) = v; w += 2 }
          Iterator.single(flat)
        }.collect()
        val sums = new graft.core.LongLongMap(math.max(16, nodes.length * 2))
        partials.foreach { flat =>
          var i = 0
          while (i < flat.length) { sums.addTo(flat(i), flat(i + 1)); i += 2 }
        }
        val out = new Array[Long](nodes.length)
        var changed = false
        var j = 0
        while (j < nodes.length) {
          val s = sums.getOrElse(nodes(j), Long.MinValue)
          out(j) = if (s == Long.MinValue) Long.MinValue
                   else 150000L + (s * 17L) / 20L
          if (out(j) != ranks(j)) changed = true
          j += 1
        }
        converged = !changed
        ranks = out
        iter += 1
      }
      // topK panel on the driver — same total (rank_ppm DESC, node ASC)
      // order and row_number semantics as the distributed tail
      val top = nodes.indices
        .filter(j => ranks(j) != Long.MinValue)
        .map(j => (nodes(j), ranks(j)))
        .sortBy { case (n, r) => (-r, n) }
        .take(topK)
        .zipWithIndex
        .map { case ((n, r), i) => (i + 1, n, r) }
      top.toDF("rank", "node", "rank_ppm").orderBy(col("rank").asc)
    } finally {
      adj.unpersist(blocking = false)
    }
  }

  /** Node-count ceiling for the driver-gather fixpoint loops: below it
    * the per-round state (two flat long arrays + one primitive map) is
    * ≤ ~16 MB on the driver and in each round closure — cheaper than
    * any shuffle stage; above it the kernels run their fully
    * distributed co-partitioned RDD loops. A measured scalar, not an
    * estimate (same discipline as [[TrickleBroadcastRows]]). A var only
    * so GraphsSpec can force the distributed path on small fixtures and
    * pin the two paths' bit-equivalence. */
  private[analytics] var GatherLoopMaxNodes = 500000L

  /** q228: k-core peel CASCADE census — the unbounded-iteration k-core
    * (round-7 stretch item 8): peel under-degree nodes until the true
    * fixpoint, emitting one row per round (round, n_removed). At k=85
    * the co-purchase graph is the demonstration case for why the
    * bounded form (q195, 8 rounds) is an approximation: the cascade
    * runs 9 rounds at sf0.01 and 38 at sf0.1 before emptying — a fixed
    * bound either lies or wastes rounds, convergence does neither.
    *
    * Scale shape: INCREMENTAL degree maintenance — the edge list is
    * symmetrized, repartitioned on src and checkpointed ONCE; every
    * round is one job over a NODE-sized (node, degree) frame (see the
    * impl notes in [[kCorePeelCensusOf]] for the measured evolution
    * 31.6 s → 12.7 s at the 38-round sf0.1 cascade). The result frame
    * is driver-built from ≤ maxRounds scalars — domain-sized by
    * construction. */
  def kCorePeelCensus(spark: SparkSession, dir: String,
      k: Int = 85, maxRounds: Int = 64): DataFrame = {
    val (_, _, removed) = peelCore(
      coPurchaseAdjacency(spark, dir)
        .select(col("node"), expr("transform(nbrs, x -> x.v)").as("nbrs")),
      k, maxRounds)
    import spark.implicits._
    removed.toDF("round", "n_removed").orderBy(col("round").asc)
  }

  /** Rows per partition for node-sized iterative frames: at sf0.1 the
    * degree frame is 20k rows, at 100 TB it is billions — the width must
    * come from the data, not the session. 4M longs-pairs ≈ 64 MB. */
  private val NodeRowsPerPartition = 4000000L

  /** Broadcast the removed trickle only while it provably fits: 4M ids
    * ≈ 64 MB of longs — above that fall back to a shuffle join (the
    * driver KNOWS the exact row count each round, so this is adaptive
    * on a measured scalar, not an estimate). */
  private val TrickleBroadcastRows = 4000000L

  /** Rounds chained lazily behind one fixpoint action in the converged
    * pagerank (see the loop note there). 8 cuts the 46-round sf0.1
    * fixpoint to 6 scheduled actions; the worst case pays
    * FixpointBatch−1 no-op rounds of node-sized compute past the true
    * fixpoint, which is noise next to the per-action scheduling cost
    * this exists to amortize. */
  private val FixpointBatch = 8

  /** Within a fixpoint batch, checkpoint every Nth round (plus the last
    * two, which the convergence anti-join reads). Un-checkpointed rounds
    * fuse into their successor's plan; the periodic checkpoint bounds
    * plan depth and analysis cost. */
  private val FixpointCkptEvery = 4

  /** Directed-edge entries per partition for the iterative graph
    * kernels' loop width (the adjacency arrays are the per-partition
    * payload, so the width must follow the EDGE count, not the node
    * count). ~600k entries ≈ one stage-latency quantum of explode+agg
    * work per task (measured sweep in pageRankConvergedPpmOf). */
  private val LoopEdgesPerPartition = 600000L

  private[analytics] def kCorePeelCensusOf(spark: SparkSession,
      edges0: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val (_, _, removed) = peelCore(adjacencyOf(edges0), k, maxRounds)
    import spark.implicits._
    removed.toDF("round", "n_removed").orderBy(col("round").asc)
  }

  /** Plain symmetric adjacency plan (node, nbrs: array<node>) from an
    * undirected (u, v) edge list — the ad-hoc build the generic `Of`
    * entries use; declared queries go through the memoized
    * [[coPurchaseAdjacency]] instead. */
  private def adjacencyOf(edges0: DataFrame): DataFrame =
    edges0.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges0.select(col("v").as("src"), col("u").as("dst")))
      .repartition(fullWidth(edges0), col("src"))
      .groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .select(col("src").as("node"), col("nbrs"))

  /** Shared incremental-degree peel loop (impl notes below) — takes the
    * symmetric adjacency plan (node, nbrs) and returns the surviving-
    * subgraph census scalars (n_nodes with d > 0, Σ d over d > 0) and the
    * per-round removal census. Round-14: the loop state lives in RAW RDDs
    * (verdict item 1 — the round-13 Dataset loop was driver-planning-
    * bound), so the final degree frame is reduced to the two scalars its
    * only consumer (q195's census) reads, and every block is released
    * before returning. */
  private def peelCore(adjPlan: DataFrame, k: Int,
      maxRounds: Int): (Long, Long, Seq[(Long, Long)]) = {
    val spark = adjPlan.sparkSession
    // INCREMENTAL-DEGREE cascade (round-8 advice item 3). Measured
    // evolution at the 38-round sf0.1 cascade, same box, back-to-back:
    //  (1) per-round edge-list degree re-aggregation + eager checkpoint
    //      + count: 31.6 s (the r8-committed form, 8× the oracle);
    //  (2) lazily batching 4 rounds behind one checkpoint: 57.7 s —
    //      WORSE: un-materialized frames carry no stats, so AQE planned
    //      the anti-joins as full sort-merge shuffles;
    //  (3) incremental NODE-sized degree frame, eager ckpt + count:
    //      22.2 s — the degree re-aggregation is redundant by induction
    //      (a survivor's degree changes only by edges shared with the
    //      removed trickle), but two driver round-trips per round remain;
    //  (4) lazy ckpt so the count is the round's ONLY action: 20.5 s —
    //      the floor moved to AQE's per-stage replanning and ~160
    //      near-empty 32-wide tasks per round;
    //  (5) THIS form: 12.7 s warm. One fused union-aggregate job per
    //      round, AQE off inside the kernel (every join is explicitly
    //      hinted on driver-measured counts — there is nothing left for
    //      AQE to decide, and its stage-by-stage materialization was
    //      pure overhead here), and every node-sized stage runs at a
    //      width derived from the NODE count (NodeRowsPerPartition)
    //      instead of the session's edge-scale default.
    //
    // Per round, ONE action evaluates:
    //   next = (σ(¬bad) deg)  ∪  (π_dst,-1 (sym ⋉ bad_src ▷ bad_dst))
    //          groupBy node → sum(d)        [lazy localCheckpoint]
    //   nBad = count(σ(0<d<k) next)
    // The count materializes the checkpoint blocks (the checkpointed RDD
    // sits in its lineage) AND returns the next census scalar; the two
    // trickle broadcasts launch as parallel futures at prepare time.
    //
    // Census equivalence with the edge-list formulation is exact but has
    // one subtlety: a node that loses ALL its edges in one round vanishes
    // from an edge-derived degree aggregate (never counted as removed),
    // so `bad` requires d > 0 — zero-degree rows stay behind, inert and
    // invisible (they contribute no decrements: their edges' other
    // endpoints were removed in the round that zeroed them, and removed
    // endpoints are anti-filtered from the delta legs), exactly like an
    // isolated node in the edge form.
    import spark.implicits._
    def isBad(d: Long): Boolean = d > 0 && d < k
    val removed = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    // Round-14 (verdict item 1): the loop runs on RAW RDDs with one
    // explicit HashPartitioner — zero Catalyst analysis per round (the
    // round-13 Dataset loop spent ~half its time constructing plans).
    // Semantics are the round-13 form exactly, per round:
    //   bad   = σ(0 < d < k) deg              (narrow filter)
    //   decr  = Σ_{bad u} (−1 per nbr of u)   (amortized shuffle: the
    //           only per-round shuffle carries DELTA entries, ≤ 2|E|
    //           across the WHOLE cascade since each node is bad once —
    //           the round-13 union+groupBy re-shuffled survivors too)
    //   next  = fullOuterJoin(σ(¬bad) deg, decr) summing the two legs
    //           (narrow: both sides hash(node)-partitioned)
    // fullOuterJoin ≡ the old unionAll+groupBy-sum: survivor-only rows
    // keep d, hit rows get d + Σ(−1), decr-only rows materialize as the
    // same strictly-negative phantom rows the d > 0 guards discount (a
    // removed node's deltas can target nodes removed in the same or an
    // earlier round; they can never re-enter isBad).
    //
    // Census equivalence with the edge-list formulation is exact but has
    // one subtlety: a node that loses ALL its edges in one round vanishes
    // from an edge-derived degree aggregate (never counted as removed),
    // so `bad` requires d > 0 — zero-degree rows stay behind, inert and
    // invisible, exactly like an isolated node in the edge form.
    val stats = adjPlan.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("nbrs"))), lit(0L)).as("e")).head()
    val nNodes0 = stats.getLong(0)
    val nEdges = stats.getLong(1)
    // Below GatherLoopMaxNodes MEASURED nodes, the degree map lives on
    // the driver and each round is ONE narrow job over the cached
    // adjacency (bad set ships in the round closure; tasks return
    // interleaved decrement partials) — no shuffle stage per round.
    // Same rationale and threshold as the pagerank gather loop.
    if (nNodes0 <= GatherLoopMaxNodes)
      return peelCoreGather(adjPlan, k, maxRounds, nEdges)
    // Width from the TOTAL edge count against the cascade's AMORTIZED
    // work (≤ 2|E| delta entries over the whole cascade): ~4M entries ≈
    // 64 MB per partition — width 1 at sf0.1 (one narrow single-task
    // chain per batch), dozens of partitions at 100 TB where rounds
    // become the same co-partitioned form, wider.
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEdges / NodeRowsPerPartition + 1L)).toInt
    val part = new org.apache.spark.HashPartitioner(loopW)
    val mdisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val adjRdd = adjPlan.select(col("node"), col("nbrs"))
      .as[(Long, Array[Long])].rdd
      .partitionBy(part)
      .persist(mdisk)
    try {
      var deg: org.apache.spark.rdd.RDD[(Long, Long)] =
        adjRdd.mapValues(_.length.toLong)
      def stepOnce(d0: org.apache.spark.rdd.RDD[(Long, Long)])
          : org.apache.spark.rdd.RDD[(Long, Long)] = {
        // decrement pass: primitive pre-combine of the -1 deltas (same
        // LongLongMap rationale as the pagerank step)
        val decr = adjRdd.zipPartitions(d0, preservesPartitioning = false) {
          (ai, di) =>
            val bad = new graft.core.LongLongMap(1 << 10)
            di.foreach { case (n, d) => if (isBad(d)) bad.update(n, 1L) }
            val acc = new graft.core.LongLongMap(1 << 10)
            ai.foreach { case (n, nbrs) =>
              if (bad.contains(n)) {
                var i = 0
                while (i < nbrs.length) { acc.addTo(nbrs(i), -1L); i += 1 }
              }
            }
            acc.iterator
        }.reduceByKey(part, _ + _)
        // merge survivors with decrements: both sides hash(node)-
        // partitioned by `part`, keys unique per side, so a narrow zip
        // with an additive merge IS the old fullOuterJoin-sum (survivor-
        // only keys keep d, decr-only keys surface as the strictly-
        // negative phantom rows the d > 0 guards discount)
        d0.filter { case (_, d) => !isBad(d) }
          .zipPartitions(decr, preservesPartitioning = true) { (si, di) =>
            val m = new graft.core.LongLongMap(1 << 12)
            si.foreach { case (n, d) => m.addTo(n, d) }
            di.foreach { case (n, dd) => m.addTo(n, dd) }
            m.iterator
          }
      }
      // BATCHED cadence unchanged from round 13: FixpointBatch rounds
      // chain lazily; ONE action per batch — the collected per-round
      // census counts — materializes the whole chain (every round ends
      // in a ShuffledRDD whose map stage the scheduler shares between
      // its census reader and the next round, and each chain frame is
      // persisted for the batch so narrow segments do not recompute).
      // Rounds past the cascade's true end are no-ops (empty bad ⇒
      // empty deltas ⇒ deg unchanged), their censuses read 0 and are
      // never recorded — overshoot is compute, never semantics.
      var round = 0
      var live = true
      while (live && round < maxRounds) {
        val nRounds = math.min(FixpointBatch, maxRounds - round)
        val chain = scala.collection.mutable
          .ArrayBuffer[org.apache.spark.rdd.RDD[(Long, Long)]](deg)
        (1 to nRounds).foreach { _ =>
          chain += stepOnce(chain.last).persist(mdisk)
        }
        // census c_j = |isBad(deg_j)| BEFORE round j+1 peels; one action
        // returns c_0..c_{nRounds-1} and materializes the chain (the
        // union includes the carry-over last frame so its blocks are
        // populated before its predecessors are freed)
        val censuses = spark.sparkContext.union(
          chain.zipWithIndex.map { case (d, j) =>
            d.mapPartitions(it =>
              Iterator.single((j, it.count { case (_, dd) => isBad(dd) }.toLong)))
              : org.apache.spark.rdd.RDD[(Int, Long)]
          }.toSeq)
          .reduceByKey(_ + _).collect().toMap
        var j = 0
        while (live && j < nRounds) {
          val b = censuses(j)
          if (b > 0L) { round += 1; removed += ((round.toLong, b)) }
          else live = false
          j += 1
        }
        chain.dropRight(1).foreach(_.unpersist(blocking = false))
        deg = chain.last
      }
      // surviving-subgraph scalars for q195's census (d > 0 is exactly
      // the surviving subgraph — real rows never go negative, phantom
      // rows never go positive); one narrow pass over the final blocks
      val (nNodes, sumD) = deg.mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { case (_, d) => if (d > 0) { n += 1; s += d } }
        Iterator.single((n, s))
      }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      deg.unpersist(blocking = false)
      (nNodes, sumD, removed.toList)
    } finally {
      adjRdd.unpersist(blocking = false)
    }
  }

  /** Driver-gather peel for graphs whose MEASURED node count fits driver
    * memory (≤ [[GatherLoopMaxNodes]]): the degree map lives on the
    * driver; the adjacency stays distributed and cached. Per round: the
    * bad set (0 < d < k) comes from one scan of the driver map, ships in
    * the round closure, each task pre-combines its partition's −1 deltas
    * in a primitive map, and the driver merges the ≤ loopW partials —
    * removing this round's bad nodes first (the survivor filter) and
    * then summing deltas, so decrement-only keys surface as the same
    * strictly-negative phantom entries the distributed form carries.
    * Census semantics identical: one (round, n_bad) row per non-empty
    * round, stop at the first empty one. */
  private def peelCoreGather(adjPlan: DataFrame, k: Int, maxRounds: Int,
      nEdges: Long): (Long, Long, Seq[(Long, Long)]) = {
    val spark = adjPlan.sparkSession
    import spark.implicits._
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEdges / NodeRowsPerPartition + 1L)).toInt
    val adj = adjPlan.select(col("node"), col("nbrs"))
      .as[(Long, Array[Long])].rdd
      .coalesce(loopW)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var deg = new graft.core.LongLongMap(1 << 12)
      adj.mapPartitions { it =>
        val m = new graft.core.LongLongMap(1 << 12)
        it.foreach { case (n, nbrs) => m.update(n, nbrs.length.toLong) }
        val flat = new Array[Long](m.size * 2)
        var w = 0
        m.foreachEntry { (n, d) => flat(w) = n; flat(w + 1) = d; w += 2 }
        Iterator.single(flat)
      }.collect().foreach { flat =>
        var i = 0
        while (i < flat.length) { deg.update(flat(i), flat(i + 1)); i += 2 }
      }
      val removed = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var round = 0
      var live = true
      while (live && round < maxRounds) {
        val badBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
        deg.foreachEntry { (n, d) => if (d > 0 && d < k) badBuf += n }
        if (badBuf.isEmpty) live = false
        else {
          round += 1
          removed += ((round.toLong, badBuf.length.toLong))
          val bad = badBuf.toArray
          val partials = adj.mapPartitions { it =>
            val bs = new graft.core.LongLongMap(math.max(16, bad.length * 2))
            var j = 0
            while (j < bad.length) { bs.update(bad(j), 1L); j += 1 }
            val acc = new graft.core.LongLongMap(1 << 10)
            it.foreach { case (n, nbrs) =>
              if (bs.contains(n)) {
                var i = 0
                while (i < nbrs.length) { acc.addTo(nbrs(i), -1L); i += 1 }
              }
            }
            val flat = new Array[Long](acc.size * 2)
            var w = 0
            acc.foreachEntry { (n, v) => flat(w) = n; flat(w + 1) = v; w += 2 }
            Iterator.single(flat)
          }.collect()
          // survivor filter (drop this round's bad rows), then deltas
          val bs = new graft.core.LongLongMap(math.max(16, bad.length * 2))
          bad.foreach(n => bs.update(n, 1L))
          val next = new graft.core.LongLongMap(math.max(16, deg.size * 2))
          deg.foreachEntry { (n, d) => if (!bs.contains(n)) next.update(n, d) }
          partials.foreach { flat =>
            var i = 0
            while (i < flat.length) { next.addTo(flat(i), flat(i + 1)); i += 2 }
          }
          deg = next
        }
      }
      var nNodes = 0L
      var sumD = 0L
      deg.foreachEntry { (_, d) => if (d > 0) { nNodes += 1; sumD += d } }
      (nNodes, sumD, removed.toList)
    } finally {
      adj.unpersist(blocking = false)
    }
  }

  /** q229: market-basket ASSOCIATION RULES over the co-purchase scaffold —
    * the classic retail-analytics operator the pair family (q93/q104) was
    * still missing as a first-class relation: for every directed rule
    * u → v with co-order count w ≥ minW, exact integer support,
    * confidence, and lift in ppm. All arithmetic is int64 floor division
    * on non-negative operands (DuckDB `//`-portable); lift's numerator
    * w · n_orders · 10⁶ stays under 2⁶³ for any corpus whose order count
    * fits an int (overflow at ~9·10¹⁸).
    *
    * Scale shape: rules reuse the memoized pair scaffold (built once per
    * corpus snapshot); the per-part order counts are one aggregation of
    * the order-part relation, joined keyed on u and then v; the 1-row
    * n_orders frame arrives by broadcast; top-N is a TakeOrdered, never a
    * global sort. */
  def associationRules(spark: SparkSession, dir: String,
      minW: Long = 3L, topN: Int = 20): DataFrame =
    associationRulesOf(coPurchasePairs(spark, dir),
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      minW, topN)

  /** [[associationRules]] over explicit (u,v,w) pairs and an (ok, pk)
    * order-part relation (need not be pre-deduplicated). */
  private[analytics] def associationRulesOf(pairs: DataFrame,
      orderParts: DataFrame, minW: Long, topN: Int): DataFrame = {
    val op = Caches.scratch(orderParts.select(col("ok"), col("pk")).distinct())
    val perPart = op.groupBy(col("pk")).agg(count(lit(1)).as("n_u"))
    val nOrders = op.select(countDistinct(col("ok")).as("n_orders"))
    val bidir = pairs.select(col("u"), col("v"), col("w"))
      .unionAll(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
      .filter(col("w") >= minW)
    bidir
      .join(perPart.select(col("pk").as("u"), col("n_u").as("orders_u")), Seq("u"))
      .join(perPart.select(col("pk").as("v"), col("n_u").as("orders_v")), Seq("v"))
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("w").cast("long").as("w"),
        expr("w * 1000000 div orders_u").cast("long").as("conf_ppm"),
        expr("w * 1000000 div n_orders").cast("long").as("supp_ppm"),
        expr("(w * n_orders * 1000000) div (orders_u * orders_v)")
          .cast("long").as("lift_ppm"))
      .orderBy(col("conf_ppm").desc, col("lift_ppm").desc,
        col("u").asc, col("v").asc)
      .limit(topN)
      .orderBy(col("conf_ppm").desc, col("lift_ppm").desc,
        col("u").asc, col("v").asc)
  }

  /** q233: WEIGHTED single-source cheapest-path census (distributed
    * Bellman-Ford) — the graph family's missing metric kernel: q109's BFS
    * counts hops, this relaxes integer COSTS (cost = 10⁶ div w, so
    * frequently-co-purchased parts are "close"). Per relaxation round:
    * one keyed join of the frontier against the edge list + a min
    * aggregation — the canonical distributed Bellman-Ford step. Distances
    * only decrease, so the fixpoint early-exit is consistent with ANY
    * oracle unroll count ≥ the convergence round (3-4 on this graph,
    * 8 unrolled): a converged round is the identity.
    *
    * Output is the distance census (dist_ppm, n_nodes) — domain-sized
    * (distinct path costs), never per-node.
    *
    * Scale shape: the edge list is scratch-pinned at full shuffle width
    * on the join key; per-round frames are node-sized and checkpointed
    * eagerly (the round references `dist` twice: relax + union). The
    * driver holds only the source id and the convergence flag. */
  def cheapestPathCensus(spark: SparkSession, dir: String,
      maxRounds: Int = 8): DataFrame =
    cheapestPathFromAdj(
      coPurchaseAdjacency(spark, dir)
        .select(col("node"), expr(
          "transform(nbrs, x -> struct(x.v AS v, 1000000 div x.w AS c))")
          .as("outs")),
      maxRounds)

  private[analytics] def cheapestPathCensusOf(pairs: DataFrame,
      maxRounds: Int): DataFrame =
    cheapestPathFromAdj(
      pairs.select(col("u").as("node"),
          struct(col("v"), expr("1000000 div w").as("c")).as("nb"))
        .unionAll(pairs.select(col("v").as("node"),
          struct(col("u").as("v"), expr("1000000 div w").as("c")).as("nb")))
        .repartition(fullWidth(pairs), col("node"))
        .groupBy(col("node"))
        .agg(collect_list(col("nb")).as("outs")),
      maxRounds)

  /** The q233 Bellman-Ford loop over a prebuilt costed out-adjacency plan
    * (node, outs: array<struct<v, c>>). Same round-13 kernel shape as the
    * converged pagerank: loop-width adjacency checkpoint (width from the
    * measured edge count), co-partitioned SHUFFLE_HASH joins (the dist
    * frame lands hash(node)-partitioned from each round's aggregation),
    * rounds batched lazily behind ONE fixpoint anti-join action per
    * [[FixpointBatch]]. Rounds past the fixpoint re-derive the identical
    * dist map (relaxation is monotone and already stable), so batch
    * overshoot is compute, never semantics. */
  private def cheapestPathFromAdj(adjPlan: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = adjPlan.sparkSession
    import spark.implicits._
    // Round-14 (verdict item 1): RDD relaxation loop — same shape as the
    // converged pagerank (explicit HashPartitioner, zero Catalyst per
    // round, batched rounds behind one action, consecutive-pair fixpoint
    // via a narrow zipPartitions count). Arithmetic unchanged: d + c on
    // non-negative longs, min() is order-independent, so the dist map is
    // bit-identical to the round-13 Dataset form.
    val stats = adjPlan.agg(min(col("node")).as("src"),
      coalesce(sum(size(col("outs"))), lit(0L)).as("e"),
      count(lit(1)).as("n")).head()
    val src = stats.getLong(0)
    val nEdges = stats.getLong(1)
    val nNodes = stats.getLong(2)
    // Below GatherLoopMaxNodes MEASURED nodes the dist map lives on the
    // driver and each relaxation round is ONE narrow job (same rationale
    // and threshold as the pagerank gather loop).
    if (nNodes <= GatherLoopMaxNodes)
      return cheapestPathGather(adjPlan, maxRounds, src, nEdges)
    // per-round work re-explodes every reached node's out-list, so the
    // width follows the PER-ROUND edge count like the pagerank loop
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEdges / LoopEdgesPerPartition + 1L)).toInt
    val part = new org.apache.spark.HashPartitioner(loopW)
    val mdisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val adjRdd = adjPlan.select(col("node"), col("outs"))
      .as[(Long, Array[(Long, Long)])].rdd
      .partitionBy(part)
      .persist(mdisk)
    try {
      var dist: org.apache.spark.rdd.RDD[(Long, Long)] = spark.sparkContext
        .parallelize(Seq((src, 0L)), 1)
        .partitionBy(part)
      // Same primitive pre-combine shape as the pagerank step: the zip
      // seeds the accumulator with d0's own entries (the old unionAll
      // leg) and min-combines every relaxed candidate; min is order-
      // independent, so the per-partition pre-min plus the shuffle-side
      // min reduce is exactly the old global min.
      def relax(d0: org.apache.spark.rdd.RDD[(Long, Long)])
          : org.apache.spark.rdd.RDD[(Long, Long)] =
        adjRdd.zipPartitions(d0, preservesPartitioning = false) { (ai, di) =>
          val dist = new graft.core.LongLongMap(1 << 12)
          di.foreach { case (n, d) => dist.update(n, d) }
          val acc = new graft.core.LongLongMap(1 << 12)
          dist.foreachEntry((n, d) => acc.minTo(n, d))
          ai.foreach { case (n, outs) =>
            val d = dist.getOrElse(n, Long.MinValue)
            if (d != Long.MinValue) {
              var i = 0
              while (i < outs.length) {
                val nb = outs(i); acc.minTo(nb._1, d + nb._2); i += 1
              }
            }
          }
          acc.iterator
        }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      var round = 0
      var converged = false
      var live: org.apache.spark.rdd.RDD[(Long, Long)] = null
      while (!converged && round < maxRounds) {
        val nRounds = math.min(FixpointBatch, maxRounds - round)
        var prev = dist
        var last = dist
        (1 to nRounds).foreach { _ => prev = last; last = relax(last) }
        round += nRounds
        last.persist(mdisk)
        // exact fixpoint: no (node, d) pair of the batch's last round
        // differs from its predecessor — narrow co-partitioned zip
        val changed = last.zipPartitions(prev) { (a, b) =>
          // boxed map: a Long-valued scala map would silently unbox an
          // absent key's null to 0L and break the membership test
          val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          b.foreach { case (n, v) => m.put(n, v) }
          var c = 0L
          a.foreach { case (n, v) =>
            val got = m.get(n)
            if (got == null || got.longValue() != v) c += 1L
          }
          Iterator.single(c)
        }.fold(0L)(_ + _)
        converged = changed == 0L
        if (live != null) live.unpersist(blocking = false)
        live = last
        dist = last
      }
      Caches.trackRdd(spark, dist)
      dist.toDF("node", "d")
        .groupBy(col("d").as("dist_ppm"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(col("dist_ppm").cast("long").as("dist_ppm"),
          col("n_nodes").cast("long").as("n_nodes"))
        .orderBy(col("dist_ppm").asc)
    } finally {
      adjRdd.unpersist(blocking = false)
    }
  }

  /** Driver-gather Bellman-Ford for graphs whose MEASURED node count
    * fits driver memory (≤ [[GatherLoopMaxNodes]]): the dist map lives
    * on the driver, the costed adjacency stays distributed and cached
    * (projected to one INTERLEAVED long[] per node — [v0,c0,v1,c1,…] —
    * so the one-time Dataset→RDD conversion moves primitive arrays, not
    * per-edge tuple objects). Per round: the dist map ships in the round
    * closure, tasks min-combine their partition's relaxation candidates
    * in a primitive map, the driver min-merges the ≤ loopW partials into
    * the dist map (the old unionAll leg is the map itself). min() is
    * order-independent, so the dist map is bit-identical to the
    * distributed form's. */
  private def cheapestPathGather(adjPlan: DataFrame, maxRounds: Int,
      src: Long, nEdges: Long): DataFrame = {
    val spark = adjPlan.sparkSession
    import spark.implicits._
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEdges / LoopEdgesPerPartition + 1L)).toInt
    val adj = adjPlan.select(col("node"),
        expr("flatten(transform(outs, x -> array(x.v, x.c)))").as("flat"))
      .as[(Long, Array[Long])].rdd
      .coalesce(loopW)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dist = new graft.core.LongLongMap(1 << 10)
      dist.update(src, 0L)
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val flatDist = new Array[Long](dist.size * 2)
        var w = 0
        dist.foreachEntry { (n, d) => flatDist(w) = n; flatDist(w + 1) = d; w += 2 }
        val partials = adj.mapPartitions { it =>
          val idx = new graft.core.LongLongMap(math.max(16, flatDist.length))
          var j = 0
          while (j < flatDist.length) {
            idx.update(flatDist(j), flatDist(j + 1)); j += 2
          }
          val acc = new graft.core.LongLongMap(1 << 10)
          it.foreach { case (n, flat) =>
            val d = idx.getOrElse(n, Long.MinValue)
            if (d != Long.MinValue) {
              var i = 0
              while (i < flat.length) {
                acc.minTo(flat(i), d + flat(i + 1)); i += 2
              }
            }
          }
          val out = new Array[Long](acc.size * 2)
          var k2 = 0
          acc.foreachEntry { (n, v) => out(k2) = n; out(k2 + 1) = v; k2 += 2 }
          Iterator.single(out)
        }.collect()
        var changed = false
        partials.foreach { flat =>
          var i = 0
          while (i < flat.length) {
            val n = flat(i); val cand = flat(i + 1)
            val cur = dist.getOrElse(n, Long.MinValue)
            if (cur == Long.MinValue || cand < cur) {
              dist.update(n, cand); changed = true
            }
            i += 2
          }
        }
        converged = !changed
        round += 1
      }
      // distance census on the driver: |reached| ≤ GatherLoopMaxNodes
      val byDist = new graft.core.LongLongMap(1 << 10)
      dist.foreachEntry { (_, d) => byDist.addTo(d, 1L) }
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      byDist.foreachEntry { (d, n) => rows += ((d, n)) }
      rows.sortBy(_._1).toSeq
        .toDF("dist_ppm", "n_nodes").orderBy(col("dist_ppm").asc)
    } finally {
      adj.unpersist(blocking = false)
    }
  }

  /** q245: MODULARITY census of a node partition — Newman's Q for the
    * brand partition of the co-purchase graph, the "is this grouping a
    * real community structure?" number (Q > 0: denser inside brands
    * than a degree-preserving random graph; Q ≈ 0: brands are
    * cosmetic). Exact integer form: with m edges, community internal
    * edges e_c and degree sum d_c, Q·4m² = Σ_c (4·m·e_c − d_c²) — the
    * num/den discipline of q190's assortativity, so no float reaches
    * the gate. Per community: node count, e_c, d_c, the Q-term
    * numerator, and m (constant column) for self-contained consumption.
    * Bounds: d_c ≤ 2m, so terms stay in int64 up to ~10⁹ edges per
    * community — beyond that, scale the ppm form.
    *
    * Scale shape: the brand map is a broadcast dimension; internal
    * edges are one filtered aggregation of the labeled edge list;
    * degree sums reuse the node-degree aggregation joined to the
    * broadcast map. Nothing pairs, nothing windows. */
  def brandModularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir).select(col("u"), col("v"))
    val brand = Tables.part(spark, dir)
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
    val lab = pairs
      .join(broadcast(brand.select(col("pk").as("u"), col("brand").as("bu"))), Seq("u"))
      .join(broadcast(brand.select(col("pk").as("v"), col("brand").as("bv"))), Seq("v"))
    val m = lab.agg(count(lit(1)).as("m"))
    val internal = lab.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg(count(lit(1)).as("e_c"))
    val nodeDeg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val byBrand = nodeDeg
      .join(broadcast(brand.select(col("pk").as("n"), col("brand"))), Seq("n"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
    byBrand.join(internal, Seq("brand"), "left")
      .crossJoin(broadcast(m))
      .select(col("brand"),
        col("n_nodes").cast("long").as("n_nodes"),
        coalesce(col("e_c"), lit(0L)).cast("long").as("internal_edges"),
        col("d_c").cast("long").as("degree_sum"),
        col("m").cast("long").as("m"),
        expr("4 * m * coalesce(e_c, 0) - d_c * d_c").cast("long")
          .as("q_num"))
      .orderBy(col("brand").asc)
  }

  /** q188-family: degree assortativity of the co-purchase graph — do
    * high-degree parts co-occur with other high-degree parts (r > 0) or
    * with leaves (r < 0)? Newman's r is the Pearson correlation of the
    * endpoint degrees over the DIRECTED edge view (each undirected edge
    * counted both ways). Degrees are integers, so every Pearson term is
    * exact int64: with n = 2m directed pairs, Sx = Σ(dᵤ+dᵥ),
    * Sxy = 2·Σdᵤdᵥ, Sxx = Σ(dᵤ²+dᵥ²), we ship r_num = n·Sxy − Sx² and
    * r_den = n·Sxx − Sx² (symmetric, so one denominator factor) —
    * r = r_num / r_den, no double in the gate. (Bound: with max degree
    * d and m edges, terms are ≤ 2m·d² — inside int64 for any graph
    * whose edge list fits a cluster.)
    *
    * Scale shape: reuses the memoized pair scaffold; two nodes-frame
    * shuffle joins tag each edge with its endpoint degrees (no
    * broadcast — the degree frame is |V|-sized), then a single global
    * aggregate. Nothing beyond the edge list is ever materialized. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativityOf(coPurchasePairs(spark, dir).select(col("u"), col("v")))

  /** Assortativity over arbitrary undirected (u < v) distinct edges. */
  private[analytics] def degreeAssortativityOf(edges: DataFrame): DataFrame = {
    // The degree frame is NODE-sized and read twice — materialize it
    // once and broadcast while the measured count fits (the peelCore /
    // pagerank discipline): the edge list is then scanned ONCE through
    // two broadcast-hash probes instead of paying two shuffled joins.
    val deg = Caches.scratch(edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val hint: DataFrame => DataFrame =
      if (deg.count() <= TrickleBroadcastRows) broadcast(_) else identity
    edges
      .join(hint(deg.select(col("n").as("u"), col("d").as("du"))), Seq("u"))
      .join(hint(deg.select(col("n").as("v"), col("d").as("dv"))), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("dv")).as("sxyh"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"))
      .select(col("m").cast("long").as("n_edges"),
        expr("4 * m * sxyh - sx * sx").cast("long").as("r_num"),
        expr("2 * m * sxx - sx * sx").cast("long").as("r_den"))
  }

  /** q195: bounded-round k-core peeling — the density-cohesion kernel
    * that triangles (local) and components (global) both miss: the
    * maximal subgraph where every node keeps ≥ k neighbors, found by
    * repeatedly deleting under-degree nodes. Like the hop-bounded reach
    * (q109), rounds are FIXED (default 8), so the result is a
    * deterministic relation both engines compute identically; on the
    * co-purchase graph the cascade provably converges in 5 rounds at
    * k = 80 (round 6+ is a fixpoint), so the bound is documentation,
    * not approximation, at test scale.
    *
    * Scale shape: the same incremental-degree [[peelCore]] loop as the
    * q228 cascade (one fused node-sized job per round, trickle joins
    * hinted on driver-measured counts); the census then folds the FINAL
    * degree frame in one aggregate — n_nodes = nodes with d > 0 (a node
    * that lost every edge vanishes from an edge-derived count, and its
    * inert d = 0 row matches that exactly), n_edges = Σd / 2 (the
    * degree sum over the symmetrized list double-counts each surviving
    * undirected edge). Under-degree nodes left by an exhausted rounds
    * budget still carry d > 0 and stay in both counts, exactly like the
    * edge-list form they replaced. */
  def kCoreCensus(spark: SparkSession, dir: String,
      k: Int = 80, rounds: Int = 8): DataFrame =
    kCoreCensusFromAdj(
      coPurchaseAdjacency(spark, dir)
        .select(col("node"), expr("transform(nbrs, x -> x.v)").as("nbrs")),
      k, rounds)

  private[analytics] def kCoreCensusOf(edges0: DataFrame,
      k: Int, rounds: Int): DataFrame =
    kCoreCensusFromAdj(adjacencyOf(edges0), k, rounds)

  private def kCoreCensusFromAdj(adjPlan: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    // peelCore reduces the final degree frame to the two surviving-
    // subgraph scalars inside its own loop (d > 0 is exactly the
    // surviving subgraph: a removed node u's pinned-edge deltas can
    // target neighbors removed in EARLIER rounds, creating phantom rows
    // with strictly negative d; real rows never go negative — a node
    // reaches d = 0 only when its last neighbor is removed, after which
    // no remaining edge can decrement it). The 1-row census is driver-
    // built, like q228's removal census. n_edges halves the symmetrized
    // degree sum with integer division (even by construction; a double
    // `/` would lose exactness past 2^53 at 100 TB).
    val (nNodes, sumD, _) = peelCore(adjPlan, k, rounds)
    val spark = adjPlan.sparkSession
    import spark.implicits._
    Seq((k.toLong, nNodes, sumD / 2))
      .toDF("core_k", "n_nodes", "n_edges")
  }

  /** q289: RECOMMENDER BACKTEST — temporal-split hit-rate@k evaluation of
    * the co-occurrence recommender. Orders are split by date (first 80%
    * of the date RANGE trains, the rest tests — the cross-multiplied
    * `(d − lo)·5 < (hi − lo)·4` predicate keeps it integer-exact in both
    * engines); the item-item top-k is built on TRAIN co-occurrence only
    * (w desc, rec asc — the q104 contract, via the same map-side TopK
    * Aggregator); an eval anchor is a (test-order, part) occurrence whose
    * part has any train-side recommendation, and it HITS at k if one of
    * its top-k co-items appears in the same test order. This is the
    * leakage-free offline eval every production recommender ships with —
    * training on the full corpus and evaluating in-sample (the q104
    * surface alone) overstates quality.
    *
    * Scale shape: within-order pair expansions are bounded by order size
    * (the q93 scaffold argument) and run IN-ROW over per-order part
    * arrays — round-14 replaced both self-joins (train co-occurrence,
    * test pairs) with one exchange-free per-order collect_set aggregate
    * over the order-partitioned lineitem plus array `transform`
    * expansions, the same rewrite as the pair scaffold (coOrderPairs);
    * the top-k is a partial-combining Aggregator (≤k rows per anchor
    * cross the wire), and the hit probe is an equi-join of test pairs
    * against the ≤k-per-anchor rec table. */
  def recBacktest(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey").as("part"))
    val bounds = orders.agg(min(col("o_orderdate")).as("lo"),
      max(col("o_orderdate")).as("hi"))
    // one row per ORDER: its train/test tag (a function of the order
    // date alone) and its sorted distinct part set (collect_set dedups
    // duplicate lines; bounded by order size). The broadcast-joined
    // lineitem keeps its order-key partitioning, so the groupBy is
    // exchange-free.
    val perOrder = Caches.scratch(orders.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"),
        (datediff(col("o_orderdate"), col("lo")) * 5 <
          datediff(col("hi"), col("lo")) * 4).as("is_train"))
      .join(li, Seq("o_orderkey"))
      .groupBy(col("o_orderkey").as("ord"))
      .agg(first(col("is_train")).as("is_train"),
        expr("sort_array(collect_set(part))").as("parts")))
    // all ORDERED within-order pairs (x != y, both directions) as an
    // in-row array expansion — one row per co-occurrence instance,
    // exactly the rows the former self-join produced
    def orderedPairs(po: DataFrame): DataFrame = po
      .select(col("ord"), explode(expr(
        """flatten(transform(parts, x ->
          |  transform(filter(parts, y -> y != x),
          |            y -> struct(x AS a, y AS b))))""".stripMargin))
        .as("p"))
      .select(col("ord"), col("p.a"), col("p.b"))
    val cow = orderedPairs(perOrder.filter(col("is_train")))
      .groupBy(col("a").as("anchor"), col("b").as("rec"))
      .agg(count(lit(1)).as("w"))
    val top = new graft.functions.TopKPairsAgg(k).toColumn
    val recs = Caches.scratch(cow
      .select(col("anchor").cast("long"), col("rec").cast("long"),
        col("w").cast("long")).as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(top.name("top"))
      .flatMap { case (anchor, lst) =>
        lst.iterator.zipWithIndex.map { case ((rec, _), i) =>
          (anchor, rec, (i + 1).toLong)
        }
      }
      .toDF("anchor", "rec", "rk"))
    val testOrders = perOrder.filter(!col("is_train"))
    val test = testOrders
      .select(col("ord"), explode(col("parts")).as("part"))
    val anchors = test
      .join(recs.select(col("anchor").as("part")).distinct(), Seq("part"),
        "leftsemi")
    val testPairs = orderedPairs(testOrders)
      .select(col("ord"), col("a").as("anchor"), col("b").as("other"))
    val perAnchor = testPairs
      .join(recs, testPairs("anchor") === recs("anchor")
        && col("other") === recs("rec"))
      .groupBy(col("ord"), testPairs("anchor"))
      .agg(min(col("rk")).as("min_rk"))
    val hitRow = perAnchor.agg(
      coalesce(sum((col("min_rk") <= 1).cast("long")), lit(0L)).as("h1"),
      coalesce(sum((col("min_rk") <= 2).cast("long")), lit(0L)).as("h2"),
      coalesce(sum((col("min_rk") <= 3).cast("long")), lit(0L)).as("h3"))
    anchors.agg(count(lit(1)).as("n_anchors")).crossJoin(hitRow)
      .selectExpr("n_anchors",
        "stack(3, 1, h1, 2, h2, 3, h3) AS (k, n_hits)")
      .select(col("k").cast("long").as("k"),
        col("n_anchors").cast("long").as("n_anchors"),
        col("n_hits").cast("long").as("n_hits"),
        expr("n_hits * 1000000 div greatest(1L, n_anchors)").cast("long")
          .as("hit_ppm"))
      .orderBy(col("k").asc)
  }
}
