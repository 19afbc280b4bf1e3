package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, LongLongMap, Tables}

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
    * Scale shape: the [[PageRank]] kernel on the [[nodeLoop]] runner with
    * `maxRounds = iters` — the q227 loop itself. Its early stop fires only
    * once r_t = r_(t−1), after which every later round repeats r_t, so a
    * run capped at `iters` rounds yields exactly r_iters. Undirected
    * symmetric edges mean every node has out-degree ≥ 1 — no dangling-
    * mass redistribution term needed.
    *
    * Overflow headroom: Σ contribs ≤ total mass = n·10⁶, so the ×17 stays
    * within Long for n up to ~5·10¹¹ nodes. */
  def pageRankPpm(spark: SparkSession, dir: String,
                  iters: Int = 3, topK: Int = 10): DataFrame =
    pageRankTop(coPurchaseNeighbors(spark, dir), topK, iters)

  /** [[pageRankPpm]] over an arbitrary undirected (u, v) edge list. */
  def pageRankPpmOf(undirected: DataFrame,
                    iters: Int = 3, topK: Int = 10): DataFrame =
    pageRankTop(adjacencyOf(undirected), topK, iters)

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
    * Scale shape: the [[PageRank]] kernel on the [[nodeLoop]] runner —
    * per round the rank of every node rides to the tasks holding its
    * adjacency row, each task pre-combines its contributions in a
    * primitive map, and the combined sums take the damping step. The
    * result is the topK panel of the final rank frame.
    *
    * The fixpoint test always compares CONSECUTIVE rounds, so a floor-
    * arithmetic CYCLE (period > 1, which irregular graphs can enter
    * instead of a fixpoint) simply never fires the early stop and the
    * loop runs to maxIters — exactly the r_maxIters the unrolled oracle
    * evaluates, so the two engines still agree bit-for-bit; and a
    * fixpoint reached mid-batch is detected at the batch edge with the
    * identical final frame. */
  def pageRankConvergedPpm(spark: SparkSession, dir: String,
      topK: Int = 10, maxIters: Int = 64): DataFrame =
    pageRankTop(coPurchaseNeighbors(spark, dir), topK, maxIters)

  private[analytics] def pageRankConvergedPpmOf(undirected: DataFrame,
      topK: Int, maxIters: Int): DataFrame =
    pageRankTop(adjacencyOf(undirected), topK, maxIters)

  /** The (rank, node, rank_ppm) topK panel after at most `rounds`
    * PageRank rounds over a plain adjacency plan (node, nbrs). */
  private def pageRankTop(adj: DataFrame, topK: Int, rounds: Int): DataFrame = {
    // domain-sized: applied to the topK-row TakeOrdered frame below
    val w = Window.orderBy(col("rank_ppm").desc, col("node").asc)
    nodeLoop(adj, rounds, PageRank).values
      .select(col("node"), col("value").as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("node"), col("rank_ppm"))
      .orderBy(col("rank").asc)
  }

  /** Node-count ceiling for the driver-gather rounds of [[nodeLoop]]:
    * below it the state (one primitive map of ≤ this many entries) is
    * ≤ ~16 MB on the driver, plus its active entries in each round
    * closure when the rounds run as jobs — cheaper than any shuffle
    * stage; above it the loop runs its fully distributed co-partitioned
    * rounds. A measured scalar, not an estimate (same discipline as
    * [[TrickleBroadcastRows]]). A var only so GraphsSpec can force the
    * distributed path on small fixtures and pin the paths'
    * bit-equivalence. */
  private[analytics] var GatherLoopMaxNodes = 500000L

  /** q228: k-core peel CASCADE census — the unbounded-iteration k-core
    * (round-7 stretch item 8): peel under-degree nodes until the true
    * fixpoint, emitting one row per round (round, n_removed). At k=85
    * the co-purchase graph is the demonstration case for why the
    * bounded form (q195, 8 rounds) is an approximation: the cascade
    * runs 9 rounds at sf0.01 and 38 at sf0.1 before emptying — a fixed
    * bound either lies or wastes rounds, convergence does neither.
    *
    * Scale shape: the incremental-degree [[peel]] kernel on the
    * [[nodeLoop]] runner; n_removed is the runner's per-round census of
    * active (peeled) nodes. The result frame is driver-built from
    * ≤ maxRounds scalars — domain-sized by construction. */
  def kCorePeelCensus(spark: SparkSession, dir: String,
      k: Int = 85, maxRounds: Int = 64): DataFrame =
    peelCensus(coPurchaseNeighbors(spark, dir), k, maxRounds)

  private[analytics] def kCorePeelCensusOf(spark: SparkSession,
      edges0: DataFrame, k: Int, maxRounds: Int): DataFrame =
    peelCensus(adjacencyOf(edges0), k, maxRounds)

  private def peelCensus(adj: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    nodeLoop(adj, maxRounds, peel(k)).census.zipWithIndex
      .map { case (n, i) => (i + 1L, n) }
      .toDF("round", "n_removed").orderBy(col("round").asc)
  }

  /** Broadcast a node-sized frame only while it provably fits: 4M ids
    * ≈ 64 MB of longs — above that fall back to a shuffle join (the
    * driver KNOWS the exact row count, so this is adaptive on a
    * measured scalar, not an estimate). */
  private val TrickleBroadcastRows = 4000000L

  /** Rounds chained lazily behind one action on the distributed path of
    * [[nodeLoop]]. 8 cuts the 46-round sf0.1 pagerank fixpoint to 6
    * scheduled actions; the worst case pays FixpointBatch−1 no-op rounds
    * of node-sized compute past the true fixpoint, which is noise next
    * to the per-action scheduling cost this exists to amortize. */
  private val FixpointBatch = 8

  /** Adjacency row entries per partition for [[nodeLoop]]'s loop width
    * (the rows are the per-partition payload, so the width must follow
    * the EDGE count, not the node count). ~600k entries ≈ one
    * stage-latency quantum of relax work per task (round-13 width sweep:
    * 32 wide was stage-latency-bound, 1 wide serialized ~110M row-ops).
    * Below one partition's worth the gather rounds run in the driver. A
    * var only so GraphsSpec can force the job-per-round path on small
    * fixtures. */
  private[analytics] var LoopEdgesPerPartition = 600000L

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

  /** The memoized [[coPurchaseAdjacency]] as a plain adjacency plan
    * (node, nbrs: array<node>), weights dropped. */
  private def coPurchaseNeighbors(spark: SparkSession, dir: String): DataFrame =
    coPurchaseAdjacency(spark, dir).select(col("node"), col("nbrs.v").as("nbrs"))

  /** Value of a node the loop state does not hold: no round-0 value, or
    * dropped by an advance (a state advanced in place keeps a dropped
    * node as an Absent-valued entry, which every reader skips). */
  private val Absent = Long.MinValue

  /** One iterative graph kernel over a per-node long state, as
    * [[nodeLoop]] runs it. Each adjacency row is (node, row: long[]); the
    * kernel states its round once, and both execution paths run it:
    *  - `init(node, row, first)`: the round-0 value (Absent: not in the
    *    state); `first` is the least node id, a single-source kernel's
    *    source;
    *  - `active(value)`: whether the node relaxes its row this round;
    *    each round's count of active nodes is the runner's census;
    *  - `relax(value, row, acc)`: push the node's contributions into a
    *    primitive accumulator with the combine's own op (addTo, minTo);
    *  - `combine`: merges two contributions to one node (sum or min);
    *  - `advance(prev, combined)`: the next value from the previous one
    *    and the combined contributions (either may be Absent; Absent
    *    drops the node).
    * Contract: a round in which no node is active is the identity —
    * `advance(v, Absent) == v` for every inactive v — so a zero census is
    * a fixpoint and ends the loop without running the round. */
  private final case class Kernel(
      init: (Long, Array[Long], Long) => Long,
      active: Long => Boolean,
      relax: (Long, Array[Long], LongLongMap) => Unit,
      combine: (Long, Long) => Long,
      advance: (Long, Long) => Long)

  /** PageRank in ppm over (node, neighbors): every node starts at 10⁶,
    * sends `rank div deg` (deg = size of its row) to each neighbor, and
    * the summed contributions s take the damping step
    * `150000 + (s × 17) div 20`. A node no contribution reaches drops
    * (none does on a symmetric graph). */
  private val PageRank = Kernel(
    init = (_, _, _) => 1000000L,
    active = _ => true,
    relax = (rank, outs, acc) => {
      val contrib = rank / outs.length
      var i = 0
      while (i < outs.length) { acc.addTo(outs(i), contrib); i += 1 }
    },
    combine = _ + _,
    advance = (_, s) => if (s == Absent) Absent else 150000L + (s * 17L) / 20L)

  /** Incremental-degree k-core peel over (node, neighbors): the state is
    * each node's live degree, a node with 0 < d < k is peeled (active),
    * and each peeled node sends −1 to every neighbor. A survivor keeps
    * d plus its decrements; a peeled node keeps only the decrements it
    * received — Absent (gone) or a strictly negative phantom that no
    * `d > 0` guard counts.
    *
    * Census equivalence with the edge-list formulation is exact but has
    * one subtlety: a node that loses ALL its edges in one round vanishes
    * from an edge-derived degree aggregate (never counted as removed),
    * so `active` requires d > 0 — zero-degree rows stay behind, inert and
    * invisible, exactly like an isolated node in the edge form. The
    * degree re-aggregation per round is redundant by induction: a
    * survivor's degree changes only by edges shared with the peeled
    * trickle. */
  private def peel(k: Int): Kernel = {
    def isBad(d: Long): Boolean = d > 0 && d < k
    Kernel(
      init = (_, nbrs, _) => nbrs.length.toLong,
      active = isBad,
      relax = (_, nbrs, acc) => {
        var i = 0
        while (i < nbrs.length) { acc.addTo(nbrs(i), -1L); i += 1 }
      },
      combine = _ + _,
      advance = (d, decr) =>
        if (d == Absent || isBad(d)) decr
        else if (decr == Absent) d
        else d + decr)
  }

  /** Single-source Bellman-Ford over (node, [v0, c0, v1, c1, …]): the
    * least node id starts at 0, every reached node relaxes d + c to each
    * neighbor, and a node keeps the min of its distance and its
    * candidates. Distances only decrease, so a converged round is the
    * identity. */
  private val CheapestPath = Kernel(
    init = (n, _, first) => if (n == first) 0L else Absent,
    active = _ => true,
    relax = (d, vc, acc) => {
      var i = 0
      while (i < vc.length) { acc.minTo(vc(i), d + vc(i + 1)); i += 2 }
    },
    combine = math.min,
    advance = (d, cand) =>
      if (d == Absent) cand else if (cand == Absent) d else math.min(d, cand))

  /** A [[nodeLoop]] result: the count of active nodes in each round run
    * (the census), and the final per-node state as a (node, value)
    * frame. */
  private final case class Fixpoint(census: Seq[Long], values: DataFrame)

  /** The one runner of the iterative graph kernels (q115, q195, q227,
    * q228, q233): runs `k` over the adjacency plan (node, row:
    * array<bigint>) until a round changes no node's value, or for
    * `maxRounds` rounds.
    *
    * One stats job measures the nodes, the row entries (the loop width:
    * [[LoopEdgesPerPartition]] per partition, at most the session's
    * shuffle width) and the least node id. Then:
    *  - ≤ [[GatherLoopMaxNodes]] nodes: DRIVER-GATHER rounds. The state
    *    lives on the driver as one primitive map, advanced in place.
    *    One round is [[relaxRows]] over every adjacency row: a node reads
    *    its value from the state (the first round evaluates `init` and
    *    seeds the state instead) and, if active, pre-combines its
    *    contributions into a primitive map; the driver then advances
    *    every node. Where the rows run depends on their size:
    *     - fewer than [[LoopEdgesPerPartition]] row entries (loopW = 1):
    *       DRIVER LOOP. The rows are collected once and every round runs
    *       in the driver — no job per round (sf0.01's 2k nodes, 231k
    *       entries: q227's 35 round jobs become none). The collect is
    *       bounded by the stats job's own measurement, nEntries: fewer
    *       than 600k row longs plus one key per row (~5 MB).
    *     - otherwise: ONE NARROW JOB PER ROUND over the adjacency,
    *       coalesced to loopW partitions and cached. The active nodes'
    *       values ride to the tasks in the round closure, each task
    *       returns its contributions as one interleaved long[], and the
    *       driver merges the ≤ loopW partials — no shuffle stage.
    *       Measured at sf0.1 (20k nodes, 46 rounds): a shuffle STAGE
    *       costs ~51 ms in this runtime even for a 20k-row round, so a
    *       shuffle per round has a 2.4 s floor this form does not.
    *  - above it: DISTRIBUTED rounds on raw RDDs with ONE explicit
    *    HashPartitioner — zero Catalyst work per round (the round-13
    *    Dataset loops were driver-planning-bound). The adjacency and the
    *    state are co-partitioned by node; a round is a narrow zip that
    *    relaxes into a primitive pre-combine (reduceByKey's boxed map-side
    *    combine cost ~0.3 s/round at sf0.1), the round's one shuffle of
    *    one entry per (partition, node), and a narrow zip that merges and
    *    advances. [[FixpointBatch]] rounds chain lazily behind ONE action,
    *    which returns every round's census and the changed count of the
    *    batch's last two frames; a zero census or a zero change ends the
    *    loop (rounds past it are no-ops — overshoot is compute, never
    *    semantics). The final state stays persisted for the lazy result
    *    frame and is released with the caller's next releaseScratch.
    * All three run the same kernel functions; every combine is
    * order-independent long arithmetic, so they are bit-identical
    * (GraphsSpec pins it). No session conf is read or set. */
  private def nodeLoop(adjPlan: DataFrame, maxRounds: Int, k: Kernel): Fixpoint = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val spark = adjPlan.sparkSession
    import spark.implicits._
    val adjDf = adjPlan.toDF("node", "row")
    val stats = adjDf.agg(count(lit(1)), coalesce(sum(size(col("row"))), lit(0L)),
      coalesce(min(col("node")), lit(0L))).head()
    val (nNodes, nEntries, first) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val loopW = math.max(1L, math.min(fullWidth(adjPlan).toLong,
      nEntries / LoopEdgesPerPartition + 1L)).toInt
    val rows = adjDf.as[(Long, Array[Long])].rdd
    val mdisk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val census = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (nNodes <= GatherLoopMaxNodes) {
      // bounded: the stats job's nEntries < LoopEdgesPerPartition
      val local = if (nEntries < LoopEdgesPerPartition) rows.collect() else null
      val adj = if (local == null) rows.coalesce(loopW).persist(mdisk) else null
      // one round's seeded state (first round only: `state` is null) and
      // combined contributions
      def round(state: LongLongMap): (LongLongMap, LongLongMap) =
        if (local != null) relaxRows(k, first, local.iterator, state)
        else {
          val ship = if (state == null) null else state.toFlat(isActive(k, _))
          val partials = adj.mapPartitions { it =>
            val (seed, acc) = relaxRows(k, first, it,
              if (ship == null) null else LongLongMap.ofFlat(ship))
            Iterator.single((seed.toFlat(), acc.toFlat()))
          }.collect()
          val seed = new LongLongMap(1 << 12)
          val comb = new LongLongMap(if (ship == null) 1 << 12 else ship.length)
          partials.foreach { case (s, c) =>
            mergeFlat(seed, s, (_, v) => v)
            mergeFlat(comb, c, k.combine)
          }
          (seed, comb)
        }
      try {
        var state: LongLongMap = null // seeded by the first round
        var active = 0L // its active nodes: the next round's census
        var done = false
        while (!done && census.length < maxRounds) {
          val (seed, comb) = round(state)
          if (state == null) {
            state = seed
            state.foreachEntry((_, v) => if (isActive(k, v)) active += 1L)
          }
          // a zero census is a fixpoint (the Kernel contract); only the
          // first round, which seeds the state, can meet one here
          if (active == 0L) done = true
          else {
            census += active
            val (changed, nextActive) = advanceInPlace(k, state, comb)
            active = nextActive
            done = changed == 0L || active == 0L
          }
        }
        Fixpoint(census.toList, spark.sparkContext
          .parallelize(Seq(state.toFlat(_ != Absent)), 1)
          .flatMap(_.grouped(2).map(e => (e(0), e(1)))).toDF("node", "value"))
      } finally {
        if (adj != null) adj.unpersist(blocking = false)
      }
    } else {
      val part = new org.apache.spark.HashPartitioner(loopW)
      val adj = rows.partitionBy(part).persist(mdisk)
      try {
        def round(s: RDD[(Long, Long)]): RDD[(Long, Long)] = {
          val pushed = adj.zipPartitions(s) { (ai, si) =>
            val idx = mapOf(si, k.active)
            val acc = new LongLongMap(1 << 12)
            ai.foreach { case (n, row) =>
              val v = idx.getOrElse(n, Absent)
              if (v != Absent) k.relax(v, row, acc)
            }
            acc.iterator
          }.partitionBy(part)
          s.zipPartitions(pushed, preservesPartitioning = true) { (si, pi) =>
            val comb = new LongLongMap(1 << 12)
            pi.foreach { case (n, x) => comb.merge(n, x, k.combine) }
            val next = mapOf(si)
            advanceInPlace(k, next, comb)
            next.iterator.filter(_._2 != Absent)
          }
        }
        var state: RDD[(Long, Long)] = adj.mapPartitions(_.flatMap { case (n, row) =>
          val v = k.init(n, row, first)
          if (v == Absent) None else Some((n, v))
        }, preservesPartitioning = true)
        var done = false
        while (!done && census.length < maxRounds) {
          val nRounds = math.min(FixpointBatch, maxRounds - census.length)
          val chain = scala.collection.mutable.ArrayBuffer(state)
          (1 to nRounds).foreach(_ => chain += round(chain.last).persist(mdisk))
          // one action: (j, census of round j+1's input) for every round,
          // and (nRounds, changed count of the last two frames)
          val counts = new Array[Long](nRounds + 1)
          spark.sparkContext.union(chain.init.zipWithIndex.map { case (s, j) =>
            s.mapPartitions(it => Iterator.single((j, it.count(e => k.active(e._2)).toLong)))
          }.toSeq :+ chain(nRounds - 1).zipPartitions(chain(nRounds)) { (a, b) =>
            Iterator.single((nRounds, diffCount(mapOf(a), mapOf(b))))
          }).collect().foreach { case (j, c) => counts(j) += c }
          var j = 0
          while (!done && j < nRounds) {
            if (counts(j) == 0L) done = true else census += counts(j)
            j += 1
          }
          done ||= counts(nRounds) == 0L
          chain.init.foreach(_.unpersist(blocking = false))
          state = chain.last
        }
        Caches.trackRdd(spark, state)
        Fixpoint(census.toList, state.toDF("node", "value"))
      } finally {
        // the result frame reads only the FINAL state's blocks — the
        // pinned adjacency owes nothing once the loop exits
        adj.unpersist(blocking = false)
      }
    }
  }

  /** (node, value) pairs whose value passes `keep`, as a primitive map. */
  private def mapOf(it: Iterator[(Long, Long)],
      keep: Long => Boolean = _ => true): LongLongMap = {
    val m = new LongLongMap(1 << 12)
    it.foreach { case (n, v) => if (keep(v)) m.update(n, v) }
    m
  }

  /** Merge interleaved [n0, v0, n1, v1, …] entries into `m` with `f`. */
  private def mergeFlat(m: LongLongMap, flat: Array[Long], f: (Long, Long) => Long): Unit = {
    var i = 0
    while (i < flat.length) { m.merge(flat(i), flat(i + 1), f); i += 2 }
  }

  /** Whether `v` is a state value (not [[Absent]]) whose node is active. */
  private def isActive(k: Kernel, v: Long): Boolean = v != Absent && k.active(v)

  /** One driver-gather round over adjacency `rows`, as both the driver
    * loop and each round task of [[nodeLoop]] run it: a node reads its
    * value from `state` or, in the first round (`state` null), evaluates
    * `init` into the returned seed map; an active node relaxes its row
    * into the returned contributions. */
  private def relaxRows(k: Kernel, first: Long, rows: Iterator[(Long, Array[Long])],
      state: LongLongMap): (LongLongMap, LongLongMap) = {
    val seed = new LongLongMap(if (state == null) 1 << 12 else 16)
    val acc = new LongLongMap(if (state == null) 1 << 12 else state.size)
    rows.foreach { case (n, row) =>
      val v =
        if (state != null) state.getOrElse(n, Absent)
        else { val v0 = k.init(n, row, first); if (v0 != Absent) seed.update(n, v0); v0 }
      if (isActive(k, v)) k.relax(v, row, acc)
    }
    (seed, acc)
  }

  /** Advance `state` in place to the next round — `k.advance` over every
    * node of `state` or `comb`; a dropped node stays as an Absent entry —
    * and count, in the same pass, the nodes it changes and the active
    * nodes of the new state. */
  private def advanceInPlace(k: Kernel, state: LongLongMap,
      comb: LongLongMap): (Long, Long) = {
    var changed = 0L
    var active = 0L
    def next(was: Long, c: Long): Long = {
      val v = k.advance(was, c)
      if (v != was) changed += 1L
      if (isActive(k, v)) active += 1L
      v
    }
    state.transformValues { (n, v) =>
      val c = comb.getOrElse(n, Absent)
      if (v == Absent && c == Absent) v else next(v, c)
    }
    comb.foreachEntry { (n, c) =>
      if (!state.contains(n)) { val v = next(Absent, c); if (v != Absent) state.update(n, v) }
    }
    (changed, active)
  }

  /** Nodes whose value differs between `a` and `b`, a node held by only
    * one of them included. */
  private def diffCount(a: LongLongMap, b: LongLongMap): Long = {
    var c = 0L
    a.foreachEntry((n, v) => if (b.getOrElse(n, Absent) != v) c += 1L)
    b.foreachEntry((n, _) => if (!a.contains(n)) c += 1L)
    c
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
    * frequently-co-purchased parts are "close"). Distances only decrease,
    * so the fixpoint early-exit is consistent with ANY oracle unroll count
    * ≥ the convergence round (3-4 on this graph, 8 unrolled): a converged
    * round is the identity.
    *
    * Output is the distance census (dist_ppm, n_nodes) — domain-sized
    * (distinct path costs), never per-node.
    *
    * Scale shape: the [[CheapestPath]] kernel on the [[nodeLoop]] runner
    * over the costed adjacency, each row flattened to one interleaved
    * long[] [v0, c0, v1, c1, …] so the one-time Dataset→RDD conversion
    * moves primitive arrays, not per-edge tuple objects; the census is
    * one aggregation of the final distance frame. The source is the
    * least node id. */
  def cheapestPathCensus(spark: SparkSession, dir: String,
      maxRounds: Int = 8): DataFrame =
    cheapestPathFrom(
      coPurchaseAdjacency(spark, dir).select(col("node"),
        expr("flatten(transform(nbrs, x -> array(x.v, 1000000 div x.w)))")),
      maxRounds)

  private[analytics] def cheapestPathCensusOf(pairs: DataFrame,
      maxRounds: Int): DataFrame = {
    val c = expr("1000000 div w")
    cheapestPathFrom(
      pairs.select(col("u").as("node"), array(col("v"), c).as("vc"))
        .unionAll(pairs.select(col("v").as("node"), array(col("u"), c).as("vc")))
        .repartition(fullWidth(pairs), col("node"))
        .groupBy(col("node"))
        .agg(flatten(collect_list(col("vc")))),
      maxRounds)
  }

  private def cheapestPathFrom(adj: DataFrame, maxRounds: Int): DataFrame =
    nodeLoop(adj, maxRounds, CheapestPath).values
      .groupBy(col("value").as("dist_ppm"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("dist_ppm").cast("long").as("dist_ppm"),
        col("n_nodes").cast("long").as("n_nodes"))
      // domain-sized: one row per distinct distance — sorted in one task,
      // which skips a range exchange and its sampling job
      .coalesce(1)
      .orderBy(col("dist_ppm").asc)

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
    // once and broadcast while the measured count fits
    // ([[TrickleBroadcastRows]]): the edge list is then scanned ONCE through
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
    * Scale shape: the same [[peel]] kernel on the [[nodeLoop]] runner as
    * the q228 cascade; the census then folds the FINAL degree frame in
    * one aggregate — n_nodes = nodes with d > 0 (a node that lost every
    * edge vanishes from an edge-derived count, and its inert d = 0 row
    * matches that exactly; a peeled node's phantom row is strictly
    * negative, and a real row never goes negative), n_edges = Σd div 2
    * (the degree sum over the symmetrized list double-counts each
    * surviving undirected edge; integer division, since a double `/`
    * would lose exactness past 2^53). Under-degree nodes left by an
    * exhausted rounds budget still carry d > 0 and stay in both counts,
    * exactly like the edge-list form they replaced. */
  def kCoreCensus(spark: SparkSession, dir: String,
      k: Int = 80, rounds: Int = 8): DataFrame =
    kCoreCensusFrom(coPurchaseNeighbors(spark, dir), k, rounds)

  private[analytics] def kCoreCensusOf(edges0: DataFrame,
      k: Int, rounds: Int): DataFrame =
    kCoreCensusFrom(adjacencyOf(edges0), k, rounds)

  private def kCoreCensusFrom(adj: DataFrame, k: Int, rounds: Int): DataFrame =
    nodeLoop(adj, rounds, peel(k)).values
      .filter(col("value") > 0)
      .agg(count(lit(1)).as("n_nodes"), coalesce(sum(col("value")), lit(0L)).as("d"))
      .select(lit(k.toLong).as("core_k"), col("n_nodes"),
        expr("d div 2").cast("long").as("n_edges"))

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
