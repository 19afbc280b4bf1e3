package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Duplicate-cluster resolution: the step AFTER candidate generation that
  * every production dedup pipeline needs. The five dedup families emit
  * near-dup PAIRS; keeping one copy per duplicate group requires the
  * transitive closure of those pairs — connected components — and a
  * deterministic canonical representative per component (min doc_id, the
  * same convention as `TextDedup.exactDedup`).
  *
  * Mirrors the dedup stage of the reference's pipeline surface
  * (`/root/reference/src/jobs/transform_job.py:40-55` dedups exact groups;
  * this generalizes to near-dup graphs).
  *
  * Scale design: label propagation ("hash-to-min") as iterated DataFrame
  * joins — `label(x) ← min(label(x), min over neighbors y of label(y))` —
  * which converges in O(component diameter) rounds. Near-dup components
  * are band-join cliques or short chains (diameter ≤ 3-4 in practice), so
  * the loop runs 2-5 rounds of shuffle-on-key joins, each linear in |E|;
  * there is never an all-pairs product and no driver-side graph. The only
  * driver traffic is one convergence count per round (the same pattern as
  * Structured Streaming's batch planning). For adversarial long-path
  * graphs the O(log n) large-star/small-star variant would replace this;
  * for dedup workloads the simple propagation is the right trade.
  */
object DupClusters {

  // SOFT convergence bound = expected component diameter + 1 (raised
  // 20 -> 40 after the sf0.1 simhash h<=1 closure measured a 1288-member
  // CHAINED component). Rounds past convergence never run, and since the
  // measured diameter is itself a tracked super-linear watch counter
  // (5 -> 1288 members per 10x docs), a fixed bound races measured
  // growth — so the loop now EXTENDS the bound adaptively (doubling,
  // capped at the node count, which min-label propagation provably never
  // needs more rounds than) instead of hard-failing mid-gate the first
  // time a chain outgrows a hand-tuned constant (round-12 advice). The
  // loud require() backstop remains for the impossible case.
  val MaxIters = 40

  /** Connected components over undirected candidate pairs
    * `(doc_a, doc_b)`. Returns one row per member doc:
    * `(cluster_id, doc_id, is_canonical)` where `cluster_id` is the
    * component's min doc_id. Docs in no pair are singletons and are
    * deliberately excluded (at corpus scale almost every doc is one;
    * emitting them would dwarf the real signal).
    *
    * Every round truncates lineage with an eager `localCheckpoint`:
    * `labels` feeds both sides of the round's join, so without
    * truncation the LOGICAL plan doubles per round — Catalyst analysis
    * goes exponential long before execution is the problem (measured:
    * a 9-node chain took minutes at 8 rounds). Checkpointing makes each
    * round's plan constant-size: join(edges, LogicalRDD). On a cluster
    * with lineage-based recovery requirements, swap `localCheckpoint`
    * for `checkpoint` with a checkpoint dir; the loop is unchanged.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = MaxIters): DataFrame = {
    // Symmetrize once; checkpointed so each round re-analyzes a flat
    // scan, not the upstream candidate-generation DAG.
    val edges =
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct()
        .localCheckpoint(true)
    // Half-step init: label(x) = min(x, min neighbor) — exactly what the
    // first loop round would compute from identity labels, for one
    // aggregation instead of a join+aggregation+count round. Band-clique
    // components (the dedup norm) finish in ONE verification round.
    // `labelsCkpt` always points at the round's raw checkpoint frame (a
    // bare LogicalRDD plan — freeCheckpoint needs the leaf itself, not a
    // projection over it); `labels` is the 2-column view the round uses.
    var labelsCkpt = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "node")
      .localCheckpoint(true)
    var labels = labelsCkpt
    var changed = 1L
    var iters = 0
    // `maxIters` is the SOFT bound; when the graph is still making
    // progress there, the bound doubles up to the node count (the
    // provable ceiling: each propagation round extends every node's
    // reach by >= 1 hop, so rounds never exceed the longest path).
    var bound = maxIters.toLong
    var nodeCeiling = -1L
    while (changed > 0 && iters < bound) {
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nmin"))
        .withColumnRenamed("src", "node")
      val next = labels.join(neighborMin, Seq("node"))
        .select(col("node"),
          least(col("label"), col("nmin")).as("label"),
          (col("nmin") < col("label")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized — free them eagerly (round-8 verdict:
      // leaked checkpoints accumulate for the JVM lifetime otherwise).
      // The FINAL round's checkpoint deliberately stays alive: it backs
      // the memoized cluster frame (clustersFor) for the whole session,
      // and a truncated-lineage RDD can never be recomputed once freed.
      graft.core.Caches.freeCheckpoint(labelsCkpt)
      labelsCkpt = next
      labels = next.select(col("node"), col("label"))
      iters += 1
      if (changed > 0 && iters >= bound && nodeCeiling < 0L) {
        // one extra count, paid only on graphs that outgrow the soft
        // bound; the ceiling never needs recomputation (node set is
        // fixed for the whole loop)
        nodeCeiling = labels.count()
      }
      if (changed > 0 && iters >= bound)
        bound = math.min(bound * 2L, math.max(bound, nodeCeiling))
    }
    require(changed == 0,
      s"connectedComponents did not converge in $iters rounds " +
        s"(node-count ceiling $nodeCeiling) — a min-label round that " +
        "makes no progress before the node count is unreachable; this " +
        "indicates a bug, not a pathological graph")
    // the symmetrized edge list is dead after convergence (the result
    // derives only from the final label checkpoint) — free it now.
    graft.core.Caches.freeCheckpoint(edges)
    labels.select(
        col("label").as("cluster_id"),
        col("node").as("doc_id"),
        (col("node") === col("label")).as("is_canonical"))
      .orderBy(col("cluster_id").asc, col("doc_id").asc)
  }

  /** Memoized, persisted cluster frame per (session, dir) — the same
    * materialized-table pattern as the silver persist
    * (graft.pipeline.EventsPipeline.silver): the minhash candidate pass +
    * component loop runs once per corpus and its tiny resolved frame (one
    * row per clustered doc, a vanishing fraction of the corpus) is shared
    * by every consumer — keep/drop lists (q78), quality-aware canonicals
    * (q128), and the cluster report itself (q60). A production pipeline
    * writes this frame as the dedup-manifest table; rebuilding the
    * candidate graph per downstream reader would be the 100 TB mistake. */
  private val clusterCache = new graft.core.FrameMemo(4)

  /** The resolved cluster frame for the corpus at `dir` (memoized). */
  def clustersFor(spark: SparkSession, dir: String): DataFrame =
    clusterCache.get(spark, dir) {
      // the component loop checkpoints eagerly, so the returned frame has
      // no dependency on shingle/minhash intermediates; the (spark, dir)
      // overload reads the memoized shingle frame (TextDedup.shinglesFor),
      // so a cold cluster build shares the one shingle materialization
      connectedComponents(TextDedup.minhashNearDups(spark, dir))
    }

  /** q60: resolve the MinHash-LSH near-dup pairs (q27) into clusters. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFor(spark, dir)

  /** The DEDUPED-CORPUS materialization: the per-document keep/drop list a
    * training pipeline actually writes out after clustering — every doc
    * keeps unless it is a non-canonical member of a duplicate cluster.
    * Singletons (no near-dup) join nothing and keep with a NULL
    * cluster_id; cluster members carry their cluster for lineage. The
    * cluster frame is pair-graph-sized (tiny vs corpus), so the back-join
    * broadcasts — the corpus is never shuffled to apply its own dedup. */
  def dedupKeepList(docs: DataFrame): DataFrame =
    dedupKeepList(docs, connectedComponents(TextDedup.minhashNearDups(docs)))

  private def dedupKeepList(docs: DataFrame, clusters: DataFrame): DataFrame = {
    docs.select(col("doc_id"))
      .join(broadcast(clusters
        .select(col("doc_id"), col("cluster_id"), col("is_canonical"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_canonical"), lit(true)).as("kept"),
        col("cluster_id"))
      .orderBy(col("doc_id").asc)
  }

  def dedupKeepList(spark: SparkSession, dir: String): DataFrame =
    dedupKeepList(Tables.documents(spark, dir), clustersFor(spark, dir))

  /** q128: QUALITY-AWARE canonical per duplicate cluster — production
    * dedup keeps the best copy, not the lowest id: argmax by
    * (quality DESC, doc_id ASC) within each cluster. The cluster frame
    * is pair-graph-sized, so it broadcasts onto the quality features and
    * the per-cluster window ranks only cluster members (a vanishing
    * fraction of the corpus), never the full dataset. */
  def bestOfClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = clustersFor(spark, dir)
    val members = TextStats.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
      .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
        Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    members.withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rn") === 1, col("quality"))).as("kept_quality"),
        min(col("quality")).as("worst_quality"))
      .orderBy(col("cluster_id").asc)
  }

  /** q164: cross-lingual duplicate census — the near-dup pairs (q27)
    * labeled with both members' languages, counted per unordered lang
    * pair. Off-diagonal rows are translation/re-tag duplicates: text that
    * survived lexical dedup *within* each language silo but is the same
    * document twice in the corpus — double-counted training mass and a
    * language-mix distortion (the q54 mixture weights count it in both
    * languages). A production curation report always splits dup mass
    * into within-lang vs cross-lang for exactly that reason. The pair
    * frame is candidate-sized, the lang join broadcasts the two-column
    * doc projection, and the census reduce side is |langs|² rows. */
  def crossLingualDups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.minhashNearDups(spark, dir)
    val langs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    pairs
      .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la")),
        Seq("doc_a"))
      .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb")),
        Seq("doc_b"))
      .withColumn("lang_lo", least(col("la"), col("lb")))
      .withColumn("lang_hi", greatest(col("la"), col("lb")))
      .groupBy(col("lang_lo"), col("lang_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", (col("lang_lo") =!= col("lang_hi")).cast("boolean"))
      .orderBy(col("lang_lo").asc, col("lang_hi").asc)
  }

  /** q165: duplicate-cluster size histogram — how much of the corpus sits
    * in pairs vs large template families. Real web corpora are power-law
    * here, and the histogram is the number that justifies cluster-level
    * levers (a 10 000-member boilerplate family wants source-level
    * exclusion, not 9 999 pair deletions). Sizes come from the memoized
    * cluster frame (clusters of size ≥ 2 by construction — singletons
    * never enter the pair graph); two tiny aggregations. */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    clustersFor(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size").asc)

  /** Dedup SURVIVORSHIP census per source — does the min-doc_id keep rule
    * systematically absorb one source into another? Per source: docs in,
    * docs kept, docs absorbed (removed as duplicates), and of those how
    * many were absorbed by a canonical living in a DIFFERENT source
    * (`absorbed_cross`). A high cross-absorption count means dedup is
    * silently rewriting the source mixture the q54/q75 weights were
    * tuned against — the bias audit a production dedup pass publishes
    * alongside its savings number.
    *
    * Scale shape: the memoized cluster frame broadcasts onto the corpus
    * id/source projection (keep-list shape, q78); the canonical-source
    * lookup joins the REMOVED subset only (pair-graph-sized, broadcast)
    * against the same projection. Two domain-sized censuses close it
    * out. */
  def survivorshipBySource(spark: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val keyed = srcOf
      .join(broadcast(clustersFor(spark, dir)
        .select(col("doc_id"), col("cluster_id"), col("is_canonical"))),
        Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("ckey"),
        coalesce(col("is_canonical"), lit(true)).as("kept"))
    val removed = keyed.filter(!col("kept"))
      .select(col("source"), col("ckey"))
    val absorbed = srcOf
      .select(col("doc_id").as("ckey"), col("source").as("canon_source"))
      .join(broadcast(removed), Seq("ckey"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_absorbed"),
        sum(when(col("canon_source") =!= col("source"), 1L).otherwise(0L))
          .as("absorbed_cross"))
    keyed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .join(broadcast(absorbed), Seq("source"), "left")
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_kept").cast("long").as("n_kept"),
        coalesce(col("n_absorbed"), lit(0L)).cast("long").as("n_absorbed"),
        coalesce(col("absorbed_cross"), lit(0L)).cast("long")
          .as("absorbed_cross"))
      .withColumn("absorbed_ppm",
        expr("n_absorbed * 1000000 div n_docs").cast("long"))
      .orderBy(col("source").asc)
  }

  /** q213: cluster dilution audit — how much of each dup cluster is
    * TRANSITIVE rather than directly verified. Connected components
    * merge on any chain of near-dup pairs, so a size-k cluster implies
    * k·(k−1)/2 "duplicate" relations while only the verified pairs were
    * ever measured ≥ the Jaccard threshold; the gap is exactly what
    * union-find-style dedup over-merges (A≈B, B≈C but A̸≈C). Per
    * cluster size: cluster count, verified (direct) pairs, implied
    * pairs, and direct/implied in ppm — the number a curation team
    * checks before trusting keep-one-per-cluster at 100 TB, where a
    * single mega-cluster silently deleting distinct documents is the
    * classic dedup failure.
    *
    * Scale shape: both inputs are pair-graph-sized (tiny vs corpus) and
    * memoized (cluster frame, shingle pass); the audit is two keyed
    * aggregations and one broadcast-scale join — nothing touches the
    * corpus. */
  def clusterDilution(spark: SparkSession, dir: String): DataFrame = {
    val cl = clustersFor(spark, dir).select(col("cluster_id"), col("doc_id"))
    val pairs = TextDedup.minhashNearDups(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2)
    // every verified pair is intra-cluster by construction (clusters are
    // the closure OF these pairs), so one endpoint determines the cluster
    val direct = pairs
      .join(cl.select(col("doc_id").as("doc_a"), col("cluster_id")),
        Seq("doc_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("dp"))
    sizes.join(direct, Seq("cluster_id"), "left")
      .select(col("k"), coalesce(col("dp"), lit(0L)).as("dp"),
        expr("k * (k - 1) div 2").as("tp"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("dp")).cast("long").as("direct_pairs"),
        sum(col("tp")).cast("long").as("total_pairs"))
      .select(col("k").cast("long").as("cluster_size"), col("n_clusters"),
        col("direct_pairs"), col("total_pairs"),
        expr("direct_pairs * 1000000 div total_pairs").cast("long")
          .as("direct_ppm"))
      .orderBy(col("cluster_size").asc)
  }

  /** Memoized SimHash-closure twin of [[clustersFor]] — the REFERENCE
    * clustering for the cross-family agreement audits (q318/q326). Same
    * component kernel, same per-(session, dir) materialization
    * discipline. The reference keeps only hamming ≤ 1 matches (not
    * q28's full ≤ 3 set): an INDEPENDENT family at a high-precision
    * threshold is what agreement against means something, and the ≤ 3
    * graph CHAINS outright (at sf0.1 one hamming component swallows 88%
    * of the corpus). The ≤ 1 threshold only SLOWS that chaining, it
    * does not bound it — measured components: max 5 members at sf0.01,
    * max 1288 at sf0.1 (SCALE_GROWTH `simhash_h1_max_component`, a
    * watch counter). That is exactly the union-find over-merge hazard
    * the q213 dilution and q318/q326 agreement audits exist to measure,
    * so it stays in the reference's semantics; the ENGINE cost is
    * linear either way (label propagation is O(|E|·diameter) with
    * checkpointed constant-size plans), and the oracle closure is
    * materialized once per query. */
  private val simClusterCache = new graft.core.FrameMemo(4)

  val SimRefHammingMax = 1

  def simClustersFor(spark: SparkSession, dir: String): DataFrame =
    simClusterCache.get(spark, dir) {
      connectedComponents(TextDedup.simhashNearDups(Tables.documents(spark, dir))
        .filter(col("hamming") <= SimRefHammingMax)
        .select(col("doc_a"), col("doc_b")))
    }

  /** Joint cluster assignment of every doc under two clusterings:
    * SYSTEM = the MinHash-LSH near-dup components and REFERENCE = the
    * SimHash components (singletons are their own cluster in both, the
    * q78 keep-list convention). Both frames are pair-graph-sized and
    * broadcast onto the corpus id list — the corpus is never shuffled
    * to be scored. */
  private def jointAssignments(docs: DataFrame, clusters: DataFrame,
                               reference: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
        Seq("doc_id"), "left")
      .join(broadcast(reference
          .select(col("doc_id"), col("cluster_id").as("ref_cluster"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("sys_id"),
        coalesce(col("ref_cluster"), col("doc_id")).as("gold_id"))

  /** q318: B-CUBED cross-family agreement of the MinHash-LSH clustering
    * against the SimHash closure — the element-level cluster metric
    * (Bagga & Baldwin) that dedup-quality reports use alongside pair
    * recall (q243): per doc, precision = |C∩R|/|C| and recall =
    * |C∩R|/|R| over its MinHash cluster C and SimHash cluster R,
    * averaged over ALL docs. Two independent dedup families agreeing is
    * the cheap proxy for ground truth a 100 TB corpus can actually
    * afford (no labeled dup set exists at that scale); the reference is
    * the hamming ≤ [[SimRefHammingMax]] closure (see [[simClustersFor]]
    * for why the threshold bounds component size), so B³ recall reads
    * as "how much of SimHash's confident dup mass the Jaccard family
    * confirms".
    *
    * Exact integer ppm: the per-doc ratios are constant within a
    * (sys, gold) contingency CELL, so the doc-average is computed as the
    * cell-weighted sum — contingency cells ≤ |cluster members| rows, a
    * vanishing fraction of the corpus; nothing here is all-pairs.
    * F1 composes the two averaged ppm values (2·p·r div (p+r)). */
  def bcubedEval(docs: DataFrame, clusters: DataFrame,
                 reference: DataFrame): DataFrame = {
    val assign = jointAssignments(docs, clusters, reference)
    val cells = assign.groupBy(col("sys_id"), col("gold_id"))
      .agg(count(lit(1)).as("i_cnt"))
    val sysSizes = cells.groupBy(col("sys_id"))
      .agg(sum(col("i_cnt")).as("c_cnt"))
    val goldSizes = cells.groupBy(col("gold_id"))
      .agg(sum(col("i_cnt")).as("g_cnt"))
    cells
      .join(sysSizes, Seq("sys_id"))
      .join(goldSizes, Seq("gold_id"))
      .select(col("i_cnt"), col("sys_id"), col("gold_id"),
        (col("i_cnt") * expr("i_cnt * 1000000 div c_cnt")).as("p_mass"),
        (col("i_cnt") * expr("i_cnt * 1000000 div g_cnt")).as("r_mass"))
      .agg(sum(col("i_cnt")).as("n_docs"),
        countDistinct(col("sys_id")).as("n_sys_clusters"),
        countDistinct(col("gold_id")).as("n_gold_clusters"),
        sum(col("p_mass")).as("pm"), sum(col("r_mass")).as("rm"))
      .select(col("n_docs").cast("long").as("n_docs"),
        col("n_sys_clusters").cast("long").as("n_sys_clusters"),
        col("n_gold_clusters").cast("long").as("n_gold_clusters"),
        expr("pm div n_docs").cast("long").as("b3_precision_ppm"),
        expr("rm div n_docs").cast("long").as("b3_recall_ppm"),
        expr("2 * (pm div n_docs) * (rm div n_docs) " +
          "div ((pm div n_docs) + (rm div n_docs))").cast("long")
          .as("b3_f1_ppm"))
  }

  def bcubedEval(spark: SparkSession, dir: String): DataFrame =
    bcubedEval(Tables.documents(spark, dir), clustersFor(spark, dir),
      simClustersFor(spark, dir))

  /** q326: ADJUSTED RAND INDEX between the MinHash and SimHash closures
    * — the pair-counting twin of q318's element-level B³ (a complete
    * cluster-eval report carries both: B³ is sensitive to cluster-size
    * distribution, ARI corrects agreement for chance — vital here, where
    * almost every doc is a singleton in both clusterings and a naive
    * Rand index would read ≈ 1 on any two dedups). All four pair counts
    * are exact integers from the contingency cells (n·(n−1) is even, so
    * `div 2` is exact); the final ratio follows the q291 discipline —
    * exact BIGINT numerator and denominator (all ≲ n²·|pairs|, inside
    * the 2⁵³ IEEE-exact window at any plausible |clusters|), one double
    * division, floor, BIGINT.
    *
    *   ARI = 2·(T·I − A·B) / (T·(A+B) − 2·A·B)
    *
    * where I/A/B = same-cluster pairs in (both / system / reference) and
    * T = all pairs. Scale shape: everything after the q318 contingency
    * aggregation is a handful of scalar reduces. */
  def adjustedRand(docs: DataFrame, clusters: DataFrame,
                   reference: DataFrame): DataFrame = {
    val assign = jointAssignments(docs, clusters, reference)
    val cells = graft.core.Caches.scratch(
      assign.groupBy(col("sys_id"), col("gold_id"))
        .agg(count(lit(1)).as("i_cnt")))
    val i = cells.agg(
      sum(expr("i_cnt * (i_cnt - 1) div 2")).as("pairs_both"))
    val a = cells.groupBy(col("sys_id")).agg(sum(col("i_cnt")).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("pairs_sys"))
    val b = cells.groupBy(col("gold_id")).agg(sum(col("i_cnt")).as("g"))
      .agg(sum(expr("g * (g - 1) div 2")).as("pairs_gold"))
    val t = cells.agg(sum(col("i_cnt")).as("n"))
      .select(expr("n * (n - 1) div 2").as("pairs_total"))
    i.crossJoin(a).crossJoin(b).crossJoin(t)
      .select(col("pairs_both").cast("long").as("pairs_both"),
        col("pairs_sys").cast("long").as("pairs_sys"),
        col("pairs_gold").cast("long").as("pairs_gold"),
        col("pairs_total").cast("long").as("pairs_total"))
      .withColumn("num",
        expr("pairs_total * pairs_both - pairs_sys * pairs_gold"))
      .withColumn("den",
        expr("pairs_total * (pairs_sys + pairs_gold) " +
          "- 2 * pairs_sys * pairs_gold"))
      .filter(col("den") > 0)
      .select(col("pairs_both"), col("pairs_sys"), col("pairs_gold"),
        col("pairs_total"),
        floor(lit(1000000.0) * (lit(2.0) * col("num").cast("double"))
          / col("den").cast("double")).cast("long").as("ari_ppm"))
  }

  def adjustedRand(spark: SparkSession, dir: String): DataFrame =
    adjustedRand(Tables.documents(spark, dir), clustersFor(spark, dir),
      simClustersFor(spark, dir))

  /** q329: SOFT-DEDUP WEIGHTED MASS census — the modern alternative to
    * the hard keep/drop list (q78): keep every copy but weight each
    * duplicate-cluster member 1/|cluster| so a template family
    * contributes ONE document's worth of training mass however many
    * times it was crawled (count-based down-weighting; the epoch-decay
    * valuation q311 applies the same idea across epochs). Per source:
    * raw char mass, the 10⁶-scaled weighted mass, and the retention
    * ratio — the per-source number a mixture design (q54/q266/q270)
    * should consume INSTEAD of raw counts on a duplicated corpus.
    *
    * Scale shape: the cluster frame is pair-graph-sized, so members ×
    * sizes broadcasts onto the corpus; one keyed reduce per source. */
  def dupWeightedMass(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val cl = clustersFor(spark, dir)
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
    val memberSize = cl.select(col("doc_id"), col("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("csize"))
    docs.join(broadcast(memberSize), Seq("doc_id"), "left")
      .withColumn("w_ppm", expr("1000000 div coalesce(csize, 1)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("raw_chars"),
        sum(col("n_chars") * col("w_ppm")).as("wppm"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("raw_chars").cast("long").as("raw_chars"),
        col("wppm").cast("long").as("weighted_chars_ppm"),
        expr("wppm div raw_chars").cast("long").as("retention_ppm"))
      .orderBy(col("source").asc)
  }

  /** q330: AUC of the bigram-LM fluency score (q133) as a detector of
    * NEAR-DUP MEMBERSHIP — the rank-sum readout of the q177
    * quality-duplication interaction: AUC = P(random dup scores higher
    * than random unique doc), ties counted half. Template families are
    * self-similar, repetitive text, so the LM (trained on the corpus
    * itself) scores them high — a measured warning that fluency filters
    * SELECT FOR duplication and must run after dedup, not before.
    *
    * Exact integers via the q293 midrank machinery: counts aggregate
    * per distinct score (the value-domain frame), doubled midranks
    * `2f + c + 1` come from one cumulative window over that support,
    * and AUC = (R₂ − n₁(n₁+1)) · 10⁶ div (2·n₁·n₀). Degenerate label
    * sides (no dups, all dups) emit no rows on both engines. */
  def dupScoreAuc(spark: SparkSession, dir: String): DataFrame = {
    val scores = graft.llm.TextStats.docLmScore(spark, dir)
      .select(col("doc_id"), col("lm_score_ppm").as("v"))
    val dups = clustersFor(spark, dir).select(col("doc_id"))
      .withColumn("is_dup", lit(1L))
    val labeled = scores.join(broadcast(dups), Seq("doc_id"), "left")
      .select(col("v"), coalesce(col("is_dup"), lit(0L)).as("pos"))
    val vc = labeled.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("f", coalesce(sum(col("c")).over(
        // domain-sized: score-value histogram, not docs
        Window.orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("v"), (lit(2L) * col("f") + col("c") + 1).as("mr2"))
    val tot = labeled.agg(count(lit(1)).as("n"), sum(col("pos")).as("n1"))
    labeled.filter(col("pos") === 1).join(vc, Seq("v"))
      .agg(sum(col("mr2")).as("r2"))
      .crossJoin(broadcast(tot))
      .filter(col("n1") > 0 && col("n1") < col("n"))
      .select(col("n1").cast("long").as("n_dup"),
        (col("n") - col("n1")).cast("long").as("n_unique"),
        expr("r2 - n1 * (n1 + 1)").cast("long").as("u2"),
        expr("(r2 - n1 * (n1 + 1)) * 1000000 div (2 * n1 * (n - n1))")
          .cast("long").as("auc_ppm"))
  }
}
