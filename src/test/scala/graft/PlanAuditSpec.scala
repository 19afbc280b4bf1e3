package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.EventsPipeline

/** Physical-plan assertions for the scale claims the engine makes: filters
  * reach the parquet scan, per-user aggregations reuse the persisted silver
  * partitioning (no extra exchange), and codegen covers the hot paths. */
class PlanAuditSpec extends SparkSpecBase {

  test("filter + projection push down to the parquet scan") {
    val plan = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"pushdown missing in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing in:\n$plan")
  }

  test("gold daily over persisted silver adds no exchange") {
    // silver is hash-partitioned by user_id and persisted; the groupBy
    // (user_id, event_date) must reuse that clustering. The cached plan
    // nested under InMemoryRelation legitimately contains the original
    // repartition exchange — only the plan ABOVE the cache scan must be
    // exchange-free.
    val silver = EventsPipeline.silver(spark, sf)
    silver.count() // populate the cache
    val plan = EventsPipeline.goldDailyOf(silver)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), s"silver not cached in:\n$plan")
    val aboveCache = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(!aboveCache.contains("Exchange"),
      s"unexpected exchange over cached silver in:\n$plan")
  }

  test("whole-stage codegen covers the pricing-summary aggregation") {
    // AQE prints codegen spans as *(n) only in the executed final plan.
    val df = graft.analytics.StarQueries.pricingSummary(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
  }

  test("embedding near-dup plan: weights broadcast, no nested-loop or cartesian join") {
    val plan = graft.llm.EmbedDedup
      .embeddingNearDups(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"plane-weight table not broadcast in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join leaked into the LSH plan:\n$plan")
  }

  test("graft_dot is codegen-compatible (no CodegenFallback)") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, sf)
    // materialize THIS QueryExecution first (collect, not a write —
    // writes clone a fresh QE): the round-13 scan fan-out puts an
    // Exchange under the projection, so the plan is AQE-wrapped and
    // codegen spans only render on the FINAL plan after execution
    val df = Similarity.vecsNormed(emb)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the dot-product projection must sit inside a codegen span *(n)
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_dot"), s"expression missing in:\n$plan")
  }

  test("ngram block census is broadcast, self-join has no cartesian/NLJ") {
    val plan = graft.llm.TextDedup
      .ngramJaccardDups(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // census (langs × sources × bands rows) must come in as a broadcast,
    // never shuffle the doc side for it
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"block census not broadcast in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"unkeyed join leaked into the blocked-Jaccard plan:\n$plan")
  }

  test("salted distinct spreads its heavy shuffles beyond the group key") {
    // Row-heavy stages must shuffle on composite keys: the pair dedup on
    // (event_type, user_id), the partial count on (event_type, salt). The
    // only exchange keyed on bare event_type is the final one, which moves
    // types × salts pre-counted rows — that ordering is the whole point.
    // sparkPlan predates EnsureRequirements (no exchanges yet) — use the
    // executed plan, trimming AQE's echoed "Initial Plan" section
    val silver = EventsPipeline.silver(spark, sf)
    silver.count() // populate the cache
    val full = graft.analytics.Reports.typeUniqueUsersSalted(silver)
      .queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head
    val saltedIdx = "hashpartitioning\\(event_type#\\d+, salt#\\d+".r
      .findFirstMatchIn(plan).map(_.start)
    assert(saltedIdx.isDefined,
      s"partial-count exchange not keyed on (event_type, salt):\n$plan")
    // bare event_type exchanges may exist only ABOVE the salted one (the
    // final stage, which moves types × salts pre-counted rows)
    val bareIdxs = "hashpartitioning\\(event_type#\\d+, \\d+\\)".r
      .findAllMatchIn(plan).map(_.start).toList
    assert(bareIdxs.forall(_ < saltedIdx.get),
      s"row-heavy exchange keyed on bare event_type (hot at scale):\n$plan")
    // below the salt exchange the pair dedup reuses the persisted silver's
    // user_id clustering: no further exchange above the cache scan
    val below = plan.substring(saltedIdx.get)
    val cacheIdx = below.indexOf("InMemoryTableScan")
    assert(cacheIdx >= 0, s"silver not cached in:\n$plan")
    assert(!below.substring(0, cacheIdx).contains("Exchange"),
      s"pair dedup re-shuffled despite silver clustering:\n$plan")
  }

  test("q254 epoch ranks: the md5 rank subtree exists exactly once, pairs reused") {
    // Round-9 found the rank subtree executing once per self-join side;
    // round 10 scratch-cached it; round 11 removed the self-join entirely
    // (lead() over (doc_id, e) diffs consecutive epochs in one window).
    // Pinned invariants for the fused shape:
    //  - exactly ONE scratch cache (pairs), and it is read at least twice
    //    (displacement quartiles + head-overlap census);
    //  - the epoch-hash (md5) subtree lives exactly once, inside that
    //    cache — nothing outside the cache recomputes it.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = graft.llm.Curation.epochShuffleDispersion(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    val rels = opt.collect { case r: InMemoryRelation => r }
    val byPlan = rels.groupBy(_.cachedPlan.toString)
    // the pairs cache is the md5-bearing plan with NO nested cache (the
    // stats census cache nests a pairs read, so it prints both)
    val pairsPlans = byPlan.keys
      .filter(s => s.contains("md5") && !s.contains("InMemoryTableScan"))
      .toSeq
    assert(pairsPlans.size === 1,
      s"expected exactly one md5-bearing scratch (pairs), got " +
        s"${pairsPlans.size} of ${byPlan.size} caches")
    assert(byPlan(pairsPlans.head).size >= 2,
      "pairs scratch not reused — quartiles and stats census rebuild it")
    val outsideCaches = opt.collect {
      case p if !p.isInstanceOf[InMemoryRelation] =>
        p.expressions.map(_.toString).mkString
    }.mkString
    assert(!outsideCaches.contains("md5"),
      "rank hashing recomputed outside the pairs cache")
    graft.core.Caches.releaseScratch(spark)
  }

  test("self-join-over-scratch queries reuse ONE cached subtree, not two builds") {
    // Round-10 verdict item 6: r9 caught a double-executed rank subtree
    // only by reading the plan by hand. Pin it mechanically for every
    // known self-join-over-scratch query: the scratch frame must appear
    // as one CACHED relation consumed at least twice — if anyone removes
    // a load-bearing Caches.scratch, the duplicate-subtree regression
    // shows up here as a cache with fewer than two readers.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // build each frame INSIDE the loop: releaseScratch is session-wide,
    // so eager construction would unpersist later cases' caches
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "q168_type_lift" ->
        (() => graft.analytics.Reports.typeLift(EventsPipeline.silver(spark, sf))),
      "q183_type_covariance" ->
        (() => graft.analytics.Reports.typeCovariance(EventsPipeline.silver(spark, sf))),
      "q221_window_provenance" ->
        (() => graft.llm.TextDedup.windowProvenance(Tables.documents(spark, sf))))
    cases.foreach { case (name, mk) =>
      val df = mk()
      val rels = df.queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r }
      assert(rels.nonEmpty, s"$name lost its scratch cache entirely")
      val reused = rels.groupBy(_.cachedPlan.toString)
        .exists(_._2.size >= 2)
      assert(reused,
        s"$name: no cached subtree is read twice — the self-join sides " +
          "are building the scratch frame independently")
      graft.core.Caches.releaseScratch(spark)
    }
  }

  // Materialize-then-plan pins (ROADMAP D3(b)). q29 and q298 persist a
  // frame pre-partitioned on their join/group key, and the plans below
  // reuse that partitioning only because the cache is materialized when
  // the consumer is planned: q29 count()s it while building the frame,
  // q298 relies on AQE re-planning over the materialized cache stage.
  // Both depend on how Spark reports a cache's partitioning, so a Spark
  // upgrade or a dropped count() shows up here as a returning Exchange.
  // A suite that cached one of these results (GraphsSpec caches q104's)
  // would hide its plan behind a single cache scan, so `uncached` drops
  // that entry (if any) before the plan is built.
  private def uncached(df: org.apache.spark.sql.DataFrame) =
    df.unpersist(blocking = true)

  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("q29 ngram Jaccard: the shingle self-join reads the counted cache with no Exchange") {
    import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // no broadcast: at sf0.001 the arms are small enough to broadcast,
    // which would hide the shuffle join every larger corpus gets
    try withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val plan = physical(uncached(
        graft.llm.TextDedup.ngramJaccardDups(Tables.documents(spark, sf))))
      def onCache(p: SparkPlan): Boolean = p match {
        case _: InMemoryTableScanExec => true
        case _: Exchange => false
        case u: UnaryExecNode => onCache(u.child)
        case _ => false
      }
      val joins = plan.collect {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "shingle")) => j
      }
      assert(joins.size === 1, s"expected one shingle-keyed self-join in:\n$plan")
      assert(joins.head.children.forall(onCache),
        s"an Exchange sits between the shingle self-join and its cache:\n$plan")
    } finally graft.core.Caches.releaseScratch(spark)
  }

  test("q298 dedup sweep: one (wsize, gram) exchange feeds the distinct, the count and the join") {
    // the reuse shows in the FINAL adaptive plan, once the gram cache is
    // a materialized stage: every hash exchange keyed on the gram is the
    // explicit repartition inside the cache build, none is inserted for
    // the distinct, the gram count or the shared-gram flag join
    try {
      val df = uncached(graft.llm.TextDedup.dedupSweep(Tables.documents(spark, sf)))
      df.collect()
      val plan = physical(df).toString
      val gramExchanges = "Exchange hashpartitioning\\([^)]*gram#\\d+[^)]*\\), (\\w+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(gramExchanges.nonEmpty, s"gram repartition missing from:\n$plan")
      assert(gramExchanges.forall(_ == "REPARTITION_BY_COL"),
        s"a gram-keyed exchange was inserted above the cache:\n$plan")
    } finally graft.core.Caches.releaseScratch(spark)
  }

  test("q104 item-item recs: only the final orderBy exchanges above the memoized adjacency") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    // a cache scan is a leaf here, so this sees only the per-run plan
    def exchangesAboveAdjacency() = {
      val plan = physical(uncached(graft.analytics.Graphs.itemItemRecs(spark, sf)))
      assert(plan.collect { case s: InMemoryTableScanExec => s }.size === 1,
        s"adjacency memo not read once in:\n$plan")
      (plan, plan.collect { case e: Exchange => e })
    }
    // at this size the final orderBy runs as one task (graft.plans.OneTaskSort)
    val (small, none) = exchangesAboveAdjacency()
    assert(none.isEmpty, s"expected no exchange above the adjacency:\n$small")
    // above the advisory partition size the orderBy keeps its range exchange
    val (plan, exchanges) = withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")(exchangesAboveAdjacency())
    assert(exchanges.size === 1 && (exchanges.head match {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }), s"expected only the orderBy range exchange above the adjacency:\n$plan")
  }

  test("curation funnel plan has no corpus-wide running-aggregate window") {
    // Round-9 verdict (what's-wrong 3): the funnel's original pack stage
    // ran an unbounded-preceding SUM window partitioned only by source —
    // one sequential chain per source, so one hot source serialized the
    // stage at 100 TB. The funnel now composes greedyGroupedPlacement
    // (bounded 100-doc chains); the only windows left in the plan must be
    // streaming rank functions (row_number), never a running aggregate
    // over an unbounded row frame.
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val plan = graft.llm.Curation.curationPipeline(spark, sf)
      .queryExecution.optimizedPlan
    val runningAggs = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.windowExpressions.filter(_.exists {
          case we: WindowExpression =>
            we.windowFunction.isInstanceOf[AggregateExpression]
          case _ => false
        })
    }.flatten
    graft.core.Caches.releaseScratch(spark)
    assert(runningAggs.isEmpty,
      s"running-aggregate window(s) in the funnel plan (unbounded " +
        s"per-partition chains at scale): ${runningAggs.mkString("; ")}")
  }

  test("winnow dedup self-join is fp-keyed: no cartesian or nested loop") {
    val plan = graft.llm.TextDedup
      .winnowDups(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"unkeyed join leaked into the winnow plan:\n$plan")
  }

  test("distinctive terms: corpus count is broadcast, term joins are keyed") {
    val plan = graft.llm.TextStats
      .distinctiveTerms(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the 1-row ndocs frame must arrive by broadcast, never shuffle the
    // term side for it
    assert(plan.contains("BroadcastExchange"),
      s"ndocs not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into the tf-idf plan:\n$plan")
  }

  test("connected components: result plan is truncated, not the candidate DAG") {
    // each round localCheckpoints, so the final clusters plan must read
    // checkpointed blocks (ExistingRDD) and contain none of the upstream
    // minhash machinery (no generator explode, no md5 projections)
    val plan = graft.llm.DupClusters
      .dupClusters(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), s"no checkpoint scan in:\n$plan")
    assert(!plan.contains("Generate"),
      s"lineage not truncated — shingle explode resurfaced in:\n$plan")
  }

  test("dynamic partition pruning fires on a partitioned-tier join") {
    // the 100 TB contract for partitioned fact tables: joining against a
    // FILTERED dim must prune fact partitions at runtime (scan only the
    // matching user_id directories), not read the whole tier. Requires a
    // non-broadcastable-looking plan side? No — DPP works with broadcast
    // too (reuses the broadcast as the pruning subquery).
    val out = tmpDir("dpp-tier-")
    val silver = EventsPipeline.silver(spark, sf)
    silver.count()
    silver.write.mode("overwrite").partitionBy("user_id").parquet(out)
    val fact = spark.read.parquet(out)
    // a real dim-side FILTER predicate (LIMIT does not qualify), and the
    // stats heuristic relaxed — tiny fixtures have no size benefit to
    // detect, which is the thing being measured at real scale anyway
    withConf("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false") {
      val dim = silver.select(col("user_id").as("uid")).distinct()
        .filter(col("uid") % 7 === 0)
      val joined = fact.join(dim, fact("user_id") === dim("uid"))
        .groupBy(fact("user_id")).agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
        s"no dynamic partition pruning in:\n$plan")
    }
  }

  test("sliding windows plan: generator explode + one aggregation, no join") {
    val silver = EventsPipeline.silver(spark, sf)
    silver.count()
    val plan = graft.analytics.TemporalOps.slidingWindowCounts(silver)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"window generator missing in:\n$plan")
  }

  test("top-k per group triggers rank-limit pushdown (WindowGroupLimit)") {
    // `row_number() <= k` filters must rewrite to WindowGroupLimit, which
    // keeps only k rows PER GROUP on the map side before the shuffle —
    // at 100 TB that is the difference between shuffling every per-user
    // day and shuffling ≤3 rows per user. Pin it so a refactor of the
    // top-k spelling (or a conf regression) can't silently drop it.
    val silver = EventsPipeline.silver(spark, sf)
    val top3 = EventsPipeline.goldTop3DaysOf(silver)
    top3.collect()
    val plan = top3.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing in:\n$plan")
  }

  test("containment dedup: keyed joins only, no cartesian/NLJ") {
    val plan = graft.llm.TextDedup
      .containmentDups(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join leaked into the containment plan:\n$plan")
  }

  test("cluster-balanced sample: quantizer seeds broadcast, top-k rank-limited") {
    val plan = graft.llm.Similarity
      .clusterBalancedSample(Tables.embeddings(spark, sf),
        Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the seed side must come in as a broadcast (the quantizer crossJoin
    // over a k-row seed table renders as a broadcast NLJ — that IS the
    // intended plan; what must never appear is an unbroadcast cartesian)
    assert(plan.contains("BroadcastExchange"),
      s"seed table not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbroadcast cartesian in the sample plan:\n$plan")
    // per-cell top-k must rank-limit before the shuffle
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing in:\n$plan")
  }

  test("rank decomposition: ntile/percent_rank builtins are gone from the plans") {
    // the histogram rewrite replaces the corpus-wide ranking builtins
    // with closed-form arithmetic: the plans must contain NO ntile /
    // percent_rank / cume_dist applications (their windowspecs were the
    // single-partition users-sized sorts), and the remaining row_number
    // must ride the tie-group partitioning on the value column. The
    // SinglePartition exchanges still present feed histogram-sized
    // frames (distinct count values) — that is the design.
    val silver = EventsPipeline.silver(spark, sf)
    for (df <- Seq(graft.analytics.Reports.userQuartiles(silver),
                   graft.analytics.Reports.rankDistributions(silver))) {
      val plan = df.queryExecution.executedPlan.toString
      for (fn <- Seq("ntile(", "percent_rank(", "cume_dist("))
        assert(!plan.contains(fn),
          s"$fn builtin resurfaced (global ranking window) in:\n$plan")
      assert(plan.contains("hashpartitioning(listen_count"),
        s"tie-group window lost its value partitioning in:\n$plan")
    }
  }

  test("dup coverage: chunk-hash aggregations only, no pair joins") {
    val plan = graft.llm.TextDedup
      .dupCoverage(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pair join leaked into the chunk-coverage plan:\n$plan")
  }

  test("semantic dedup: within-cell join is cell-keyed, never a cross join") {
    val plan = graft.llm.EmbedDedup
      .semanticDedup(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"corpus cross-join leaked into the SemDeDup plan:\n$plan")
    assert(plan.contains("lang") && plan.contains("source"),
      s"cell keys missing from the join plan:\n$plan")
  }

  test("dedup token budget: keep-list joins broadcast onto the corpus scan") {
    val plan = graft.llm.Curation
      .dedupTokenBudget(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"keep list not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("paragraph dedup: hash aggregations only, no pair joins") {
    val plan = graft.llm.TextDedup
      .paragraphDedup(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pair join leaked into the paragraph-dedup plan:\n$plan")
  }

  test("skyline: windowed prefix max, never a dominance nested loop") {
    val plan = graft.analytics.StarQueries
      .partSkyline(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"quadratic dominance join in the skyline plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket prefix frame not broadcast in:\n$plan")
  }

  test("survivorship: cluster and absorbed frames broadcast onto the corpus") {
    val plan = graft.llm.DupClusters
      .survivorshipBySource(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster frame not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("systematic sample and weighted percentiles: no corpus-global window") {
    // both decompose to per-source partitions; an unpartitioned window
    // here would be the single-reducer corpus sort the design forbids
    Seq(
      graft.llm.Curation.systematicSample(Tables.documents(spark, sf)),
      graft.llm.TextStats.weightedLengthPercentiles(Tables.documents(spark, sf))
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      val windows = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
      assert(!windows.contains("partitionBy=[]"),
        s"unpartitioned window over the corpus:\n$windows")
    }
  }

  test("bitmap family: one corpus aggregation, no self-joins") {
    // the whole point of the bitmap formulation is that retention /
    // cohort / overlap statistics need NO join of the user-activity
    // frame to itself — only broadcast joins of domain-sized frames
    // (min-date scalar, week list, type index) are allowed.
    // Audit with the scan fan-out OFF so Tables.fanned contributes no
    // exchange — then count EVERY hash exchange (ENSURE_REQUIREMENTS and
    // REPARTITION_* alike): an accidental application-level repartition
    // must trip this bound, not hide behind the fan-out's exemption
    // (round-13 advice).
    val was = spark.conf.get("spark.graft.scan.fanout", "true")
    try {
      spark.conf.set("spark.graft.scan.fanout", "false")
      Seq(
        graft.analytics.Bitmaps.bitmapRetention(EventsPipeline.silver(spark, sf)),
        graft.analytics.Bitmaps.cohortMatrix(EventsPipeline.silver(spark, sf)),
        graft.analytics.Bitmaps.segmentOverlap(EventsPipeline.silver(spark, sf))
      ).foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("SortMergeJoin"),
          s"corpus-sized join leaked into a bitmap plan:\n$plan")
        // count DISTINCT shuffle nodes (a scratch-cached subtree renders
        // its exchanges once per cache-scan site — same plan_id, one
        // execution): user-bitmap groupBy + a handful of domain-sized
        // aggs; a corpus self-join formulation would add per-pair
        // exchanges
        val shuffles =
          "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
            .findAllMatchIn(plan).map(_.group(1)).toSet
        assert(shuffles.size <= 6,
          s"bitmap plan has ${shuffles.size} distinct shuffles:\n$plan")
      }
    } finally spark.conf.set("spark.graft.scan.fanout", was)
  }

  test("conjunctive search: term ranking is a TakeOrdered, not a global sort") {
    val plan = graft.llm.Search
      .conjunctiveSearch(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k term selection missing from:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term set not broadcast in:\n$plan")
  }

  test("no global window sits above an unreduced (corpus-cardinality) child") {
    // Round-7 review: "WindowExec: No Partition Defined" warnings are fine
    // when the frame is domain-sized (histogram buckets, daily spine, band
    // counts) and a single-reducer disaster when the frame is the corpus.
    // The enforceable form of that discipline: every unpartitioned Window
    // in every query's optimized plan must have a REDUCING operator below
    // it — an Aggregate / GlobalLimit / Deduplicate that collapsed the
    // corpus to domain cardinality before the single-partition sort. A
    // window straight over a scan-shaped subtree fails here, not at 100 TB.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def reduced(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: Deduplicate => true
      // a scratch-cached subtree surfaces as an InMemoryRelation LEAF in
      // the logical plan; its reducing aggregate lives in the cached
      // PHYSICAL plan (q310's slope-value histogram). The string probe is
      // deliberate: AdaptiveSparkPlanExec hides its input plan from
      // TreeNode traversal, the rendering does not.
      case imr: InMemoryRelation =>
        val s = imr.cachedPlan.toString
        s.contains("HashAggregate") || s.contains("SortAggregate") ||
          s.contains("TakeOrderedAndProject")
      case _ => false
    }
    def globalWindowsOverCorpus(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty && !reduced(w.child) =>
          s"global window over unreduced child:\n${w.child.treeString.take(800)}"
      }
    // negative control: the detector must trip on the forbidden shape
    val bad = Tables.documents(spark, sf)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    assert(globalWindowsOverCorpus(bad).nonEmpty,
      "detector failed to flag a corpus-global row_number")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try globalWindowsOverCorpus(SparkEntry.queries(name)(spark, sf))
        .map(m => s"$name: $m")
      finally graft.core.Caches.releaseScratch(spark)
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }

  test("iterative queries keep a bounded logical plan (lineage truncated per round)") {
    // Every driver-side loop (peeling, label propagation, BFS, pagerank)
    // MUST truncate lineage each round — a lazy persist dedups execution
    // but Catalyst still re-analyzes the full logical tree, which grows
    // geometrically when a round references its predecessor more than
    // once (the round-6 q195 incident: ~5x/round, 2 GiB plan strings,
    // analyzer hang). One un-truncated round at these tiny test inputs
    // already blows far past this cap, so the bound is a tripwire, not
    // a tuning knob.
    val MaxPlanChars = 1000000
    Seq("q60_dup_clusters", "q109_recursive_reach", "q115_pagerank_ppm",
        "q195_kcore_census", "q227_pagerank_converged",
        "q228_kcore_peel_census").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val n = df.queryExecution.analyzed.toString.length
      assert(n < MaxPlanChars,
        s"$name analyzed plan is $n chars — an iterative round is not truncating lineage")
      graft.core.Caches.releaseScratch(spark)
    }
  }

  // Round-12 verdict item 5: the bench tail is full of `WindowExec: No
  // Partition Defined` warnings — each one is an operator moving ALL its
  // input through one task. That is fine exactly when the input is a
  // DOMAIN-SIZED frame (daily spine, histogram of distinct values,
  // top-k/TakeOrdered panel, census grid) and catastrophic when it is
  // corpus-sized (the pre-fix q249 ranked every part in one task). This
  // law pins the inventory: every `Window.orderBy(...)` (no partitioning)
  // and `Window.partitionBy()` (empty) site in src/main must carry a
  // `domain-sized:` marker comment, on the same line or within the 4
  // preceding lines, stating the bound of the frame it sorts. A new
  // global window cannot land without its author writing down why the
  // frame it runs over is small.
  test("every unpartitioned window site carries a domain-sized justification") {
    val re = """Window\.orderBy\(|Window\.partitionBy\(\)""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val untagged = scala.collection.mutable.ArrayBuffer[String]()
    var total = 0
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val lines = java.nio.file.Files.readAllLines(p)
        for (i <- 0 until lines.size()) {
          if (re.findFirstIn(lines.get(i)).isDefined) {
            total += 1
            val window = (math.max(0, i - 4) to i)
              .map(lines.get).mkString("\n")
            if (!window.contains("domain-sized"))
              untagged += s"$p:${i + 1}: ${lines.get(i).trim.take(70)}"
          }
        }
      }
    }
    assert(total > 0, "window-site scan found nothing — path wrong?")
    assert(untagged.isEmpty,
      s"unpartitioned window sites without a domain-sized marker " +
        s"(add `// domain-sized: <bound of the frame>` within the 4 " +
        s"preceding lines — or partition the window):\n  " +
        untagged.mkString("\n  "))
  }
}
