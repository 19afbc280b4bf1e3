package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Bitmaps, BloomJoin, Diagnostics, Features, Funnels, Graphs, History, Incremental, Reports, SkewJoin, Sketches, StarQueries, TemporalOps}
import graft.core.Tables
import graft.ingest.Medallion
import graft.llm.{Coverage, Curation, Datasheet, Decontaminate, DupClusters, EmbedDedup, Multimodal, Scrub, Search, Similarity, TextDedup, TextStats}
import graft.pipeline.EventsPipeline
import graft.sql.SqlQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` (same
  * column names, same full ordering, deterministic numerics) unless the
  * operator is not SQL-expressible, in which case the driver records a
  * rows-only check. The oracle SQL lives in [[graft.oracle]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventsPipeline.goldTop3Days(spark, "/root/testdata/sf0.001")

  /** Queries DELIBERATELY without an oracle (driver records a rows-only
    * check): operators whose computation is not SQL-expressible in
    * DuckDB. Each must say why here and carry a property spec instead.
    * Empty since round 14: q226 (the last member) traded its zlib
    * DEFLATE for the portable dictionary-coder model — see
    * [[graft.llm.TextStats.compressionQuality]]. */
  val NoOracleQueries: Set[String] = Set.empty

  /** Table binders: each reads one input table and hands it to a query's
    * DataFrame function, so a registry entry names its table once, e.g.
    * `silver(Reports.topUsers(_))`. */
  private type Query = (SparkSession, String) => DataFrame
  private def docs(f: DataFrame => DataFrame): Query = (s, d) => f(Tables.documents(s, d))
  private def embeddings(f: DataFrame => DataFrame): Query = (s, d) => f(Tables.embeddings(s, d))
  private def silver(f: DataFrame => DataFrame): Query = (s, d) => f(EventsPipeline.silver(s, d))
  private def orders(f: DataFrame => DataFrame): Query = (s, d) => f(Tables.orders(s, d))
  private def events(f: DataFrame => DataFrame): Query = (s, d) => f(Tables.events(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- star schema: scans, joins, aggregates (SURVEY §2.3-§2.4) ----
    "q01_pricing_summary"      -> ((s, d) => StarQueries.pricingSummary(s, d)),
    "q02_revenue_by_region"    -> ((s, d) => StarQueries.revenueByRegion(s, d)),
    "q03_top_parts"            -> ((s, d) => StarQueries.topPartsByRevenue(s, d)),
    "q04_customer_order_counts"-> ((s, d) => StarQueries.customerOrderCounts(s, d)),
    "q05_segments_with_orders" -> ((s, d) => StarQueries.segmentsWithOrders(s, d)),
    "q06_customers_no_orders"  -> ((s, d) => StarQueries.customersWithoutOrders(s, d)),
    "q07_orders_rollup"        -> ((s, d) => StarQueries.ordersRollup(s, d)),
    "q08_customer_share"       -> ((s, d) => StarQueries.customerShareByNation(s, d)),
    "q09_schema_evolved_union" -> ((s, d) => StarQueries.schemaEvolvedDailyCounts(s, d)),
    // ---- events medallion pipeline (SURVEY §2.1-§2.2, §2.5) ----
    "q10_bronze_flatten"       -> ((s, d) => EventsPipeline.bronze(s, d)
      .select("event_id", "user_id", "event_type", "value", "prop_k", "event_date")
      .orderBy("event_id")),
    "q11_silver_dedup"         -> ((s, d) => {
      import org.apache.spark.sql.functions._
      EventsPipeline.silver(s, d).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("prop_k"), col("event_date"),
        col("year"), col("month"), col("day"), col("hour"))
        .orderBy("event_id")
    }),
    "q12_gold_daily"           -> ((s, d) => EventsPipeline.goldDaily(s, d)
      .orderBy("user_id", "event_date")),
    "q13_gold_top3_days"       -> ((s, d) => EventsPipeline.goldTop3Days(s, d)
      .orderBy("user_id", "event_date")),
    // ---- reports/analytics (SURVEY §2.4-§2.6) ----
    "q14_top_users"            -> silver(Reports.topUsers(_)),
    "q15_first_event"          -> silver(Reports.firstEventPerUser(_)),
    "q16_users_on_date"        -> ((s, d) => Reports.usersOnDate(s, d, "2024-01-05")),
    "q17_distinct_dates"       -> silver(Reports.distinctDates(_)),
    "q18_active_7day"          -> silver(Reports.activeUsers7Day(_)),
    "q19_hourly_activity"      -> silver(Reports.hourlyActivity(_)),
    "q20_monthly_trends"       -> silver(Reports.monthlyTrends(_)),
    "q21_diversity"            -> silver(Reports.diversityRatio(_)),
    "q22_user_profile"         -> silver(Reports.userProfile(_)),
    "q23_daily_profile"        -> silver(Reports.dailyProfile(_)),
    "q24_top_types"            -> silver(Reports.topTypes(_)),
    "q25_running_totals"       -> silver(Reports.runningTotals(_)),
    // ---- LLM-data-pipeline: dedup (brief: dedup pillar) ----
    "q26_exact_dedup"          -> docs(TextDedup.exactDedup(_)),
    "q27_minhash_neardups"     -> ((s, d) => TextDedup.minhashNearDups(s, d)),
    "q28_simhash_neardups"     -> docs(TextDedup.simhashNearDups(_)),
    "q29_ngram_jaccard"        -> docs(TextDedup.ngramJaccardDups(_)),
    // ---- LLM-data-pipeline: text analysis ----
    "q30_doc_features"         -> docs(TextStats.docFeatures(_)),
    "q31_corpus_stats"         -> docs(TextStats.corpusStats(_)),
    "q32_quality_score"        -> docs(TextStats.qualityScore(_)),
    "q33_lang_id"              -> docs(TextStats.langId(_)),
    // ---- LLM-data-pipeline: similarity search ----
    "q34_knn_exact"            -> embeddings(Similarity.knnExact(_)),
    "q35_knn_lsh"              -> embeddings(Similarity.knnLsh(_)),
    "q36_similar_pairs"        -> embeddings(Similarity.similarPairs(_)),
    // ---- LLM-data-pipeline: multimodal plumbing (decode stubbed) ----
    "q37_media_features"       -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    // ---- 100 TB sketch variant: HLL estimates reduced to within-tolerance
    //      booleans vs the exact distincts, so the oracle hash-verifies the
    //      sketch accuracy instead of recording a rows-only check ----
    "q38_user_profile_approx"  -> silver(Reports.userProfileApproxChecked(_)),
    // ---- SQL entry point (A3/S13): spark.sql over temp views ----
    "q39_sql_top_users"        -> ((s, d) => SqlQueries.topUsersSql(s, d)),
    "q40_sql_active_7day"      -> ((s, d) => SqlQueries.activeUsers7DayThetaSql(s, d)),
    "q41_sql_first_event"      -> ((s, d) => SqlQueries.firstEventSql(s, d)),
    // ---- NOT IN churn census (null-aware anti join; the NULL law is
    //      pinned in SqlQueriesSpec) ----
    "q140_churned_users"       -> ((s, d) => SqlQueries.churnedUsersSql(s, d)),
    // ---- ingest + on-disk writes (S1/S6/S7/S15/U1/U2) ----
    "q42_ndjson_roundtrip"     -> ((s, d) => Medallion.ndjsonRoundtrip(s, d)),
    // ---- file-level lineage from _metadata hidden columns alone (one
    //      file per partition dir by construction) ----
    "q141_file_lineage"        -> ((s, d) => Medallion.fileLineage(s, d)),
    "q43_gold_epochs_ondisk"   -> ((s, d) => Medallion.goldEpochsOnDisk(s, d)),
    // ---- temporal/ordering surface (O2, set-ops, as-of, sessions) ----
    "q44_null_ordering"        -> silver(TemporalOps.prevEventOrdering(_)),
    "q45_user_date_setops"     -> ((s, d) =>
      TemporalOps.userDateSetOps(EventsPipeline.silver(s, d), "2024-01-05", "2024-01-06")),
    // ---- BAG-semantics set ops (intersectAll / exceptAll multiplicity
    //      algebra; q45 is the distinct form) ----
    "q145_bag_setops"          -> ((s, d) =>
      TemporalOps.typeBagSetOps(EventsPipeline.silver(s, d), "2024-01-05", "2024-01-06")),
    "q46_asof_join"            -> ((s, d) =>
      TemporalOps.eventOrderAsOf(EventsPipeline.silver(s, d), graft.core.Tables.orders(s, d))),
    "q47_sessions"             -> silver(TemporalOps.sessionize(_)),
    // ---- IVF ANN variant + grouping-sets completion ----
    "q48_knn_ivf"              -> embeddings(Similarity.knnIvf(_)),
    "q49_orders_cube"          -> ((s, d) => StarQueries.ordersCube(s, d)),
    "q50_value_quantiles"      -> silver(TemporalOps.valueQuantiles(_)),
    // ---- interpolated percentile_cont (exact lerp on integral data;
    //      q50 is the discrete form for everything else) ----
    "q143_percentile_cont"     -> ((s, d) =>
      TemporalOps.percentileCont(graft.core.Tables.lineitem(s, d))),
    // ---- LLM-data-pipeline: embedding-space dedup (5th dedup family) ----
    "q51_embedding_neardups"   -> docs(EmbedDedup.embeddingNearDups(_)),
    // ---- LLM-data-pipeline: curation (split / sample / mix / budget) ----
    "q52_train_split"          -> docs(Curation.trainSplitSummary(_)),
    "q53_stratified_sample"    -> docs(Curation.stratifiedSample(_)),
    "q54_source_mixture"       -> docs(Curation.sourceMixture(_)),
    "q55_token_counts"         -> docs(Curation.tokenCounts(_)),
    // ---- §2.8 closure: deterministic ROUND(x, 2) via exact integer/
    //      decimal arithmetic (double round() is not portable) ----
    "q56_hourly_pct_rounded"   -> silver(Reports.hourlyActivityRounded(_)),
    // ---- salted two-stage distinct under a 5-value group key: the
    //      skew pattern written out (hot-reducer-free at 100 TB) ----
    "q57_salted_distinct"      -> silver(Reports.typeUniqueUsersSalted(_)),
    // ---- rolling-hash fingerprints via the codegen'd graft_rollhash
    //      expression (Rabin–Karp primitive, exact int64) ----
    "q58_rolling_fingerprint"  -> docs(TextStats.rollingFingerprints(_)),
    // ---- winnowed-fingerprint near-dup (MOSS scheme; 6th dedup family,
    //      char-level complement to the word-shingle families) ----
    "q59_winnow_dups"          -> docs(TextDedup.winnowDups(_)),
    // ---- dup-cluster resolution: connected components over the q27
    //      near-dup pairs (hash-to-min label propagation) ----
    "q60_dup_clusters"         -> ((s, d) => DupClusters.dupClusters(s, d)),
    // ---- distinctive terms (exact-integer TF-IDF reshape) ----
    "q61_distinctive_terms"    -> docs(TextStats.distinctiveTerms(_)),
    // ---- Gopher-family repetition filter (dup-word / top-2-gram ppm) ----
    "q62_repetition_signals"   -> docs(TextStats.repetitionSignals(_)),
    // ---- native sliding windows (batch twin of the streaming agg) ----
    "q63_sliding_windows"      -> silver(TemporalOps.slidingWindowCounts(_)),
    // ---- GK quantile sketch with its rank guarantee checked in-query
    //      (percentile counterpart of the q38 HLL tolerance pattern) ----
    "q64_quantiles_approx"     -> silver(Reports.valueQuantilesApproxChecked(_)),
    // ---- content-defined chunking: shared-chunk census (substring-level
    //      dedup, shift-resistant boundaries off graft_rollhash) ----
    "q65_chunk_dedup"          -> docs(TextDedup.chunkDedup(_)),
    // ---- flagship composition: quality ∧ repetition ∧ dedup ∧ split
    //      as one declarative plan ----
    "q66_curation_verdicts"    -> docs(Curation.curationVerdicts(_)),
    // ---- mergeable HLL sketches: daily partials unioned to weekly,
    //      accuracy checked in-query (re-aggregability at 100 TB) ----
    "q67_weekly_distinct_sketch" -> silver(Reports.weeklyDistinctSketched(_)),
    // ---- FULL OUTER reconciliation (the one join type not yet on the
    //      surface): event days vs order days, gaps flagged ----
    "q68_daily_reconciled"     -> ((s, d) =>
      TemporalOps.dailyActivityReconciled(
        EventsPipeline.silver(s, d), graft.core.Tables.orders(s, d))),
    // ---- benchmark decontamination: broadcast eval n-gram set, map-side
    //      overlap count per training doc ----
    "q69_decontamination"      -> docs(Decontaminate.overlapReport(_)),
    // ---- PII-pattern scrub + compliance audit (regexp_replace /
    //      regexp_extract_all, all codegen'd) ----
    "q70_pii_scrub_audit"      -> events(Scrub.redactionAudit(_)),
    // ---- corpus boilerplate census: one explode pass, broadcast flagged
    //      set, per-doc common-gram ratio ----
    "q71_boilerplate_census"   -> docs(Decontaminate.boilerplateCensus(_)),
    // ---- SCD2 history build: gaps-and-islands over one exchange ----
    "q72_status_history"       -> orders(History.statusHistory(_)),
    // ---- semantic cluster profile: broadcast quantizer assignment +
    //      per-cell purity/tightness rollup ----
    "q73_cluster_profile"      -> embeddings(Similarity.clusterProfile(_)),
    // ---- key-skew census: the measurement step before salting /
    //      AQE-skew decisions ----
    "q74_key_skew_census"      -> events(Diagnostics.keySkewCensus(_)),
    // ---- temperature-flattened mixture (T=2): integer-exact sqrt
    //      weighting, broadcast rate table, shuffle-free keep ----
    "q75_temperature_mixture"  -> docs(Curation.temperatureMixture(_)),
    // ---- incremental dedup: one-sided band join, incoming batch vs the
    //      already-deduped corpus ----
    "q76_incremental_dedup"    -> ((s, d) => TextDedup.incrementalDedup(s, d)),
    // ---- user-erasure propagation: broadcast anti-join scrub with a
    //      completeness audit ----
    "q77_forget_audit"         -> ((s, d) => graft.ingest.Forget.forgetAudit(s, d)),
    // ---- deduped-corpus keep list: clusters applied back to the corpus
    //      as a broadcast, canonical-only keeps ----
    "q78_dedup_keep_list"      -> ((s, d) => DupClusters.dedupKeepList(s, d)),
    // ---- ordered 3-stage funnel with exact ppm conversions ----
    "q79_funnel"               -> silver(graft.analytics.Funnels.funnel(_)),
    // ---- day-1/day-7 cohort retention over distinct-compressed
    //      activity ----
    "q80_retention_cohorts"    -> silver(graft.analytics.Funnels.retentionCohorts(_)),
    // ---- incremental view maintenance: base+delta partials merged,
    //      oracle-checked against the direct full aggregate ----
    "q81_gold_incremental"     -> ((s, d) => graft.analytics.Incremental.goldIncremental(s, d)),
    // ---- explicit-domain pivot: single-pass, stable schema ----
    "q82_user_type_pivot"      -> silver(Reports.userTypePivot(_)),
    // ---- ntile quartile segmentation over users-sized counts ----
    "q83_user_quartiles"       -> silver(Reports.userQuartiles(_)),
    // ---- source-overlap matrix: shingle-keyed pair join, bounded
    //      source-pair fan-out ----
    "q84_source_overlap"       -> docs(Decontaminate.sourceOverlap(_)),
    // ---- declarative data-quality constraint report (Deequ/dbt shape) ----
    "q85_quality_checks"       -> ((s, d) => graft.analytics.QualityChecks.constraintReport(s, d)),
    // ---- rare-word/OOV ratio: the integer-exact LM-filter stand-in ----
    "q86_rare_word_ratio"      -> docs(TextStats.rareWordRatio(_)),
    // ---- NATIVE session_window (vs q47's manual islands) ----
    "q87_session_windows"      -> silver(TemporalOps.sessionWindows(_)),
    // ---- width_bucket fixed-bound histogram ----
    "q88_value_histogram"      -> silver(Reports.valueHistogram(_)),
    // ---- higher-order array functions (order-fixed folds) ----
    "q89_vector_stats"         -> embeddings(Similarity.vectorStats(_)),
    // ---- explicit GROUPING SETS + grouping_id (rollup/cube's sibling) ----
    "q90_grouping_sets"        -> ((s, d) => StarQueries.ordersGroupingSets(s, d)),
    // ---- calendar-aware RANGE-interval rolling frame ----
    "q91_rolling_7day"         -> ((s, d) =>
      Reports.rolling7Day(s, EventsPipeline.silver(s, d))),
    // ---- UNPIVOT: the pivot's shuffle-free inverse ----
    "q92_user_type_unpivot"    -> silver(Reports.userTypeUnpivot(_)),
    // ---- triangle census with degree-ordered orientation (curse-of-the-
    //      last-reducer kernel) ----
    "q93_copurchase_triangles" -> ((s, d) => Graphs.coPurchaseTriangles(s, d)),
    // ---- concat-and-chunk sequence packing (pretraining layout) ----
    "q94_sequence_packing"     -> docs(Curation.packSequences(_)),
    // ---- per-dimension embedding stats (normalization pre-pass) ----
    "q95_dim_stats"            -> embeddings(Similarity.dimStats(_)),
    // ---- Z-order curve (multi-column data-skipping layout) ----
    "q96_zorder_curve"         -> ((s, d) => graft.analytics.Layout.zOrderCurve(s, d)),
    // ---- point-range lookup over the bloom-indexed sorted layout
    //      (footer audit in LayoutIndexSpec) ----
    "q142_indexed_lookup"      -> ((s, d) =>
      graft.analytics.Layout.indexedLayoutLookup(s, d)),
    // ---- blocked fuzzy matching (entity resolution: block → verify) ----
    "q97_fuzzy_part_names"     -> ((s, d) => graft.llm.FuzzyMatch.fuzzyPartNames(s, d)),
    // ---- map-typed profiles + higher-order map functions ----
    "q98_user_map_profile"     -> silver(Reports.userTypeMapProfile(_)),
    // ---- first BPE merge step over the word-frequency table ----
    "q99_bpe_merge_candidates" -> docs(TextStats.bpeMergeCandidates(_)),
    // ---- generator-based calendar densification (gap fill) ----
    "q100_calendar_gap_fill"   -> silver(TemporalOps.calendarGapFill(_)),
    // ---- percent_rank / cume_dist calibration curve ----
    "q101_rank_distributions"  -> silver(Reports.rankDistributions(_)),
    // ---- first/last/nth_value incl. the default-frame gotcha as data ----
    "q102_value_windows"       -> silver(Reports.valueWindows(_)),
    // ---- correlated LATERAL (decorrelated per-group top-k) ----
    "q103_lateral_topk"        -> ((s, d) => SqlQueries.lateralTopCustomersSql(s, d)),
    // ---- item-item co-purchase recommendations (CF top-k) ----
    "q104_item_item_recs"      -> ((s, d) => Graphs.itemItemRecs(s, d)),
    // ---- exact decimal second moments (covariance/OLS inputs) ----
    "q105_exact_moments"       -> ((s, d) => StarQueries.exactMoments(s, d)),
    // ---- VARIANT semi-structured flatten (schema-free path probes) ----
    "q106_variant_flatten"     -> ((s, d) => EventsPipeline.variantFlatten(s, d)),
    // ---- greedy first-fit packing (boundary-respecting, mapPartitions) ----
    "q107_greedy_packing"      -> docs(Curation.packGreedy(_)),
    // ---- typed Aggregator: single-pass bounded top-k per group ----
    "q108_topk_aggregator"     -> ((s, d) => EventsPipeline.goldTop3DaysTyped(s, d)),
    // ---- RECURSIVE CTE: bounded BFS min-hop census ----
    "q109_recursive_reach"     -> ((s, d) => SqlQueries.recursiveReachSql(s, d)),
    // ---- exact 3σ outlier census (division/sqrt-free z-score) ----
    "q111_outlier_census"      -> ((s, d) =>
      StarQueries.outlierCensus(s, EventsPipeline.silver(s, d))),
    // ---- Gini inequality of engagement, exact integer ppm ----
    "q112_gini_ppm"            -> ((s, d) =>
      StarQueries.giniPpm(s, EventsPipeline.silver(s, d))),
    // ---- the CUSTOM PHYSICAL as-of operator (LogicalPlan + Strategy +
    //      SparkPlan, graft.plans.AsOfJoinExec): same semantics as q46,
    //      same oracle, different (native) execution ----
    "q113_asof_physical"       -> ((s, d) =>
      TemporalOps.eventOrderAsOfPhysical(EventsPipeline.silver(s, d), graft.core.Tables.orders(s, d))),
    // ---- Misra–Gries heavy hitters: the frequency sketch, guarantee-
    //      gated against the exact census (q38/q64 tolerance pattern) ----
    "q114_heavy_hitters"       -> ((s, d) =>
      Diagnostics.heavyHittersChecked(s, EventsPipeline.silver(s, d))),
    // ---- iterative PageRank in exact integer ppm (3 rounds, 17/20
    //      damping, floor division — no IEEE drift across engines) ----
    "q115_pagerank_ppm"        -> ((s, d) => Graphs.pageRankPpm(s, d)),
    // ---- custom DataSource V2 connector (generator with pushdown):
    //      census over the md5-derived corpus, rebuilt by the oracle
    //      from range(n) ----
    "q116_docgen_census"       -> ((s, _) =>
      graft.sources.DocGenQueries.corpusCensus(s)),
    // ---- storage-partitioned join: lang-keyed DSv2 partitions line up
    //      across both scans, zero shuffle exchanges (SPJ) ----
    "q139_spj_lang_join"       -> ((s, _) =>
      graft.sources.DocGenQueries.spjLangJoin(s)),
    // ---- BANDED interval-overlap join (month bands restore an
    //      equi-join; the theta spelling would plan an NLJ) ----
    "q117_interval_overlap"    -> ((s, d) =>
      TemporalOps.intervalOverlapCensus(graft.core.Tables.lineitem(s, d))),
    // ---- ORC round trip (q12's oracle gates the format) ----
    "q118_orc_roundtrip"       -> ((s, d) => Medallion.goldOrcRoundtrip(s, d)),
    // ---- headered CSV round trip with explicit read schema ----
    "q119_csv_roundtrip"       -> ((s, d) => Medallion.goldCsvRoundtrip(s, d)),
    // ---- bigram LM count table (transform+explode, one shuffle,
    //      integer-ppm conditionals) ----
    "q120_bigram_lm"           -> docs(graft.llm.TextStats.bigramCounts(_)),
    // ---- source-vs-corpus lang-distribution drift, exact L1 ppm over
    //      the full source × lang grid ----
    "q121_source_drift"        -> docs(graft.llm.TextStats.sourceDrift(_)),
    // ---- snapshot diff: content-hash full-outer reconciliation ----
    "q122_corpus_diff"         -> docs(Incremental.corpusDiff(_)),
    // ---- catalog-plugin route: SQL over a virtual graft.gen table with
    //      V2 function consistency folded into the gate ----
    "q123_catalog_census"      -> ((s, _) =>
      graft.sources.DocGenQueries.catalogCensus(s)),
    // ---- equi-depth histogram (deterministic ntile over a total order) ----
    "q124_equidepth_hist"      -> silver(TemporalOps.equidepthHistogram(_)),
    // ---- MAD robust outlier census (two discrete medians, 3·MAD fence) ----
    "q125_mad_outliers"        -> silver(TemporalOps.madOutliers(_)),
    // ---- int8-quantized ANN (exact integer-valued arithmetic; recall
    //      vs full precision pinned in SimilaritySpec) ----
    "q126_knn_quantized"       -> embeddings(Similarity.knnQuantized(_)),
    // ---- token-budget allocation (4-row level census + boundary-only
    //      prefix sum) ----
    "q127_budget_allocation"   -> docs(Curation.budgetAllocation(_)),
    // ---- quality-aware canonical per duplicate cluster ----
    "q128_best_of_cluster"     -> ((s, d) => DupClusters.bestOfClusters(s, d)),
    // ---- MERGE INTO semantics as a single full-outer shuffle ----
    "q129_merge_upsert"        -> ((s, d) => Incremental.mergeUpsert(s, d)),
    // ---- tier retention census (the reference's S3 lifecycle policy
    //      as an auditable engine operator) ----
    "q130_retention_plan"      -> ((s, d) => Medallion.retentionPlan(s, d)),
    // ---- power-of-2 inter-event gap histogram (integer log2 via bin()) ----
    "q131_gap_histogram"       -> silver(TemporalOps.gapHistogram(_)),
    // ---- embedding-centroid drift (exact integer-scaled sums; scale
    //      and mean cancel in the cosine) ----
    "q132_embedding_drift"     -> embeddings(Similarity.embeddingDrift(_)),
    // ---- bigram-LM doc scoring (KenLM/CCNet perplexity-filter stand-in:
    //      the corpus's own LM scores every doc, integer-exact) ----
    "q133_doc_lm_score"        -> ((s, d) => TextStats.docLmScore(s, d)),
    // ---- per-lang shingle census via the lazy Generator (bounded
    //      per-row memory vs explode's full-array materialization) ----
    "q134_shingle_census"      -> docs(TextStats.shingleCensus(_)),
    // ---- bloom-reduced exact join (probe shuffled only where the key
    //      fingerprint says it can match; result identical to plain join) ----
    "q135_bloom_join_revenue"  -> ((s, d) => BloomJoin.urgentItemRevenue(s, d)),
    // ---- salted skew join (hot fact keys scattered over sub-keys, dim
    //      replicated to match; result identical to the plain join) ----
    "q136_salted_join_brands"  -> ((s, d) => SkewJoin.brandRevenueSalted(s, d)),
    // ---- deterministic training-order shuffle + sharding (per-row
    //      md5 rank; epoch reseed re-deals; no shuffle to assign) ----
    "q137_training_order"      -> docs(Curation.trainingOrder(_)),
    // ---- Unicode NFC canonicalization census (graft_nfc codegen'd
    //      expression, zero-copy ASCII fast path) ----
    "q138_nfc_census"          -> docs(TextStats.nfcCensus(_)),
    // ---- collation-typed case-insensitive grouping (UTF8_LCASE as a
    //      property of the type, not a lower() at each use site) ----
    "q144_collated_census"     -> docs(TextStats.collatedLangCensus(_)),
    // ---- first-order Markov transition matrix over user event
    //      sequences (lead() pairs, exact ppm rows) ----
    "q146_event_transitions"   -> silver(Funnels.eventTransitions(_)),
    // ---- day-over-day volume-spike census (exact integer deltas,
    //      cross-multiplied ±50% flag — no division) ----
    "q147_daily_spikes"        -> silver(Reports.dailySpikeCensus(_)),
    // ---- exact closed-form least-squares trend per type (sufficient
    //      statistics in one aggregation; all-BIGINT numerators) ----
    "q148_trend_stats"         -> silver(TemporalOps.typeTrendStats(_)),
    // ---- Spark 4 built-in XML round trip (schema'd read; q12's
    //      oracle gates type survival through element text) ----
    "q149_xml_roundtrip"       -> ((s, d) => Medallion.goldXmlRoundtrip(s, d)),
    // ---- overlapping token-window chunking with per-chunk content
    //      fingerprints (RAG/training unitization) ----
    "q150_doc_chunks"          -> docs(Curation.docChunks(_)),
    // ---- Heaps-law vocabulary-growth curve (word first-seen buckets,
    //      cumulative vocab size — all exact integers) ----
    "q151_vocab_growth"        -> docs(TextStats.vocabGrowth(_)),
    // ---- exact per-group trimmed mean over integral quantities
    //      (robust aggregation; only division is a final integer div) ----
    "q152_trimmed_means"       -> ((s, d) =>
      TemporalOps.trimmedMeans(graft.core.Tables.lineitem(s, d))),
    // ---- k-anonymity census over behavioral profiles (privacy risk
    //      surface; canonical fingerprint grouping) ----
    "q153_kanonymity"          -> silver(Reports.kAnonymityCensus(_)),
    // ---- power-of-two length-bucket binning with padding-waste ppm
    //      (the whole-doc complement of sequence packing) ----
    "q154_length_buckets"      -> docs(Curation.lengthBuckets(_)),
    // ---- grouped greedy packing: first-fit fold bounded to fixed-size
    //      doc groups so the sequential chain is O(group), not O(source)
    //      — the scalable form of q107 ----
    "q155_grouped_packing"     -> docs(Curation.packGreedyGrouped(_)),
    // ---- cluster-balanced curation sample: top-k per quantizer cell by
    //      quality — diversity-preserving selection across the embedding
    //      space (embeddings × documents on the shared id) ----
    "q156_cluster_sample"      -> ((s, d) => Similarity.clusterBalancedSample(s, d)),
    // ---- asymmetric containment dedup (|A∩B|/|A| over shingle sets;
    //      rare-shingle candidate generation, bounded fan-out) ----
    "q157_containment_dups"    -> ((s, d) => TextDedup.containmentDups(s, d)),
    // ---- cross-split leakage census: near-dup pairs straddling the
    //      train/val/test boundary (eval-contamination audit) ----
    "q158_split_leakage"       -> ((s, d) => Curation.splitLeakage(s, d)),
    // ---- leakage-FREE split: hash keyed by dup-cluster id so twins
    //      travel together; straddle count derived as zero ----
    "q159_cluster_split"       -> ((s, d) => Curation.clusterSplit(s, d)),
    // ---- per-doc duplication coverage: fraction of a doc's chars in
    //      CDC chunks shared verbatim with other docs (Gopher-style
    //      partial-duplication gate; linear, no pair joins) ----
    "q160_dup_coverage"        -> docs(TextDedup.dupCoverage(_)),
    // ---- recall@5 audit of every approximate ANN variant (int8 /
    //      IVF / LSH) against the exact ranking — the index-acceptance
    //      number; output is |queries|-sized integers ----
    "q161_ann_recall"          -> embeddings(Similarity.annRecallAudit(_)),
    // ---- SemDeDup-style semantic dedup census: within-cell pairwise
    //      embedding cosine at the paper's 0.9 threshold; per-cell
    //      docs / pairs / removed / kept ----
    "q162_semantic_dedup"      -> docs(EmbedDedup.semanticDedup(_)),
    // ---- post-dedup token budget per source: docs/tokens before vs
    //      after the q78 keep-list, savings as exact ppm (the KPI the
    //      q54 mixture weights re-balance against) ----
    "q163_dedup_token_budget"  -> ((s, d) => Curation.dedupTokenBudget(s, d)),
    // ---- cross-lingual dup census: near-dup pairs per unordered lang
    //      pair; off-diagonal = translation/re-tag double counting ----
    "q164_cross_lingual_dups"  -> ((s, d) => DupClusters.crossLingualDups(s, d)),
    // ---- duplicate-cluster size histogram (pairs vs template
    //      families — the power-law lever report) ----
    "q165_cluster_sizes"       -> ((s, d) => DupClusters.clusterSizeHistogram(s, d)),
    // ---- paragraph-level dedup census (RefinedWeb unit: newline
    //      paragraphs hashed corpus-wide, shared mass as exact ppm) ----
    "q166_paragraph_dedup"     -> docs(TextDedup.paragraphDedup(_)),
    // ---- Pareto skyline (cheapest-for-its-size frontier) via the
    //      sort-based two-level prefix-max, never a quadratic join ----
    "q167_part_skyline"        -> ((s, d) => StarQueries.partSkyline(s, d)),
    // ---- market-basket lift between event types (user-co-partitioned
    //      self-join, domain-bounded expansion, integer-ppm lift) ----
    "q168_type_lift"           -> silver(Reports.typeLift(_)),
    // ---- weighted systematic sample by char mass: PPS selection from
    //      pure integer prefix sums, zero RNG, bit-reproducible ----
    "q169_systematic_sample"   -> docs(Curation.systematicSample(_)),
    // ---- per-doc shingle novelty vs all lower doc_ids (diminishing-
    //      returns curve; reuses the memoized shingle frame) ----
    "q170_novelty_curve"       -> ((s, d) => TextStats.noveltyCurve(s, d)),
    // ---- chi-squared lang×source independence census, fraction-free
    //      integer arithmetic with a pinned flooring order ----
    "q171_chi2_census"         -> docs(TextStats.chi2Census(_)),
    // ---- Benford leading-digit census from exact integer cents (no
    //      log10/pow near-power-of-ten ulp hazards) ----
    "q172_benford_census"      -> ((s, d) => StarQueries.benfordCensus(s, d)),
    // ---- dedup survivorship: per-source absorbed/cross-absorbed docs
    //      under the min-id keep rule (source-mixture bias audit) ----
    "q173_dedup_survivorship"  -> ((s, d) => DupClusters.survivorshipBySource(s, d)),
    // ---- second-order sequence motifs (3-grams over user event
    //      sequences, conditional ppm vs the (a,b) prefix) ----
    "q174_motif_census"        -> silver(Funnels.motifCensus(_)),
    // ---- fulfillment-latency histogram per priority (fact-to-fact
    //      equi-join, exact integer day gaps, week buckets) ----
    "q175_ship_latency"        -> ((s, d) => StarQueries.shipLatency(s, d)),
    // ---- char-mass-weighted length percentiles per source (decomposed
    //      value histogram, integer cross-multiplication, no sorts) ----
    "q176_weighted_length_pct" -> docs(TextStats.weightedLengthPercentiles(_)),
    // ---- quality × duplication interaction (q32 ∘ q160 composition:
    //      are the passes redundant or orthogonal?) ----
    "q177_quality_dup_interaction" -> docs(TextStats.qualityDupInteraction(_)),
    // ---- LSH transfer-curve calibration: band agreement vs exact
    //      Jaccard per candidate pair, incl. pure-collision pairs ----
    "q178_lsh_calibration"     -> ((s, d) => TextDedup.lshCalibration(s, d)),
    // ---- binaryFile source: opaque-blob ingestion with end-to-end
    //      md5 byte-integrity verification (the multimodal scan) ----
    "q179_binary_ingest"       -> ((s, d) => Medallion.binaryIngestCensus(s, d)),
    // ---- RFM segmentation: stable integer bucket rules (quarters /
    //      log2-orders / $50k cents), never rank-relative ----
    "q180_rfm_segments"        -> ((s, d) => StarQueries.rfmSegments(s, d)),
    // ---- within-label cosine decile histogram: the distance-
    //      distribution audit behind any semantic-dedup threshold ----
    "q181_cosine_histogram"    -> embeddings(Similarity.cosineHistogram(_)),
    // ---- OOV census vs corpus top-K vocab (TakeOrdered vocab,
    //      broadcast back; tokenizer-coverage audit) ----
    "q182_oov_census"          -> docs(TextStats.oovCensus(_)),
    // ---- cross-series covariance between type daily volumes (exact
    //      int64 numerators on a domain-sized matrix) ----
    "q183_type_covariance"     -> silver(Reports.typeCovariance(_)),
    // ---- Merkle bucket checksums (xor row digests per id bucket —
    //      the replica anti-entropy / migration-audit primitive) ----
    "q184_merkle_buckets"      -> docs(Diagnostics.merkleBuckets(_)),
    // ---- orders→lineitem fan-out histogram incl. zero-child parents
    //      (the join-cardinality profile behind 100 TB join sizing) ----
    "q185_fanout_histogram"    -> ((s, d) => Diagnostics.fanoutHistogram(s, d)),
    // ---- top-decile activity concentration (count-histogram
    //      decomposition, ties-whole rule, no user-level sort) ----
    "q186_concentration"       -> ((s, d) => Diagnostics.concentrationCensus(s, d)),
    // ---- supply-side revenue rollup (closes dimension coverage:
    //      lineitem ⋈ broadcast supplier ⋈ broadcast nation) ----
    "q187_supplier_revenue"    -> ((s, d) => StarQueries.revenueBySupplierNation(s, d)),
    // ---- two-sample Kolmogorov–Smirnov drift distance (two-level
    //      prefix sum — no global sort; exact integer statistic) ----
    "q188_ks_distance"         -> silver(Reports.ksDistance(_)),
    // ---- l-diversity census over (type, hour) QI cells (companion
    //      privacy gauge to the q153 k-anonymity profiles) ----
    "q189_l_diversity"         -> silver(Reports.lDiversityCensus(_)),
    // ---- degree assortativity (exact int64 Pearson terms over the
    //      memoized co-purchase edge scaffold) ----
    "q190_assortativity"       -> ((s, d) => Graphs.degreeAssortativity(s, d)),
    // ---- exact 64-char-window duplication mass per source (Lee et
    //      al. exact-substring census at fixed granularity) ----
    "q191_window_dup_mass"     -> docs(TextDedup.windowDupMass(_)),
    // ---- stationary distribution of the type-transition chain
    //      (integer-ppm power iteration; matrix is model-state-sized) ----
    "q192_markov_stationary"   -> silver(Funnels.markovStationary(_)),
    // ---- time-weighted value integral per user (step-function ∫v·dt;
    //      num/den shipped separately — no negative division) ----
    "q193_time_weighted_value" -> silver(TemporalOps.timeWeightedValue(_)),
    // ---- half-life decayed engagement (exact integer shift decay,
    //      data-relative reference date) ----
    "q194_decayed_engagement"  -> silver(TemporalOps.decayedEngagement(_)),
    // ---- bounded-round k-core peeling (k=80 converges in 5 rounds on
    //      this graph; rounds fixed so both engines compute the same
    //      relation) ----
    "q195_kcore_census"        -> ((s, d) => Graphs.kCoreCensus(s, d)),
    // ---- as-of join with a 30-day staleness tolerance (merge_asof
    //      tolerance semantics; zero extra data movement) ----
    "q196_asof_tolerance"      -> ((s, d) => TemporalOps.eventOrderAsOfTolerance(s, d)),
    // ---- product-quantization ANN: int8-grid subvector codes + an
    //      asymmetric-distance LUT scan, all int64-exact ----
    "q197_knn_pq"              -> embeddings(Similarity.knnPq(_)),
    // ---- event-time disorder (per-user Spearman between arrival and
    //      event-time order — watermark sizing evidence) ----
    "q198_disorder_census"     -> silver(Reports.disorderCensus(_)),
    // ---- weighted (multiset) Jaccard verify of the minhash candidates ----
    "q199_weighted_jaccard"    -> ((s, d) => TextDedup.weightedJaccard(s, d)),
    // ---- last-touch attribution with a 7-day lookback (running
    //      ignoreNulls carry — the self-join-free as-of shape) ----
    "q200_attribution"         -> silver(Funnels.lastTouchAttribution(_)),
    // ---- bitmap-index retention: per-user int64 activity bitmap via
    //      bit_or, week masks replace the cohort self-join ----
    "q201_bitmap_retention"    -> silver(Bitmaps.bitmapRetention(_)),
    // ---- reciprocal-rank fusion of the exact and int8 rankings
    //      (integer RRF — rank arithmetic only, no float scores) ----
    "q202_rrf_fusion"          -> embeddings(Similarity.rrfFusion(_)),
    // ---- autocorrelation sufficient statistics of the daily count at
    //      lags 1..7 (seasonality probe, exact int64 like q148) ----
    "q203_acf_daily"           -> silver(TemporalOps.acfDailyStats(_)),
    // ---- perceptual-hash (aHash) near-dup census: 64-bit block-average
    //      fingerprint, 4-band pigeonhole Hamming join ----
    "q204_phash_dups"          -> docs(Multimodal.perceptualHashDups(_)),
    // ---- full cohort triangle from the q201 bitmaps (first-active-week
    //      cohorts, zero self-joins) ----
    "q205_cohort_matrix"       -> silver(Bitmaps.cohortMatrix(_)),
    // ---- local clustering-coefficient deciles (per-node triangles via
    //      the q93 orientation, all-integer coefficients) ----
    "q206_clustering_coeff"    -> ((s, d) => Graphs.clusteringCoefficients(s, d)),
    // ---- segment-overlap matrix via bitmap pattern counting (corpus
    //      read once for all T*(T-1)/2 pairs) ----
    "q207_segment_overlap"     -> silver(Bitmaps.segmentOverlap(_)),
    // ---- inverted-index conjunctive search (posting-list intersection,
    //      data-derived 3-term query at df ranks 10-12) ----
    "q208_conjunctive_search"  -> docs(Search.conjunctiveSearch(_)),
    // ---- event-study census: activity 7 days before vs after each
    //      user's first purchase (difference-around-anchor design) ----
    "q209_prepost_census"      -> silver(TemporalOps.prePostFirstPurchase(_)),
    // ---- positional phrase search: per-doc occurrences of the corpus'
    //      top bigram (adjacency via the bigram explode) ----
    "q210_phrase_count"        -> docs(Search.phraseCount(_)),
    // ---- single-term BM25 top-10 in exact cross-multiplied int64
    //      (k1=6/5, b=3/4; term = df rank 5) ----
    "q211_bm25_topk"           -> docs(Search.bm25TopK(_)),
    // ---- PMI collocation top-20 (symmetric lift over the bigram event
    //      space, exact int64; support floor 5) ----
    "q212_pmi_collocations"    -> docs(TextStats.pmiCollocations(_)),
    // ---- dup-cluster dilution audit: verified vs implied pairs per
    //      cluster size (the union-find over-merge number) ----
    "q213_cluster_dilution"    -> ((s, d) => DupClusters.clusterDilution(s, d)),
    // ---- top-10 3-event user paths (sequential pattern mining one
    //      order above the q146 transition matrix) ----
    "q214_event_trigrams"      -> silver(Funnels.eventTrigrams(_)),
    // ---- int8 quantization-error census (per-vector worst residual in
    //      quantization-step units, 0.05 buckets) ----
    "q215_quant_error"         -> embeddings(Similarity.quantErrorCensus(_)),
    // ---- market-basket frequent part triples (ordered 3-way self-join,
    //      output-bounded by C(basket,3)) ----
    "q216_frequent_triples"    -> ((s, d) => StarQueries.frequentTriples(s, d)),
    // ---- greedy max-coverage source selection (5 driver-side rounds of
    //      one anti-join + argmax each; submodular mixture planning) ----
    "q217_coverage_greedy"     -> ((s, d) => Coverage.coverageGreedy(s, d)),
    // ---- dedup-aware contrastive negatives (deterministic md5 rank,
    //      near-dup cluster exclusion) ----
    "q218_negative_samples"    -> ((s, d) => Coverage.negativeSamples(s, d)),
    // ---- vocab-size sweep: per-source OOV occurrence mass at top-8/16/
    //      24 vocabularies (the tokenizer-budget curve) ----
    "q219_vocab_sweep"         -> docs(TextStats.vocabSweep(_)),
    // ---- corpus datasheet: one (metric, value) relation of size,
    //      composition, vocabulary, and duplication health ----
    "q220_corpus_datasheet"    -> ((s, d) => Datasheet.datasheet(s, d)),
    // ---- cross-source window provenance (who copies whom, at the q191
    //      exact-substring granularity) ----
    "q221_window_provenance"   -> docs(TextDedup.windowProvenance(_)),
    // ---- A/A balance census (deterministic md5 arm split; the
    //      sample-ratio-mismatch sanity check) ----
    "q222_aa_balance"          -> silver(Reports.aaBalance(_)),
    // ---- order-backlog aging: status x data-relative age quarter,
    //      exact value cents ----
    "q223_backlog_aging"       -> ((s, d) => StarQueries.orderBacklogAging(s, d)),
    // ---- session handoff matrix: last action of session n vs first of
    //      session n+1, per user ----
    "q224_session_handoffs"    -> silver(TemporalOps.sessionHandoffs(_)),
    // ---- order<->lineitem value-consistency audit (header total vs
    //      exact integer line-units sum; childless orders counted) ----
    "q225_order_consistency"   -> ((s, d) => StarQueries.orderConsistency(s, d)),
    // ---- compression-ratio quality proxy (deflate ppm per source; no
    //      SQL twin — deliberately omitted from oracleSql, so the
    //      driver records its rows-only check) ----
    "q226_compression_quality" -> docs(TextStats.compressionQuality(_)),
    // ---- UNBOUNDED-iteration pagerank: exact integer fixpoint, block
    //      checkpoints (the 100 TB-honest form of q115's fixed 3 iters;
    //      converges in 35/46 rounds at sf0.01/sf0.1) ----
    "q227_pagerank_converged"  -> ((s, d) => Graphs.pageRankConvergedPpm(s, d)),
    // ---- UNBOUNDED-iteration k-core: peel-cascade census to the true
    //      fixpoint at k=85 (9 rounds sf0.01 / 38 rounds sf0.1 — beyond
    //      any useful fixed bound; one row per round) ----
    "q228_kcore_peel_census"   -> ((s, d) => Graphs.kCorePeelCensus(s, d)),
    // ---- market-basket association rules: support/confidence/lift in
    //      exact ppm over the memoized co-purchase scaffold ----
    "q229_association_rules"   -> ((s, d) => Graphs.associationRules(s, d)),
    // ---- KMV bottom-k distinct sketch + accuracy audit (mergeable
    //      cardinality estimation incl. the union-merged _all row) ----
    "q230_kmv_distinct"        -> ((s, d) => Sketches.kmvDistinct(s, d)),
    // ---- count-min sketch heavy-hitter audit (d=4 x w=16 forced-
    //      collision regime; estimate >= truth row-wise) ----
    "q231_cms_heavy_hitters"   -> ((s, d) => Sketches.cmsHeavyHitters(s, d)),
    // ---- exact-threshold Jaccard join via PPJoin prefix filtering
    //      (deterministic candidates: no false negatives by theorem) ----
    "q232_prefix_filter_dups"  -> ((s, d) => TextDedup.prefixFilterDups(s, d)),
    // ---- weighted single-source cheapest paths (distributed Bellman-
    //      Ford, cost = 1e6 div w, fixpoint early-exit) ----
    "q233_cheapest_paths"      -> ((s, d) => Graphs.cheapestPathCensus(s, d)),
    // ---- priority sampling (Duffield-Lund-Thorup) with the max(w,tau)
    //      estimator, deterministic md5 uniforms ----
    "q234_priority_sample"     -> ((s, d) => Curation.prioritySample(s, d)),
    // ---- optimizer-style join-cardinality estimate (MCV + uniform
    //      remainder) audited against the exact join size ----
    "q235_join_card_audit"     -> ((s, d) => Diagnostics.joinCardAudit(s, d)),
    // ---- leakage-safe ML label frame: feature window strictly before
    //      the cutoff, label from the disjoint slice ----
    "q236_label_frame"         -> ((s, d) => Features.labelFrame(s, d)),
    // ---- ratio-to-parent hierarchy shares (nation-in-region,
    //      region-in-total) in exact cents/ppm ----
    "q237_hierarchy_shares"    -> ((s, d) => StarQueries.hierarchyShares(s, d)),
    // ---- discrete Kaplan-Meier conversion life table (censoring-aware
    //      first-view -> first-purchase latency) ----
    "q238_conversion_lifetable" -> silver(TemporalOps.conversionLifeTable(_)),
    // ---- structured near-dup census: tolerant (time/value) duplicate
    //      events via neighbor-bucket blocking ----
    "q239_event_neardups"      -> ((s, d) => Diagnostics.eventNearDups(s, d)),
    // ---- histogram range-selectivity audit (1024-bin equi-width,
    //      unaligned probes, interpolation vs exact) ----
    "q240_selectivity_audit"   -> ((s, d) => Diagnostics.selectivityAudit(s, d)),
    // ---- revenue retention matrix (net revenue retention per weekly
    //      cohort, exact cents) ----
    "q241_revenue_retention"   -> silver(Funnels.revenueRetention(_)),
    // ---- per-day session concurrency peaks (minute-binned interval
    //      sweep, no corpus-ordered running sum) ----
    "q242_concurrency_peaks"   -> silver(TemporalOps.concurrencyPeaks(_)),
    // ---- dedup-pipeline recall audit: LSH banding measured against the
    //      exact prefix-filter ground truth ----
    "q243_dedup_recall_audit"  -> ((s, d) => TextDedup.dedupRecallAudit(s, d)),
    // ---- deterministic k-fold assignment + (fold x source) balance
    //      audit in exact milli/ppm ----
    "q244_kfold_balance"       -> ((s, d) => Curation.kfoldBalance(s, d)),
    // ---- Newman modularity of the brand partition over the co-purchase
    //      graph (exact integer Q-term numerators) ----
    "q245_brand_modularity"    -> ((s, d) => Graphs.brandModularity(s, d)),
    // ---- language-ID confusion matrix (labeled x predicted cells,
    //      per-label row shares = per-class recall) ----
    "q246_langid_confusion"    -> docs(TextStats.langIdConfusion(_)),
    // ---- seasonal-naive vs naive-1 forecast backtest (integer MASE
    //      over the last observed week) ----
    "q247_forecast_backtest"   -> silver(TemporalOps.forecastBacktest(_)),
    // ---- range-partitioner balance audit (sampled equi-depth
    //      boundaries, per-bucket shares) ----
    "q248_range_balance"       -> ((s, d) => Diagnostics.rangePartitionBalance(s, d)),
    // ---- Kendall rank-agreement census: revenue rank vs order-frequency
    //      rank over the revenue top-50 (exact C/D/tie counts) ----
    "q249_rank_agreement"      -> ((s, d) => StarQueries.rankAgreement(s, d)),
    // ---- END-TO-END curation pipeline: near-dup keep-list → quality ∧
    //      repetition gates → hash split → train-stream packing →
    //      per-source datasheet funnel, as ONE declarative plan ----
    "q250_curation_pipeline"   -> ((s, d) => Curation.curationPipeline(s, d)),
    // ---- Matryoshka truncated-dim retrieval audit: exact top-k under
    //      the first d dims vs full-dim truth, recall per (dim, query) ----
    "q251_matryoshka_recall"   -> embeddings(Similarity.matryoshkaRecall(_)),
    // ---- semantic train/eval leakage curve: LSH-banded cross-split
    //      candidates, exact cosine, per-decile census ----
    "q252_semantic_leakage"    -> embeddings(Similarity.semanticLeakage(_)),
    // ---- quality-filter length-calibration matrix (is the rubric a
    //      length proxy?) ----
    "q253_quality_length_calibration" -> docs(TextStats.qualityLengthCalibration(_)),
    // ---- epoch-shuffle dispersion audit: exact displacement quartiles
    //      via distributed bucket-offset order statistics ----
    "q254_epoch_dispersion"    -> ((s, d) => Curation.epochShuffleDispersion(s, d)),
    // ---- hash-shard balance audit (training-reader straggler predictor,
    //      the hash twin of q248) ----
    "q255_shard_balance"       -> ((s, d) => Curation.shardBalance(s, d)),
    // ---- percentile-sketch acceptance audit: exact order statistics vs
    //      percentile_approx reduced to a tolerance boolean ----
    "q256_percentile_audit"    -> ((s, d) => Diagnostics.percentileSketchAudit(s, d)),
    // ---- layout pruning audit: chunks scanned per point probe under
    //      natural / sorted / z-order layouts (min-max skipping model) ----
    "q257_layout_pruning"      -> ((s, d) => graft.analytics.Layout.pruningAudit(s, d)),
    // ---- full iterative BPE vocabulary build (tokenizer training:
    //      12 merge rounds over the word-frequency table) ----
    "q258_bpe_vocab_build"     -> docs(TextStats.bpeVocabBuild(_)),
    // ---- BPE tokenizer APPLY: per-source fertility/compression audit ----
    "q259_bpe_tokenize"        -> docs(TextStats.bpeTokenize(_)),
    // ---- contrastive-pair mining census (positives + per-anchor top-k
    //      hard negatives from the banded LSH candidate set) ----
    "q260_contrastive_mining"  -> embeddings(Similarity.contrastiveMiningCensus(_)),
    // ---- Kneser-Ney smoothed bigram LM table (integer-ppm KN) ----
    "q261_kn_bigram_lm"        -> docs(TextStats.knBigramLm(_)),
    // ---- Poisson-bootstrap confidence table for the corpus mean ----
    "q262_poisson_bootstrap"   -> ((s, d) => Diagnostics.poissonBootstrap(s, d)),
    // ---- held-out LM score gap (train-split KN LM scores all splits) ----
    "q263_heldout_lm_gap"      -> docs(TextStats.heldoutLmGap(_)),
    // ---- eval-set quota apportionment (largest-remainder rounding) ----
    "q264_eval_quotas"         -> docs(Curation.evalQuotas(_)),
    // ---- chunk-rehydration round-trip integrity audit ----
    "q265_chunk_rehydration"   -> docs(Curation.chunkRehydration(_)),
    // ---- water-filling max-min-fair source caps under a token budget ----
    "q266_waterfill_mixture"   -> docs(Curation.waterfillMixture(_)),
    // ---- span-granular LM quality localization (worst window per doc) ----
    "q267_worst_window_lm"     -> docs(TextStats.worstWindowLm(_)),
    // ---- Simpson bigram-diversity (linear self-BLEU-style collision) ----
    "q268_simpson_diversity"   -> docs(TextStats.simpsonDiversity(_)),
    // ---- mergeable per-source minhash sketch, estimate vs exact ----
    "q269_source_minhash"      -> docs(Decontaminate.sourceMinhashAudit(_)),
    // ---- DoReMi-lite data-driven mixture reweighting ----
    "q270_doremi_reweight"     -> docs(Curation.doremiReweight(_)),
    // ---- t-closeness: the third leg of the privacy triad ----
    "q271_t_closeness"         -> silver(Reports.tClosenessCensus(_)),
    // ---- batch-shape padding waste: sorted vs arrival batching ----
    "q272_padding_waste"       -> docs(Curation.paddingWaste(_)),
    // ---- Fleiss' kappa agreement over the quality-rubric raters ----
    "q273_fleiss_kappa"        -> docs(TextStats.fleissKappa(_)),
    // ---- label-consistency screen over LSH neighborhoods ----
    "q274_label_consistency"   -> embeddings(Similarity.labelConsistency(_)),
    // ---- UniMax epoch-capped language oversampling ----
    "q275_unimax_allocation"   -> docs(Curation.unimaxAllocation(_)),
    // ---- U-shaped multi-touch attribution ----
    "q276_touch_attribution"   -> silver(Funnels.uShapedAttribution(_)),
    // ---- Good-Turing count-of-counts + unseen mass ----
    "q277_good_turing"         -> docs(TextStats.goodTuringCounts(_)),
    // ---- median/MAD robust outlier census (bucket-offset order stats) ----
    "q278_robust_outliers"     -> orders(Diagnostics.robustOutlierCensus(_)),
    // ---- T5-style span-corruption mask plan (gaps-and-islands) ----
    "q279_span_corruption"     -> docs(Curation.spanCorruptionPlan(_)),
    // ---- Zipf rank-frequency product audit (log-free) ----
    "q280_zipf_audit"          -> docs(TextStats.zipfAudit(_)),
    // ---- discrete-time churn hazard (survival analysis) ----
    "q281_churn_hazard"        -> silver(Funnels.churnHazard(_)),
    // ---- Benford first-digit forensic audit ----
    "q282_benford_audit"       -> orders(Diagnostics.benfordAudit(_)),
    // ---- Tukey median polish of the weekday x hour matrix ----
    "q283_median_polish"       -> silver(Funnels.medianPolish(_)),
    // ---- Fano-factor burstiness census ----
    "q284_fano_burstiness"     -> silver(Funnels.fanoBurstiness(_)),
    // ---- CCNet-style per-lang perplexity terciles (head/middle/tail) ----
    "q285_ccnet_buckets"       -> docs(TextStats.ccnetBuckets(_)),
    // ---- Gopher quality-rule gate with first-fail attribution ----
    "q286_gopher_rules"        -> docs(TextStats.gopherRules(_)),
    // ---- four-fifths-rule parity audit of the quality gate across langs ----
    "q287_filter_parity"       -> docs(TextStats.filterParity(_)),
    // ---- leave-one-source-out LM support (data valuation by
    //      sufficient-statistic subtraction) ----
    "q288_loso_support"        -> docs(TextStats.losoSupport(_)),
    // ---- temporal-split hit-rate@k recommender backtest ----
    "q289_rec_backtest"        -> ((s, d) => Graphs.recBacktest(s, d)),
    // ---- split-conformal prediction-interval coverage audit ----
    "q290_conformal_coverage"  -> silver(Diagnostics.conformalCoverage(_)),
    // ---- CUPED variance-reduced A/B readout (pooled theta, rho^2) ----
    "q291_cuped_adjustment"    -> silver(Reports.cupedAdjustment(_)),
    // ---- pairwise source unigram total-variation distance matrix ----
    "q292_source_tv_matrix"    -> docs(TextStats.sourceTvMatrix(_)),
    // ---- Mann-Whitney U / CLES per lang vs rest (doubled midranks) ----
    "q293_mann_whitney"        -> docs(TextStats.mannWhitney(_)),
    // ---- deterministic randomization test (hash-drawn relabelings) ----
    "q294_permutation_test"    -> docs(TextStats.permutationTest(_)),
    // ---- BLEU-style clipped n-gram precision vs rest-of-corpus ----
    "q295_bleu_overlap"        -> docs(TextStats.bleuOverlap(_)),
    // ---- per-source -> global decile quantile-mapping table ----
    "q296_quantile_mapping"    -> docs(TextStats.quantileMapping(_)),
    // ---- Neyman vs proportional stratified sample allocation ----
    "q297_neyman_allocation"   -> docs(Curation.neymanAllocation(_)),
    // ---- dedup-granularity sweep over shingle widths 2..5 ----
    "q298_dedup_sweep"         -> docs(TextDedup.dedupSweep(_)),
    // ---- CUSUM changepoint scan (prefix-sum-minus-running-min form) ----
    "q299_cusum_changepoint"   -> silver(TemporalOps.cusumChangepoint(_)),
    // ---- minhash-vs-exact threshold operating-point sweep (P/R/F1) ----
    "q300_threshold_sweep"     -> ((s, d) => TextDedup.thresholdSweep(s, d)),
    // ---- leave-one-source-out corpus-stat influence (jackknife) ----
    "q301_loo_corpus_influence"-> docs(Datasheet.looCorpusInfluence(_)),
    // ---- compression-dictionary candidate mining by modeled gain ----
    "q302_dict_mining"         -> docs(TextStats.dictMining(_)),
    // ---- Hoeffding sampling-error screen on per-source means ----
    "q303_hoeffding_screen"    -> docs(Datasheet.hoeffdingScreen(_)),
    // ---- Wilson 95% bounds on per-lang quality pass rates ----
    "q304_wilson_bounds"       -> docs(TextStats.wilsonBounds(_)),
    // ---- near-dup pair-graph transitivity audit (cluster sanity) ----
    "q305_dup_transitivity"    -> ((s, d) => TextDedup.dupTransitivity(s, d)),
    // ---- 1-NN label-margin census (confident-learning screen) ----
    "q306_label_margin"        -> embeddings(Similarity.labelMargin(_)),
    // ---- experiment power analysis: users/arm, raw vs CUPED ----
    "q307_power_analysis"      -> silver(Reports.powerAnalysis(_)),
    // ---- minhash signature-length error sweep (K = 8/16/32) ----
    "q308_minhash_k_sweep"     -> ((s, d) => TextDedup.minhashKSweep(s, d)),
    // ---- nested-subsample vocabulary curve (10/25/50/100%) ----
    "q309_sample_curve"        -> docs(TextStats.sampleCurve(_)),
    // ---- Theil-Sen robust daily trend (median pairwise slope) ----
    "q310_theil_sen"           -> silver(TemporalOps.theilSen(_)),
    // ---- data-constrained effective tokens (epoch-decay valuation) ----
    "q311_data_constrained"    -> docs(Curation.dataConstrainedValue(_)),
    // ---- absorbing-Markov expected steps to purchase ----
    "q312_absorbing_markov"    -> silver(Funnels.absorbingMarkov(_)),
    // ---- group-sequential OBF monitoring of the q291 experiment ----
    "q313_group_sequential"    -> silver(Reports.groupSequential(_)),
    // ---- exponential Q-Q table for inter-event gaps ----
    "q314_exponential_qq"      -> silver(TemporalOps.exponentialQq(_)),
    // ---- post-stratified treatment effect (activity strata) ----
    "q315_stratified_ate"      -> silver(Reports.stratifiedAte(_)),
    // ---- in-batch duplicate-collision expectation per batch size ----
    "q316_inbatch_collisions"  -> docs(TextDedup.inBatchCollisions(_)),
    // ---- shard locality of exact vs near dup pairs ----
    "q317_shard_locality"      -> docs(TextDedup.shardLocality(_)),
    // ---- B-cubed precision/recall of near-dup vs exact-dup clusters ----
    "q318_bcubed_cluster_eval" -> ((s, d) => DupClusters.bcubedEval(s, d)),
    // ---- order-sensitive IVF ranking audit: AP@k + rank-biased overlap ----
    "q319_rank_quality"        -> embeddings(Similarity.rankQualityAudit(_)),
    // ---- Brier decomposition of a train->test purchase forecast ----
    "q320_brier_decomposition" -> silver(Reports.brierDecomposition(_)),
    // ---- Allen interval-algebra census over per-type activity spans ----
    "q321_allen_relations"     -> silver(TemporalOps.allenRelations(_)),
    // ---- sorted-neighborhood dedup + blocking-quality audit ----
    "q322_snm_dedup"           -> ((s, d) => TextDedup.snmDedupAudit(s, d)),
    // ---- blocked prefix-Levenshtein near-dup pairs ----
    "q323_edit_distance_dups"  -> docs(graft.llm.FuzzyMatch.editDistanceDups(_)),
    // ---- 1-D Wasserstein matrix between source length distributions ----
    "q324_wasserstein_matrix"  -> docs(TextStats.sourceWassersteinMatrix(_)),
    // ---- adjusted Rand index between near-dup and exact-dup clusterings ----
    "q326_adjusted_rand"       -> ((s, d) => DupClusters.adjustedRand(s, d)),
    // ---- Hilbert vs Z-order shard locality on the order key grid ----
    "q327_hilbert_locality"    -> orders(graft.analytics.Layout.curveLocalityAudit(_)),
    // ---- Hájek IPW contrast for a self-selected exposure ----
    "q325_ipw_effect"          -> silver(Reports.ipwEffect(_)),
    // ---- bucketed delete-one jackknife for the revenue/user ratio ----
    "q328_jackknife_ratio"     -> silver(Reports.jackknifeRatio(_)),
    // ---- soft-dedup 1/|cluster| weighted training mass per source ----
    "q329_dup_weighted_mass"   -> ((s, d) => DupClusters.dupWeightedMass(s, d)),
    // ---- AUC of the LM fluency score as a near-dup detector ----
    "q330_dup_score_auc"       -> ((s, d) => DupClusters.dupScoreAuc(s, d)),
    // ---- successive-halving tuning of the LM keep-threshold ----
    "q331_successive_halving"  -> ((s, d) =>
      Curation.successiveHalvingFilter(s, d)),
    // ---- Pickands tail-index audit of doc-length per language ----
    "q332_tail_index"          -> docs(TextStats.tailIndexAudit(_)),
    // ---- cross-source bigram-LM transfer matrix ----
    "q333_lm_transfer_matrix"  -> docs(Curation.lmTransferMatrix(_)),
    // ---- MinHash pair precision under 5-word shingles ----
    "q334_dedup_precision_strict" -> ((s, d) =>
      TextDedup.dedupPrecisionStrict(s, d)),
    // ---- pairwise quality-filter redundancy matrix ----
    "q335_filter_overlap"      -> docs(TextStats.filterOverlapMatrix(_)),
    // ---- IVF recall-vs-probe-budget tuning curve ----
    "q336_ivf_probe_sweep"     -> embeddings(Similarity.ivfProbeSweep(_)),
    // ---- MMR diversity re-rank over the exact top-k pool ----
    "q337_mmr_rerank"          -> embeddings(Similarity.mmrRerank(_)),
    // ---- SMB bucketed co-located join (exchange-free SMJ, see
    //      BucketedJoinSpec for the plan proof) ----
    "q110_bucketed_join"       -> ((s, d) => {
      // db name carries the data dir so the session-level idempotence
      // guard can never serve one scale factor's buckets for another
      val db = s"graft_q110_${Integer.toHexString(d.hashCode).takeRight(8)}"
      Medallion.writeBucketedPair(s, d, db)
      Medallion.bucketedRevenueByPriority(s, db)
    }),
  )

  /** The DuckDB twin of every query, one map per engine family of
    * [[graft.oracle]]. Their key sets are disjoint (a `DriverContractSpec`
    * law), so merging them drops nothing. */
  def oracleFamilies: Seq[Map[String, String]] = {
    import graft.oracle._
    Seq(MedallionSql.sql, EventReportsSql.sql, AnalyticsSql.sql, TextStatsSql.sql,
      CurationSql.sql, DedupSql.sql, SimilaritySql.sql)
  }

  lazy val oracleSql: Map[String, String] = oracleFamilies.reduce(_ ++ _)
}
