package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Bitmaps, BloomJoin, Diagnostics, Features, Funnels, Graphs, History, Incremental, Reports, SkewJoin, Sketches, StarQueries, TemporalOps}
import graft.core.{Shard, Tables}
import graft.ingest.Medallion
import graft.llm.{Coverage, Curation, Datasheet, Decontaminate, DupClusters, EmbedDedup, Multimodal, Scrub, Search, Similarity, TextDedup, TextStats}
import graft.pipeline.EventsPipeline
import graft.sql.SqlQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` (same
  * column names, same full ordering, deterministic numerics) unless the
  * operator is not SQL-expressible, in which case the driver records a
  * rows-only check.
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

  /** Shared oracle CTE: the events medallion (bronze flatten + silver
    * enrichment/dedup) as DuckDB SQL, kept in lockstep with
    * [[graft.pipeline.EventsPipeline]]. */
  private val silverCte: String =
    """WITH bronze AS (
      |  SELECT event_id, user_id, event_type, value,
      |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
      |         ts, CAST(ts AS DATE) AS event_date
      |  FROM events
      |), silver0 AS (
      |  SELECT *,
      |         year(ts) AS year, month(ts) AS month,
      |         dayofmonth(ts) AS day, hour(ts) AS hour,
      |         row_number() OVER (
      |           PARTITION BY user_id, date_trunc('second', ts)
      |           ORDER BY event_id ASC) AS rn
      |  FROM bronze
      |), silver AS (
      |  SELECT * EXCLUDE (rn) FROM silver0 WHERE rn = 1
      |)""".stripMargin

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

  // ------------------------------------------------------------------
  // DuckDB oracle fragments for the LLM-pipeline queries. Kept in
  // lockstep with graft.llm.*: same normalization, same md5-derived
  // hashes (Spark conv(substr(md5(x),1,n),16,10) ≡ DuckDB
  // CAST('0x' || substr(md5(x),1,n) AS BIGINT)), same fixed-order
  // double arithmetic. Note DuckDB regexp_replace needs the 'g' flag
  // (first-match-only by default) to mirror Spark's replace-all.
  // ------------------------------------------------------------------

  private val duckNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  // q319's eval frame, single-sourced from Similarity so the oracle SQL
  // and the Spark defaults cannot drift (round-11 advice item 3).
  private val rankAuditQ = graft.llm.Similarity.RankAuditQueries
  private val rankAuditP = graft.llm.Similarity.RankAuditProbes
  private val rankAuditK = graft.llm.Similarity.RankAuditK

  /** Shared CDC-chunking CTE chain (q58 polynomial rolling hash, cut where
    * hash ≡ 0 mod 64) ending in `chunks(doc_id, chunk)` — used by the q65
    * chunk census and the q160 per-doc duplication coverage. */
  private lazy val cdcChunksOracle =
    s"""n AS (
       |  SELECT doc_id, regexp_replace($duckNorm, '[^ -~]', '', 'g') AS s
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, s,
       |         list_transform(range(1, len(s) - 6), i ->
       |           CAST(ascii(substr(s, i,     1)) AS BIGINT) * 27512614111 +
       |           CAST(ascii(substr(s, i + 1, 1)) AS BIGINT) * 887503681 +
       |           CAST(ascii(substr(s, i + 2, 1)) AS BIGINT) * 28629151 +
       |           CAST(ascii(substr(s, i + 3, 1)) AS BIGINT) * 923521 +
       |           CAST(ascii(substr(s, i + 4, 1)) AS BIGINT) * 29791 +
       |           CAST(ascii(substr(s, i + 5, 1)) AS BIGINT) * 961 +
       |           CAST(ascii(substr(s, i + 6, 1)) AS BIGINT) * 31 +
       |           CAST(ascii(substr(s, i + 7, 1)) AS BIGINT)) AS rh
       |  FROM n),
       |cuts AS (
       |  SELECT doc_id, s,
       |         list_filter(range(1, len(rh) + 1), i -> rh[i] % 64 = 0) AS cs
       |  FROM w),
       |bounds AS (
       |  SELECT doc_id, s,
       |         list_concat(list_concat([0], list_transform(cs, i -> i + 7)),
       |                     [len(s)]) AS bs
       |  FROM cuts),
       |chunks AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(bs)), j ->
       |           substr(s, CAST(bs[j] AS BIGINT) + 1,
       |                  CAST(bs[j + 1] AS BIGINT) - CAST(bs[j] AS BIGINT)))) AS chunk
       |  FROM bounds)""".stripMargin

  private def duckStops: String =
    graft.llm.TextStats.Stopwords.map(s => s"'$s'").mkString(", ")

  /** Shared CTE prefix (normalize → shingles → base hash → signatures →
    * band keys) for every minhash-family oracle. */
  private def minhashCtes: (String, String) = {
    import graft.llm.TextDedup.{NumHashes, NumBands, RowsPerBand, MinhashP, minhashA, minhashB}
    val mins = (0 until NumHashes).map { s =>
      s"MIN((${minhashA(s)} * hb + ${minhashB(s)}) % $MinhashP) AS h$s"
    }.mkString(",\n    ")
    val bands = (0 until NumBands).map { b =>
      val slots = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slots) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    (mins, bands)
  }

  /** q158: the q27 pair machinery wrapped in a split census — pairs CTE
    * text shared via [[minhashPairSql]] so the two oracles cannot drift. */
  private def splitLeakageOracle: String =
    s"""$minhashPairSql,
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
       |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |lab AS (
       |  SELECT LEAST(pa.split, pb.split) AS split_lo,
       |         GREATEST(pa.split, pb.split) AS split_hi,
       |         p.doc_a
       |  FROM pairs p
       |  JOIN sp pa ON pa.doc_id = p.doc_a
       |  JOIN sp pb ON pb.doc_id = p.doc_b)
       |SELECT split_lo, split_hi, split_lo <> split_hi AS is_leak,
       |       COUNT(*) AS n_pairs, MIN(doc_a) AS first_doc_a
       |FROM lab GROUP BY 1, 2
       |ORDER BY split_lo ASC, split_hi ASC""".stripMargin

  /** The q27 minhash near-dup pairs as an open WITH-clause (ends in a
    * `pairs` CTE) so census oracles can build on the identical pair set. */
  private def minhashPairSql: String = {
    import graft.llm.TextDedup.MinhashP
    val (mins, bands) = minhashCtes
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT it.doc_a, it.doc_b,
       |         CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) AS jaccard
       |  FROM inter it
       |  JOIN sizes sa ON sa.doc_id = it.doc_a
       |  JOIN sizes sb ON sb.doc_id = it.doc_b
       |  WHERE CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) >= 0.8)""".stripMargin
  }

  private def minhashOracle: String =
    s"""$minhashPairSql
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The ONE transitive-closure CTE block every dup-cluster oracle reuses
    * (round-11 verdict item 6: a single bounded builder so no oracle can
    * re-derive its own closure). Emits `<p>edges`, `<p>reach`, `<p>lab`
    * over a pair-shaped CTE `pairsCte` (columns doc_a, doc_b); `<p>lab`
    * is (doc_id, cluster_id) with cluster_id = component-min doc_id.
    *
    * `AS MATERIALIZED` on edges and lab is LOAD-BEARING: DuckDB 1.0
    * inlines plain CTEs per reference, and the recursive step re-executes
    * its inlined inputs EVERY iteration — with the full minhash/simhash
    * pipeline upstream, the round-11 cluster-agreement oracles compounded
    * to 186-217 s at sf0.1 while the genuine work (pipelines + closures,
    * each run once) measures ~5 s. Materializing pins each subtree to one
    * execution; results are bit-identical (purely physical). */
  private def closureCtes(pairsCte: String, p: String = ""): String =
    s"""${p}edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
       |  UNION
       |  SELECT doc_b, doc_a FROM $pairsCte),
       |${p}reach(src, dst) AS (
       |  SELECT src, dst FROM ${p}edges
       |  UNION
       |  SELECT r.src, e.dst FROM ${p}reach r
       |  JOIN ${p}edges e ON r.dst = e.src
       |  WHERE e.dst <> r.src),
       |${p}lab AS MATERIALIZED (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |  FROM ${p}reach GROUP BY src)""".stripMargin

  /** Oracle for q335: per-doc q32-rubric + Gopher failure flags, one
    * 36-sum aggregate, 28 pair rows generated from the SAME
    * [[graft.llm.TextStats.FilterFlagNames]] list the Spark side uses. */
  private def filterOverlapOracle: String = {
    val names = graft.llm.TextStats.FilterFlagNames
    val idx = names.indices
    val sums = (idx.map(i => s"CAST(SUM(${names(i)}) AS BIGINT) AS s_$i") ++
      (for { i <- idx; j <- idx if i < j }
        yield s"CAST(SUM(${names(i)} * ${names(j)}) AS BIGINT) AS b_${i}_$j"))
      .mkString(",\n  ")
    val pairRows = (for { i <- idx; j <- idx if i < j } yield
      s"SELECT '${names(i)}' AS flag_a, '${names(j)}' AS flag_b, n_docs, " +
        s"s_$i AS n_fail_a, s_$j AS n_fail_b, b_${i}_$j AS n_both FROM agg")
      .mkString("\n  UNION ALL ")
    s"""WITH nq AS (SELECT doc_id, $duckNorm AS nrm FROM documents),
       |qt AS (SELECT doc_id, nrm, str_split(nrm, ' ') AS wl FROM nq),
       |qflags AS (
       |  SELECT doc_id,
       |    CAST(NOT (len(wl) BETWEEN 20 AND 1000) AS BIGINT) AS q_len,
       |    CAST(len(list_filter(wl, x -> x IN ($duckStops))) = 0 AS BIGINT)
       |      AS q_stop,
       |    CAST(NOT (CAST(length(replace(nrm, ' ', '')) AS DOUBLE) / len(wl)
       |        >= 2.0
       |      AND CAST(length(replace(nrm, ' ', '')) AS DOUBLE) / len(wl)
       |        <= 12.0) AS BIGINT) AS q_wordlen
       |  FROM qt),
       |w AS (SELECT doc_id, unnest(wl) AS word FROM qt),
       |wc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM w GROUP BY 1, 2),
       |perdoc AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
       |         CAST(COUNT(*) AS BIGINT) AS u,
       |         CAST(MAX(cnt) AS BIGINT) AS maxc,
       |         CAST(SUM(CASE WHEN word IN ($duckStops) THEN cnt ELSE 0 END)
       |           AS BIGINT) AS stop_cnt,
       |         CAST(SUM(length(word) * cnt) AS BIGINT) AS sumlen
       |  FROM wc GROUP BY 1),
       |gflags AS (
       |  SELECT doc_id,
       |         CAST(NOT (n BETWEEN 20 AND 100) AS BIGINT) AS g_word_count,
       |         CAST(sumlen * 10 < n * 30 OR sumlen * 10 > n * 45
       |           AS BIGINT) AS g_mean_word_len,
       |         CAST(stop_cnt < 2 AS BIGINT) AS g_stopword_floor,
       |         CAST(u * 1000000 // n < 400000 AS BIGINT) AS g_ttr_floor,
       |         CAST(maxc * 1000000 // n > 120000 AS BIGINT)
       |           AS g_dominance_cap
       |  FROM perdoc),
       |jf AS (SELECT q.*, g.g_word_count, g.g_mean_word_len,
       |        g.g_stopword_floor, g.g_ttr_floor, g.g_dominance_cap
       |      FROM qflags q JOIN gflags g USING (doc_id)),
       |agg AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  $sums
       |  FROM jf),
       |pair_rows AS (
       |  $pairRows)
       |SELECT flag_a, flag_b, n_docs, n_fail_a, n_fail_b, n_both,
       |       CAST(n_fail_a - n_both AS BIGINT) AS only_a,
       |       CAST(n_fail_b - n_both AS BIGINT) AS only_b,
       |       CAST(n_both * 1000000
       |         // GREATEST(1, n_fail_a + n_fail_b - n_both) AS BIGINT)
       |         AS overlap_jaccard_ppm
       |FROM pair_rows ORDER BY flag_a ASC, flag_b ASC""".stripMargin
  }

  /** Oracle for q336: the q161 exact/seed-IVF machinery with the
    * probe-set CTE unrolled per nprobe in
    * [[graft.llm.Similarity.ProbeSweep]] (constants single-sourced, the
    * q319 discipline). */
  private def ivfProbeSweepOracle: String = {
    val probes = graft.llm.Similarity.ProbeSweep
    val per = probes.map { p =>
      s"""cand$p AS (
         |  SELECT DISTINCT pr.query_id, a.vec_id AS neighbor_id
         |  FROM (SELECT vec_id AS query_id, slabel FROM ranks
         |        WHERE rn <= $p AND vec_id < $rankAuditQ) pr
         |  JOIN assigned a ON a.slabel = pr.slabel
         |  WHERE a.vec_id <> pr.query_id),
         |cos$p AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
         |  FROM cand$p c
         |  JOIN n qv ON qv.vec_id = c.query_id
         |  JOIN n nv ON nv.vec_id = c.neighbor_id),
         |top$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |      AS rn
         |    FROM cos$p) WHERE rn <= $rankAuditK)""".stripMargin
    }.mkString(",\n")
    val rows = probes.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
         |       (SELECT COUNT(*) FROM etop) AS n_exact,
         |       (SELECT COUNT(*) FROM top$p t JOIN etop e
         |        ON e.query_id = t.query_id
         |        AND e.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, label, e,
       |  sqrt(list_dot_product(e, e)) AS nrm FROM v),
       |eq AS (SELECT vec_id AS query_id, e, nrm FROM n
       |       WHERE vec_id < $rankAuditQ),
       |ecos AS (
       |  SELECT q.query_id, x.vec_id AS neighbor_id,
       |         list_dot_product(q.e, x.e) / (q.nrm * x.nrm) AS cos
       |  FROM eq q, n x WHERE x.vec_id <> q.query_id),
       |etop AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
       |      AS rn
       |    FROM ecos) WHERE rn <= $rankAuditK),
       |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid
       |          FROM v GROUP BY 1),
       |sv AS (
       |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
       |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
       |ranks AS MATERIALIZED (
       |  SELECT nn.vec_id, sv.slabel,
       |         row_number() OVER (
       |           PARTITION BY nn.vec_id
       |           ORDER BY list_dot_product(nn.e, sv.se)
       |             / (nn.nrm * sv.snrm) DESC, sv.slabel ASC) AS rn
       |  FROM n nn, sv),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, slabel FROM ranks WHERE rn = 1),
       |$per
       |SELECT nprobe, CAST(n_exact AS BIGINT) AS n_exact,
       |       CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(n_hits * 1000000 // GREATEST(1, n_exact) AS BIGINT) AS recall_ppm
       |FROM ($rows) ORDER BY nprobe ASC""".stripMargin
  }

  /** Oracle for q337: the q34 exact pool + pool-pair cosines floored to
    * ppm once, then [[graft.llm.Similarity.MmrK]] greedy rounds unrolled
    * as CTEs (constants single-sourced; MATERIALIZED everywhere a CTE
    * feeds more than one round). */
  private def mmrRerankOracle: String = {
    val k = graft.llm.Similarity.MmrK
    val pool = graft.llm.Similarity.MmrPool
    val rounds = (2 to k).map { r =>
      s"""m$r AS (
         |  SELECT s.query_id, s.neighbor_id, MAX(s.sim_ppm) AS ms
         |  FROM sims s JOIN sel${r - 1} x ON x.query_id = s.query_id
         |    AND x.neighbor_id = s.sel_id
         |  GROUP BY 1, 2),
         |s$r AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, rel_ppm, score FROM (
         |    SELECT c.query_id, c.neighbor_id, c.rel_ppm,
         |           2 * c.rel_ppm - m.ms AS score,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY 2 * c.rel_ppm - m.ms DESC,
         |                      c.neighbor_id ASC) AS rn
         |    FROM cand c
         |    JOIN m$r m ON m.query_id = c.query_id
         |      AND m.neighbor_id = c.neighbor_id
         |    ANTI JOIN sel${r - 1} x ON x.query_id = c.query_id
         |      AND x.neighbor_id = c.neighbor_id)
         |  WHERE rn = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM sel${r - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM s$r)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val rows = (1 to k).map { r =>
      s"SELECT query_id, CAST($r AS BIGINT) AS mmr_rank, neighbor_id, " +
        s"rel_ppm, score AS mmr_score_ppm FROM s$r"
    }.mkString("\nUNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, e,
       |  sqrt(list_dot_product(e, e)) AS nrm FROM v),
       |eq AS (SELECT vec_id AS query_id, e, nrm FROM n
       |       WHERE vec_id < $rankAuditQ),
       |ecos AS (
       |  SELECT q.query_id, x.vec_id AS neighbor_id,
       |         list_dot_product(q.e, x.e) / (q.nrm * x.nrm) AS cos
       |  FROM eq q, n x WHERE x.vec_id <> q.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id,
       |         CAST(FLOOR(cos * 1000000) AS BIGINT) AS rel_ppm FROM (
       |    SELECT query_id, neighbor_id, cos, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
       |      AS rn
       |    FROM ecos) WHERE rn <= $pool),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id, b.neighbor_id AS sel_id,
       |         CAST(FLOOR(list_dot_product(na.e, nb.e)
       |           / (na.nrm * nb.nrm) * 1000000) AS BIGINT) AS sim_ppm
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id
       |    AND a.neighbor_id <> b.neighbor_id
       |  JOIN n na ON na.vec_id = a.neighbor_id
       |  JOIN n nb ON nb.vec_id = b.neighbor_id),
       |s1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel_ppm, 2 * rel_ppm AS score FROM (
       |    SELECT query_id, neighbor_id, rel_ppm, row_number() OVER (
       |      PARTITION BY query_id ORDER BY 2 * rel_ppm DESC,
       |        neighbor_id ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1)$rounds
       |SELECT query_id, mmr_rank, neighbor_id, rel_ppm, mmr_score_ppm
       |FROM ($rows)
       |ORDER BY query_id ASC, mmr_rank ASC""".stripMargin
  }

  /** q178: the q27 CTE chain up to `bands`, then a band-count candidate
    * aggregation and an UNFILTERED integer-ppm Jaccard census per
    * shared-band tier (left join keeps pure-collision pairs at 0). */
  private def lshCalibrationOracle: String = {
    import graft.llm.TextDedup.MinhashP
    val (mins, bands) = minhashCtes
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(COUNT(*) AS BIGINT) AS shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT c.shared_bands,
       |         CAST(COALESCE(it.icnt, 0) * 1000000
       |           // (sa.n + sb.n - COALESCE(it.icnt, 0)) AS BIGINT) AS jacc_ppm
       |  FROM cand c
       |  LEFT JOIN inter it ON it.doc_a = c.doc_a AND it.doc_b = c.doc_b
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b)
       |SELECT shared_bands, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(jacc_ppm) // COUNT(*) AS BIGINT) AS mean_jacc_ppm,
       |       CAST(MIN(jacc_ppm) AS BIGINT) AS min_jacc_ppm,
       |       CAST(MAX(jacc_ppm) AS BIGINT) AS max_jacc_ppm
       |FROM j GROUP BY 1 ORDER BY shared_bands ASC""".stripMargin
  }

  /** q300: the q178 CTE chain up to `cand` (distinct pairs), per-pair
    * 32-slot signature agreement, exact-Jaccard labels, constant-τ
    * sweep. Mirrors [[graft.llm.TextDedup.thresholdSweep]]. */
  private def thresholdSweepOracle: String = {
    import graft.llm.TextDedup.{MinhashP, NumHashes}
    val (mins, bands) = minhashCtes
    val agree = (0 until NumHashes)
      .map(s => s"CAST(a.h$s = b.h$s AS BIGINT)").mkString(" + ")
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b, $agree AS est32
       |  FROM cand c JOIN sig a ON c.doc_a = a.doc_id
       |              JOIN sig b ON c.doc_b = b.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |lab AS (
       |  SELECT e.est32,
       |         CAST(COALESCE(it.icnt, 0) * 1000000
       |           // (sa.n + sb.n - COALESCE(it.icnt, 0)) >= 500000
       |           AS BIGINT) AS pos
       |  FROM est e
       |  LEFT JOIN inter it ON it.doc_a = e.doc_a AND it.doc_b = e.doc_b
       |  JOIN sizes sa ON sa.doc_id = e.doc_a
       |  JOIN sizes sb ON sb.doc_id = e.doc_b),
       |taus(tau_slots) AS (VALUES (4), (8), (12), (16), (20), (24),
       |  (28), (32)),
       |sweep AS (
       |  SELECT CAST(t.tau_slots AS BIGINT) AS tau_slots,
       |         CAST(SUM(CASE WHEN l.est32 >= t.tau_slots THEN l.pos
       |           ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(SUM(CASE WHEN l.est32 >= t.tau_slots THEN 1 - l.pos
       |           ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(SUM(CASE WHEN l.est32 < t.tau_slots THEN l.pos
       |           ELSE 0 END) AS BIGINT) AS fn
       |  FROM lab l CROSS JOIN taus t GROUP BY 1)
       |SELECT tau_slots,
       |       CAST(tau_slots * 1000000 // $NumHashes AS BIGINT) AS tau_ppm,
       |       tp, fp, fn,
       |       CAST(tp * 1000000 // GREATEST(1, tp + fp) AS BIGINT)
       |         AS precision_ppm,
       |       CAST(tp * 1000000 // GREATEST(1, tp + fn) AS BIGINT)
       |         AS recall_ppm,
       |       CAST(2 * tp * 1000000 // GREATEST(1, 2 * tp + fp + fn)
       |         AS BIGINT) AS f1_ppm
       |FROM sweep ORDER BY tau_slots ASC""".stripMargin
  }

  /** q308: the q300 CTE chain with prefix-K slot agreements (K = 8, 16,
    * 32 of the one 32-slot signature), absolute error vs exact Jaccard.
    * Mirrors [[graft.llm.TextDedup.minhashKSweep]]. */
  private def minhashKSweepOracle: String = {
    import graft.llm.TextDedup.MinhashP
    val (mins, bands) = minhashCtes
    def agree(k: Int): String =
      (0 until k).map(s => s"CAST(a.h$s = b.h$s AS BIGINT)").mkString(" + ")
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |         ${agree(8)} AS agree8,
       |         ${agree(16)} AS agree16,
       |         ${agree(32)} AS agree32
       |  FROM cand c JOIN sig a ON c.doc_a = a.doc_id
       |              JOIN sig b ON c.doc_b = b.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |lab AS (
       |  SELECT e.agree8, e.agree16, e.agree32,
       |         CAST(COALESCE(it.icnt, 0) * 1000000
       |           // (sa.n + sb.n - COALESCE(it.icnt, 0)) AS BIGINT)
       |           AS jacc_ppm
       |  FROM est e
       |  LEFT JOIN inter it ON it.doc_a = e.doc_a AND it.doc_b = e.doc_b
       |  JOIN sizes sa ON sa.doc_id = e.doc_a
       |  JOIN sizes sb ON sb.doc_id = e.doc_b),
       |err AS (
       |  SELECT CAST(t.k AS BIGINT) AS k,
       |         ABS((CASE t.k WHEN 8 THEN agree8 WHEN 16 THEN agree16
       |           ELSE agree32 END) * 1000000 // t.k - jacc_ppm) AS abs_err
       |  FROM lab CROSS JOIN (VALUES (8), (16), (32)) t(k))
       |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mean_abs_err_ppm,
       |       CAST(MAX(abs_err) AS BIGINT) AS max_abs_err_ppm
       |FROM err GROUP BY 1 ORDER BY k ASC""".stripMargin
  }

  /** q311: the decay-ppm table comes from the SAME Scala recurrence the
    * Spark side uses ([[graft.llm.Curation.DecayTable]]) — one source of
    * truth, spelled as VALUES. */
  private def dataConstrainedOracle: String = {
    val decayVals = graft.llm.Curation.DecayTable(16)
      .map { case (i, r) => s"($i, $r)" }.mkString(", ")
    s"""WITH per AS (
       |  SELECT source,
       |         CAST(SUM(len(str_split($duckNorm, ' '))) AS BIGINT) AS u
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(u) AS BIGINT) AS t,
       |               CAST(COUNT(*) AS BIGINT) AS ns FROM per),
       |base AS (SELECT source, u, t * 4 // ns AS budget,
       |                LEAST(t * 4 // ns // u, 16) AS k
       |         FROM per CROSS JOIN tot),
       |b2 AS (SELECT source, u, budget, k,
       |              CASE WHEN k < 16 THEN budget - k * u ELSE 0 END AS rem
       |       FROM base),
       |decay(i, r) AS (VALUES $decayVals),
       |fullx AS (SELECT b.source,
       |            CAST(SUM(b.u * d.r // 1000000) AS BIGINT) AS full_eff
       |          FROM b2 b JOIN decay d ON d.i < b.k GROUP BY 1),
       |remt AS (SELECT b.source,
       |           CAST(b.rem * d.r // 1000000 AS BIGINT) AS rem_eff
       |         FROM b2 b JOIN decay d ON d.i = b.k)
       |SELECT b.source, b.u AS u_tokens, b.budget AS budget_tokens,
       |       CAST(b.k AS BIGINT) AS epochs,
       |       CAST(COALESCE(f.full_eff, 0) + COALESCE(r.rem_eff, 0)
       |         AS BIGINT) AS eff_tokens,
       |       CAST((COALESCE(f.full_eff, 0) + COALESCE(r.rem_eff, 0))
       |         * 1000000 // b.budget AS BIGINT) AS utilization_ppm
       |FROM b2 b LEFT JOIN fullx f ON b.source = f.source
       |LEFT JOIN remt r ON b.source = r.source
       |ORDER BY b.source ASC""".stripMargin
  }

  /** q312: the q192 matrix head + T unrolled expected-steps rounds
    * (mₜ₊₁ = 1000 + Σ q·mₜ // 10⁶ over transient states). */
  private def absorbingMarkovOracle(iters: Int): String = {
    val head = silverCte +
      """, pairs AS (
        |  SELECT event_type AS prev_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |           AS next_type
        |  FROM silver),
        |t AS (
        |  SELECT prev_type, next_type, COUNT(*) AS c
        |  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |p AS (
        |  SELECT prev_type, next_type,
        |         CAST(c * 1000000
        |           // SUM(c) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |  FROM t),
        |q AS MATERIALIZED (SELECT prev_type, next_type, p_ppm FROM p
        |      WHERE prev_type <> 'purchase'),
        |trans AS MATERIALIZED (SELECT DISTINCT prev_type AS st FROM q),
        |m0 AS MATERIALIZED (SELECT st AS cur, CAST(0 AS BIGINT) AS m
        |      FROM trans)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT t2.st AS cur,
         |         CAST(1000 + COALESCE(SUM(q.p_ppm * m${k - 1}.m
         |           // 1000000), 0) AS BIGINT) AS m
         |  FROM trans t2
         |  LEFT JOIN q ON q.prev_type = t2.st AND q.next_type <> 'purchase'
         |  LEFT JOIN m${k - 1} ON m${k - 1}.cur = q.next_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail =
      s""", outx AS (SELECT prev_type, CAST(SUM(c) AS BIGINT) AS n_out
         |          FROM t WHERE prev_type <> 'purchase' GROUP BY 1),
         |pa AS (SELECT prev_type, p_ppm FROM p
         |       WHERE next_type = 'purchase' AND prev_type <> 'purchase')
         |SELECT o.prev_type AS event_type, o.n_out,
         |       CAST(COALESCE(pa.p_ppm, 0) AS BIGINT) AS p_absorb_ppm,
         |       CAST(m$iters.m AS BIGINT) AS exp_steps_milli
         |FROM outx o LEFT JOIN pa ON pa.prev_type = o.prev_type
         |JOIN m$iters ON m$iters.cur = o.prev_type
         |ORDER BY event_type ASC""".stripMargin
    // the rounds block opens with ",\n" and closes before tail's ","
    head + rounds.stripSuffix("\n") + tail
  }

  /** q314: the −ln(1−p) quantile table from the SAME JVM computation the
    * Spark side uses ([[graft.analytics.TemporalOps.ExpQuantiles]]). */
  private def exponentialQqOracle: String = {
    val vals = graft.analytics.TemporalOps.ExpQuantiles
      .map { case (k, l) => s"($k, $l)" }.mkString(", ")
    silverCte +
      s""",
         |g AS (SELECT date_diff('second', ts, lead(ts) OVER (
         |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS v
         |      FROM silver),
         |gaps AS (SELECT CAST(v AS BIGINT) AS v FROM g WHERE v IS NOT NULL),
         |r AS (SELECT v, row_number() OVER (ORDER BY v ASC) AS rnk,
         |             COUNT(*) OVER () AS cn FROM gaps),
         |at AS (SELECT CAST(k.q AS BIGINT) AS decile,
         |         MAX(CASE WHEN r.rnk = (k.q * r.cn + 9) // 10
         |           THEN r.v END) AS obs
         |       FROM (SELECT unnest(range(1, 10)) AS q) k CROSS JOIN r
         |       GROUP BY 1),
         |meanx AS (SELECT CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT)
         |            AS mean_milli FROM gaps),
         |lq(decile, l) AS (VALUES $vals)
         |SELECT a.decile, CAST(a.obs AS BIGINT) AS obs_gap_s,
         |       CAST(FLOOR(CAST(m.mean_milli AS DOUBLE) * lq.l / 1000.0)
         |         AS BIGINT) AS exp_gap_s,
         |       m.mean_milli AS mean_gap_milli,
         |       CAST(a.obs * 1000000 // GREATEST(1,
         |         CAST(FLOOR(CAST(m.mean_milli AS DOUBLE) * lq.l / 1000.0)
         |           AS BIGINT)) AS BIGINT) AS ratio_ppm
         |FROM at a JOIN lq ON a.decile = lq.decile CROSS JOIN meanx m
         |ORDER BY a.decile ASC""".stripMargin
  }

  /** q76: same minhash family, ONE-SIDED candidate join (incoming % 5 = 0
    * vs existing), per-incoming verdict. */
  private def incrementalDedupOracle: String = {
    import graft.llm.TextDedup.MinhashP
    val (mins, bands) = minhashCtes
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS doc_in, e.doc_id AS doc_ex
       |  FROM bands i JOIN bands e
       |    ON i.band = e.band AND i.bkey = e.bkey
       |   AND i.doc_id % 5 = 0 AND e.doc_id % 5 <> 0),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_in, c.doc_ex, COUNT(*) AS icnt
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_in
       |  JOIN sh sb ON sb.doc_id = c.doc_ex AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |matches AS (
       |  SELECT it.doc_in, COUNT(*) AS nm
       |  FROM inter it
       |  JOIN sizes sa ON sa.doc_id = it.doc_in
       |  JOIN sizes sb ON sb.doc_id = it.doc_ex
       |  WHERE CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) >= 0.8
       |  GROUP BY 1)
       |SELECT d.doc_id, COALESCE(m.nm, 0) AS n_matches,
       |       m.nm IS NULL AS is_new
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
       |LEFT JOIN matches m ON m.doc_in = d.doc_id
       |ORDER BY d.doc_id ASC""".stripMargin
  }

  private def simhashOracle: String = {
    import graft.llm.TextDedup.SimhashBits
    val sums = (0 until SimhashBits)
      .map(j => s"SUM((((h >> $j) & 1) * 2 - 1) * cnt) AS s$j").mkString(",\n    ")
    val simExpr = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(str_split($duckNorm, ' ')) AS word FROM documents),
       |wc AS (
       |  SELECT doc_id, word, COUNT(*) AS cnt,
       |         CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS h
       |  FROM words GROUP BY doc_id, word),
       |sums AS (SELECT doc_id,
       |    $sums
       |  FROM wc GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simExpr AS simhash FROM sums),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id, simhash, c.c AS chunk,
       |         (simhash >> (c.c * 8)) & 255 AS cval
       |  FROM sim, (VALUES (0), (1), (2), (3)) c(c)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared q33/q246 CTE chain ending in `p(doc_id, lang, score_*,
    * predicted_lang)` — the langId predictions in DuckDB. */
  private def langIdCtes: String = {
    val markers = graft.llm.TextStats.LangMarkers
    val scores = markers.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(w, x -> x IN ($inList))) AS INTEGER) AS score_$l"
    }.mkString(",\n    ")
    val langs = markers.map(_._1)
    val allZero = langs.map(l => s"score_$l = 0").mkString(" AND ")
    val cases = langs.map { l =>
      val cond = langs.filterNot(_ == l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, str_split($duckNorm, ' ') AS w FROM documents),
       |s AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM t),
       |p AS (
       |  SELECT *, CASE
       |    WHEN $allZero THEN 'unknown'
       |    $cases
       |    ELSE 'unknown' END AS predicted_lang
       |  FROM s)""".stripMargin
  }

  private def langIdOracle: String = {
    val scoreCols = graft.llm.TextStats.LangMarkers.map(m => s"score_${m._1}")
      .mkString(", ")
    s"""$langIdCtes
       |SELECT doc_id, lang, $scoreCols, predicted_lang,
       |       predicted_lang = lang AS is_correct
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q246: the q33 prediction chain reduced to the labeled ×
    * predicted confusion matrix with per-label row shares. */
  private def langIdConfusionOracle: String =
    s"""$langIdCtes,
       |cells AS (
       |  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM p GROUP BY 1, 2),
       |rt AS (
       |  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS label_total
       |  FROM cells GROUP BY 1)
       |SELECT c.lang, c.predicted_lang, c.n_docs, r.label_total,
       |       CAST(c.n_docs * 1000000 // r.label_total AS BIGINT)
       |         AS row_share_ppm
       |FROM cells c JOIN rt r USING (lang)
       |ORDER BY c.lang ASC, c.predicted_lang ASC""".stripMargin

  /** Embedding-cosine near-dup oracle, mirroring [[graft.llm.EmbedDedup]]:
    * hashed-TF sparse vectors, integer sign-projection LSH, exact sparse
    * cosine on candidates. All-integer until the final division. */
  private def embedDedupOracle: String = {
    import graft.llm.EmbedDedup.{NumBuckets, NumPlanes, BandBits, WeightMod,
      CosThreshold}
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |words AS (SELECT doc_id, unnest(w) AS word FROM nd),
       |tf AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % $NumBuckets AS bucket,
       |         COUNT(*) AS cnt
       |  FROM words GROUP BY 1, 2),
       |norms AS (
       |  SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm FROM tf GROUP BY 1),
       |proj AS (
       |  SELECT tf.doc_id, p.p AS plane,
       |         SUM(cnt * ((CAST('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(bucket AS VARCHAR)), 1, 15) AS BIGINT) % $WeightMod) - 1000)) AS pr
       |  FROM tf, range($NumPlanes) p(p) GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, plane // $BandBits AS band,
       |         CAST(SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << CAST(plane % $BandBits AS INTEGER)) ELSE 0 END) AS BIGINT) AS bval
       |  FROM proj GROUP BY 1, 2),
       |${Shard.duckCapped("bands", Seq("band", "bval"))},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bval = b.bval AND a.subshard = b.subshard
       |       AND a.doc_id < b.doc_id),
       |dots AS (
       |  SELECT c.doc_a, c.doc_b, SUM(ta.cnt * tb.cnt) AS dt
       |  FROM cand c
       |  JOIN tf ta ON ta.doc_id = c.doc_a
       |  JOIN tf tb ON tb.doc_id = c.doc_b AND tb.bucket = ta.bucket
       |  GROUP BY 1, 2)
       |SELECT d.doc_a, d.doc_b, CAST(d.dt AS DOUBLE) / (na.nrm * nb.nrm) AS cos
       |FROM dots d
       |JOIN norms na ON na.doc_id = d.doc_a
       |JOIN norms nb ON nb.doc_id = d.doc_b
       |WHERE CAST(d.dt AS DOUBLE) / (na.nrm * nb.nrm) >= $CosThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared LSH CTE prefix (vectors → planes → sign bits → signatures →
    * bands) for q35/q36, mirroring graft.llm.Similarity. */
  private val lshCte: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |planes AS (SELECT vec_id AS plane_id, e AS pv FROM v WHERE vec_id < 16),
      |bits AS (
      |  SELECT v.vec_id,
      |         CASE WHEN list_dot_product(e, pv) > 0
      |              THEN (CAST(1 AS BIGINT) << CAST(plane_id AS INTEGER))
      |              ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM v, planes),
      |sigs AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sig FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT vec_id, c.c AS band, (sig >> (c.c * 4)) & 15 AS bval
      |  FROM sigs, (VALUES (0), (1), (2), (3)) c(c))""".stripMargin

  private val duckCos =
    "list_dot_product(qv.e, nv.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e)))"

  // shared by q46 (union+window composition) and q113 (custom physical
  // operator): one relation, two execution strategies, one truth
  private lazy val asofOracleSql: String =
    silverCte +
      """, ordd AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |  FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT s.event_id, s.user_id,
        |       o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
        |FROM silver s
        |ASOF LEFT JOIN ordd o
        |  ON s.user_id = o.o_custkey AND s.ts >= o.o_orderdate
        |ORDER BY s.event_id ASC""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC""".stripMargin,
    "q02_revenue_by_region" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q03_top_parts" ->
      """SELECT p_partkey, p_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, p_partkey ASC LIMIT 10""".stripMargin,
    "q04_customer_order_counts" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS order_count
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY c_custkey ASC""".stripMargin,
    "q05_segments_with_orders" ->
      """SELECT c_mktsegment, COUNT(*) AS customers_with_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q06_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin,
    "q07_orders_rollup" ->
      """SELECT year(o_orderdate) AS o_year, o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |GROUP BY ROLLUP (o_year, o_orderpriority)
        |ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q08_customer_share" ->
      """WITH per_nation AS (
        |  SELECT n_name, COUNT(*) AS customers
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, customers,
        |  (customers * 100.0) / SUM(customers) OVER () AS pct
        |FROM per_nation ORDER BY n_name ASC""".stripMargin,
    "q09_schema_evolved_union" ->
      """WITH o AS (
        |  SELECT year(o_orderdate) AS o_year, o_orderpriority FROM orders),
        |old_epoch AS (
        |  SELECT o_year, o_orderpriority, COUNT(*) AS "count"
        |  FROM o WHERE o_year % 2 = 0 GROUP BY 1, 2),
        |new_epoch AS (
        |  SELECT o_year, o_orderpriority, COUNT(*) AS listen_count
        |  FROM o WHERE o_year % 2 <> 0 GROUP BY 1, 2)
        |SELECT o_year, o_orderpriority,
        |       COALESCE(listen_count, "count") AS n
        |FROM (
        |  SELECT o_year, o_orderpriority, "count", NULL AS listen_count FROM old_epoch
        |  UNION ALL
        |  SELECT o_year, o_orderpriority, NULL AS "count", listen_count FROM new_epoch)
        |ORDER BY o_year ASC, o_orderpriority ASC""".stripMargin,
    "q10_bronze_flatten" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
        |  CAST(ts AS DATE) AS event_date
        |FROM events ORDER BY event_id""".stripMargin,
    "q11_silver_dedup" ->
      (silverCte +
        """
          |SELECT event_id, user_id, event_type, value, prop_k, event_date,
          |       year, month, day, hour
          |FROM silver ORDER BY event_id""".stripMargin),
    "q12_gold_daily" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS listen_count,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin),
    "q13_gold_top3_days" ->
      (silverCte +
        """, gold AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count,
          |         COUNT(DISTINCT event_type) AS unique_types
          |  FROM silver GROUP BY 1, 2),
          |ranked AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY user_id
          |    ORDER BY listen_count DESC, event_date ASC) AS rnk
          |  FROM gold)
          |SELECT user_id, event_date, listen_count, unique_types
          |FROM ranked WHERE rnk <= 3 ORDER BY user_id, event_date""".stripMargin),
    "q14_top_users" ->
      (silverCte +
        """
          |SELECT user_id, COUNT(*) AS listen_count
          |FROM silver GROUP BY 1
          |ORDER BY listen_count DESC, user_id ASC LIMIT 10""".stripMargin),
    "q15_first_event" ->
      (silverCte +
        """, ranked AS (
          |  SELECT user_id, event_id, event_type, ts,
          |         row_number() OVER (
          |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
          |  FROM silver)
          |SELECT user_id, event_id AS first_event_id,
          |       event_type AS first_event_type,
          |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
          |FROM ranked WHERE rn = 1 ORDER BY user_id ASC""".stripMargin),
    "q16_users_on_date" ->
      (silverCte +
        """
          |SELECT DISTINCT user_id FROM silver
          |WHERE event_date = DATE '2024-01-05' ORDER BY user_id ASC""".stripMargin),
    "q17_distinct_dates" ->
      (silverCte +
        """
          |SELECT DISTINCT event_date FROM silver ORDER BY event_date ASC""".stripMargin),
    "q18_active_7day" ->
      (silverCte +
        """, daily AS (
          |  SELECT DISTINCT event_date AS d, user_id FROM silver)
          |SELECT curr.d, COUNT(DISTINCT past.user_id) AS active_users_7d
          |FROM (SELECT DISTINCT d FROM daily) curr
          |JOIN daily past ON past.d >= curr.d - 6 AND past.d <= curr.d
          |GROUP BY curr.d ORDER BY curr.d ASC""".stripMargin),
    "q19_hourly_activity" ->
      (silverCte +
        """, by_hour AS (
          |  SELECT hour, COUNT(*) AS cnt FROM silver GROUP BY 1)
          |SELECT hour, cnt, (cnt * 100.0) / SUM(cnt) OVER () AS pct
          |FROM by_hour ORDER BY hour ASC""".stripMargin),
    "q20_monthly_trends" ->
      (silverCte +
        """
          |SELECT year, month, COUNT(*) AS cnt,
          |       COUNT(DISTINCT user_id) AS unique_users,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1, 2 ORDER BY year ASC, month ASC""".stripMargin),
    "q21_diversity" ->
      (silverCte +
        """, agg AS (
          |  SELECT user_id, COUNT(*) AS total_listens,
          |         COUNT(DISTINCT event_type) AS unique_types
          |  FROM silver GROUP BY 1)
          |SELECT user_id, total_listens, unique_types,
          |       (unique_types * 100.0) / total_listens AS diversity_pct
          |FROM agg WHERE total_listens >= 10 ORDER BY user_id ASC""".stripMargin),
    "q22_user_profile" ->
      (silverCte +
        """
          |SELECT user_id, COUNT(*) AS listen_count,
          |       COUNT(DISTINCT event_date) AS active_days,
          |       COUNT(DISTINCT event_type) AS unique_types,
          |       MIN(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS first_seen,
          |       MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_seen
          |FROM silver GROUP BY 1 ORDER BY user_id ASC""".stripMargin),
    "q23_daily_profile" ->
      (silverCte +
        """
          |SELECT event_date, COUNT(*) AS cnt,
          |       COUNT(DISTINCT user_id) AS unique_users,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1 ORDER BY event_date ASC""".stripMargin),
    "q24_top_types" ->
      (silverCte +
        """
          |SELECT event_type, COUNT(*) AS cnt,
          |       COUNT(DISTINCT user_id) AS unique_users
          |FROM silver GROUP BY 1
          |ORDER BY cnt DESC, event_type ASC LIMIT 10""".stripMargin),
    "q25_running_totals" ->
      (silverCte +
        """
          |SELECT user_id, event_id,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
          |    PARTITION BY user_id ORDER BY event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    AS running_value,
          |  lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id)
          |    AS prev_event_id
          |FROM silver ORDER BY user_id ASC, event_id ASC""".stripMargin),
    "q26_exact_dedup" ->
      s"""WITH n AS (
         |  SELECT doc_id, md5($duckNorm) AS fingerprint FROM documents)
         |SELECT doc_id, fingerprint,
         |       MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
         |       doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
         |FROM n ORDER BY doc_id""".stripMargin,
    "q27_minhash_neardups" -> minhashOracle,
    "q76_incremental_dedup" -> incrementalDedupOracle,
    // q77: same deletion carve (user_id % 50), same audit identities.
    "q77_forget_audit" ->
      (silverCte +
        """, dels AS (
          |  SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0),
          |pre AS (
          |  SELECT event_type, COUNT(*) AS rows_before FROM silver GROUP BY 1),
          |post AS (
          |  SELECT event_type, COUNT(*) AS rows_after FROM silver
          |  WHERE user_id NOT IN (SELECT user_id FROM dels) GROUP BY 1)
          |SELECT p.event_type, p.rows_before,
          |       p.rows_before - COALESCE(q.rows_after, 0) AS rows_removed,
          |       COALESCE(q.rows_after, 0) AS rows_after,
          |       p.rows_before =
          |         (p.rows_before - COALESCE(q.rows_after, 0))
          |         + COALESCE(q.rows_after, 0) AS complete
          |FROM pre p LEFT JOIN post q USING (event_type)
          |ORDER BY p.event_type ASC""".stripMargin),
    // q79: same ordered-stage semantics (>= previous stage's first ts).
    "q79_funnel" ->
      (silverCte +
        """, v AS MATERIALIZED (
          |  SELECT user_id, MIN(ts) AS v_ts FROM silver
          |  WHERE event_type = 'view' GROUP BY 1),
          |c AS MATERIALIZED (
          |  SELECT s.user_id, MIN(s.ts) AS c_ts FROM silver s
          |  JOIN v ON v.user_id = s.user_id AND s.ts >= v.v_ts
          |  WHERE s.event_type = 'click' GROUP BY 1),
          |p AS MATERIALIZED (
          |  SELECT s.user_id, MIN(s.ts) AS p_ts FROM silver s
          |  JOIN c ON c.user_id = s.user_id AND s.ts >= c.c_ts
          |  WHERE s.event_type = 'purchase' GROUP BY 1)
          |SELECT (SELECT COUNT(DISTINCT user_id) FROM silver) AS users,
          |       (SELECT COUNT(*) FROM v) AS reached_view,
          |       (SELECT COUNT(*) FROM c) AS reached_click,
          |       (SELECT COUNT(*) FROM p) AS reached_purchase,
          |       (SELECT COUNT(*) FROM c) * 1000000
          |         // (SELECT COUNT(*) FROM v) AS click_given_view_ppm,
          |       (SELECT COUNT(*) FROM p) * 1000000
          |         // (SELECT COUNT(*) FROM c) AS purchase_given_click_ppm""".stripMargin),
    // q80: cohort = first active date; retained = active exactly k days on.
    "q80_retention_cohorts" ->
      (silverCte +
        """, first AS (
          |  SELECT user_id, MIN(event_date) AS cohort FROM silver GROUP BY 1),
          |activity AS (
          |  SELECT DISTINCT user_id, event_date FROM silver)
          |SELECT f.cohort,
          |       COUNT(DISTINCT a.user_id) AS cohort_users,
          |       COUNT(DISTINCT CASE WHEN a.event_date = f.cohort + 1
          |                           THEN a.user_id END) AS d1_retained,
          |       COUNT(DISTINCT CASE WHEN a.event_date = f.cohort + 7
          |                           THEN a.user_id END) AS d7_retained,
          |       COUNT(DISTINCT CASE WHEN a.event_date = f.cohort + 1
          |                           THEN a.user_id END) * 1000000
          |         // COUNT(DISTINCT a.user_id) AS d1_ppm,
          |       COUNT(DISTINCT CASE WHEN a.event_date = f.cohort + 7
          |                           THEN a.user_id END) * 1000000
          |         // COUNT(DISTINCT a.user_id) AS d7_ppm
          |FROM first f JOIN activity a USING (user_id)
          |GROUP BY f.cohort ORDER BY f.cohort ASC""".stripMargin),
    // q81: the oracle is the DIRECT full aggregate — hash equality proves
    // the engine's base+delta merge reproduces it exactly.
    "q81_gold_incremental" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS listen_count,
          |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
          |       MIN(event_id) AS first_event_id
          |FROM silver GROUP BY 1, 2
          |ORDER BY user_id ASC, event_date ASC""".stripMargin),
    // q82: CASE-sum pivot — portable across engines, same fixed domain.
    "q82_user_type_pivot" ->
      (silverCte +
        """
          |SELECT user_id,
          |       CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
          |       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
          |       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
          |       CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
          |       CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
          |FROM silver GROUP BY 1 ORDER BY user_id ASC""".stripMargin),
    // q83: identical ntile tie-break (count DESC, user_id ASC).
    "q83_user_quartiles" ->
      (silverCte +
        """, counts AS (
          |  SELECT user_id, COUNT(*) AS listen_count FROM silver GROUP BY 1),
          |tiled AS (
          |  SELECT *, ntile(4) OVER (
          |    ORDER BY listen_count DESC, user_id ASC) AS quartile
          |  FROM counts)
          |SELECT quartile, COUNT(*) AS users,
          |       CAST(SUM(listen_count) AS BIGINT) AS listens,
          |       MIN(listen_count) AS min_listens,
          |       MAX(listen_count) AS max_listens
          |FROM tiled GROUP BY 1 ORDER BY quartile ASC""".stripMargin),
    // q84: same 2-gram construction as q71, source-level distinct sets.
    "q84_source_overlap" ->
      s"""WITH toks AS (
         |  SELECT source, string_split($duckNorm, ' ') AS w FROM documents),
         |grams AS (
         |  SELECT DISTINCT source, array_to_string(w[i:i+1], ' ') AS gram
         |  FROM toks, unnest(range(1, len(w) - 0)) AS t(i)
         |  WHERE len(w) >= 2),
         |sizes AS (SELECT source, COUNT(*) AS ns FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         COUNT(*) AS shared_grams
         |  FROM grams a JOIN grams b
         |    ON a.gram = b.gram AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.source_a, i.source_b, i.shared_grams,
         |       CAST(i.shared_grams AS DOUBLE)
         |         / (sa.ns + sb.ns - i.shared_grams) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.source = i.source_a
         |JOIN sizes sb ON sb.source = i.source_b
         |ORDER BY i.source_a ASC, i.source_b ASC""".stripMargin,
    // q85: each rule restated as plain SQL counts; UNION ALL report.
    "q85_quality_checks" ->
      """WITH rules(table_name, check_name, violations) AS (
        |  SELECT 'events', 'event_id_unique',
        |         (SELECT COUNT(*) FROM (
        |            SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1))
        |  UNION ALL
        |  SELECT 'events', 'event_type_in_domain',
        |         (SELECT COUNT(*) FROM events WHERE event_type NOT IN
        |            ('click', 'error', 'purchase', 'signup', 'view'))
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey_fk_orders',
        |         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (
        |            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'lineitem', 'l_quantity_in_1_50',
        |         (SELECT COUNT(*) FROM lineitem
        |          WHERE l_quantity < 1 OR l_quantity > 50)
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey_fk_customer',
        |         (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
        |            SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'orders', 'o_orderkey_not_null',
        |         (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
        |  UNION ALL
        |  SELECT 'orders', 'o_orderkey_unique',
        |         (SELECT COUNT(*) FROM (
        |            SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
        |  UNION ALL
        |  SELECT 'orders', 'o_totalprice_positive',
        |         (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0))
        |SELECT table_name, check_name, violations,
        |       violations = 0 AS pass
        |FROM rules
        |ORDER BY table_name ASC, check_name ASC""".stripMargin,
    // q86: same df-threshold rarity rule, exact ppm. Integer SUMs are
    // CAST to BIGINT: DuckDB's integer SUM returns HUGEINT, which
    // surfaces as decimal128(38,0) in arrow and breaks the driver's
    // dtype-sensitive hash even when values are equal (r4 lesson —
    // every r4 hash-FAIL had exactly this mismatch).
    "q86_rare_word_ratio" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(str_split($duckNorm, ' ')) AS w FROM documents),
         |wc AS (
         |  SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
         |rare AS (
         |  SELECT w FROM (SELECT w, COUNT(*) AS df FROM wc GROUP BY 1)
         |  WHERE df < 3)
         |SELECT wc.doc_id, CAST(SUM(wc.cnt) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(SUM(CASE WHEN r.w IS NOT NULL THEN wc.cnt END), 0)
         |         AS BIGINT) AS rare_tokens,
         |       CAST(COALESCE(SUM(CASE WHEN r.w IS NOT NULL THEN wc.cnt END), 0)
         |         * 1000000 // SUM(wc.cnt) AS BIGINT) AS rare_ppm,
         |       COALESCE(SUM(CASE WHEN r.w IS NOT NULL THEN wc.cnt END), 0)
         |         * 1000000 // SUM(wc.cnt) > 200000 AS oov_heavy
         |FROM wc LEFT JOIN rare r USING (w)
         |GROUP BY wc.doc_id ORDER BY wc.doc_id ASC""".stripMargin,
    // q87: islands SQL with the native operator's boundary (the session
    // end is INCLUSIVE: an event at exactly last+gap still extends, so
    // only diff > gap opens a new session — same rule as q47).
    "q87_session_windows" ->
      (silverCte +
        """, flagged AS (
          |  SELECT user_id, event_id, ts,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
          |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
          |         ELSE 0 END AS new_session
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          |numbered AS (
          |  SELECT user_id, ts,
          |    SUM(new_session) OVER (
          |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          |  FROM flagged)
          |SELECT user_id,
          |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
          |       COUNT(*) AS n_events
          |FROM numbered GROUP BY user_id, session_no
          |ORDER BY user_id ASC, session_start ASC""".stripMargin),
    // q88: width_bucket restated as the same IEEE ops Spark executes:
    // (v - lo) / ((hi - lo) / n), truncated (values are non-negative so
    // floor ≡ trunc), overflow buckets 0 and n+1.
    "q88_value_histogram" ->
      (silverCte +
        """
          |SELECT CASE WHEN value < 0.0 THEN 0
          |            WHEN value >= 200.0 THEN 21
          |            ELSE CAST(FLOOR((value - 0.0) / ((200.0 - 0.0) / 20)) AS BIGINT) + 1
          |       END AS bucket,
          |       COUNT(*) AS n, MIN(value) AS lo_seen, MAX(value) AS hi_seen
          |FROM silver WHERE value IS NOT NULL
          |GROUP BY 1 ORDER BY bucket ASC""".stripMargin),
    // q90: DuckDB GROUPING() bit order matches Spark's grouping_id()
    // (first column = most significant bit).
    "q90_grouping_sets" ->
      """SELECT year(o_orderdate) AS o_year, o_orderpriority,
        |       GROUPING(year(o_orderdate), o_orderpriority) AS gid,
        |       COUNT(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority), ())
        |ORDER BY gid ASC, o_year ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    // q91: identical calendar-interval RANGE frame in both engines; the
    // frame is over DATE so no timezone/precision skew is possible.
    "q91_rolling_7day" ->
      (silverCte +
        """, daily AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count
          |  FROM silver GROUP BY 1, 2)
          |SELECT user_id, event_date, listen_count,
          |       CAST(SUM(listen_count) OVER w AS BIGINT) AS cnt_7d,
          |       COUNT(*) OVER w AS active_days_7d
          |FROM daily
          |WINDOW w AS (PARTITION BY user_id ORDER BY event_date
          |             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
          |ORDER BY user_id ASC, event_date ASC""".stripMargin),
    // q92: DuckDB UNPIVOT over the same explicit-domain wide matrix;
    // zero-count combos survive on both sides.
    "q92_user_type_unpivot" ->
      (silverCte +
        """, wide AS (
          |  SELECT user_id,
          |       COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS click,
          |       COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS error,
          |       COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS purchase,
          |       COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS signup,
          |       COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS view
          |  FROM silver GROUP BY 1)
          |SELECT user_id, event_type, CAST(cnt AS BIGINT) AS cnt
          |FROM wide UNPIVOT (cnt FOR event_type IN (click, error, purchase, signup, view))
          |ORDER BY user_id ASC, event_type ASC""".stripMargin),
    // q93: same degree-ordered orientation on both sides; exact integer
    // counts. The (deg, id) total order makes the wedge/closing joins
    // engine-independent.
    "q93_copurchase_triangles" ->
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS MATERIALIZED (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
        |  GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS src,
        |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS dst
        |  FROM edges e
        |  JOIN deg du ON du.n = e.u
        |  JOIN deg dv ON dv.n = e.v),
        |od AS MATERIALIZED (SELECT o.src, o.dst, d.d AS dst_d FROM o JOIN deg d ON d.n = o.dst),
        |w AS MATERIALIZED (
        |  SELECT e1.dst AS b, e2.dst AS c
        |  FROM od e1 JOIN od e2 ON e1.src = e2.src
        |   AND (e1.dst_d < e2.dst_d OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM w JOIN o ON o.src = w.b AND o.dst = w.c)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM edges) AS n_edges,
        |       n_triangles
        |FROM tri""".stripMargin,
    // q94: exclusive prefix sum via ROWS UNBOUNDED PRECEDING .. 1
    // PRECEDING; integer `//` division places docs in chunks identically.
    "q94_sequence_packing" ->
      s"""WITH toks AS (
         |  SELECT source, doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |off AS (
         |  SELECT *, COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |  FROM toks)
         |SELECT source, CAST(start_offset // 512 AS BIGINT) AS chunk_id,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM off GROUP BY 1, 2
         |ORDER BY source ASC, chunk_id ASC""".stripMargin,
    // q95: unnest-with-position ≡ posexplode; float→double widening is
    // exact, stats are order-independent (min/max/counts, one subtract).
    "q95_dim_stats" ->
      """WITH u AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT pos, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi,
        |       CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |       CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       MAX(x) - MIN(x) AS range
        |FROM u GROUP BY pos ORDER BY pos ASC""".stripMargin,
    // q96: the identical bit-interleave expression, generated from one
    // source of truth (ZOrder.zValueSql) — exact integer parity.
    // q142: the indexed layout is a faithful copy of documents — the
    // point-range read must return exactly the source rows.
    "q142_indexed_lookup" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id >= 100 AND doc_id < 140
        |ORDER BY doc_id ASC""".stripMargin,
    "q96_zorder_curve" ->
      s"""SELECT ${graft.functions.ZOrder.zValueSql("l_partkey", "l_suppkey",
            graft.analytics.Layout.CurveBits)} AS z,
         |       l_partkey, l_suppkey, l_orderkey, l_linenumber
         |FROM lineitem
         |ORDER BY z ASC, l_orderkey ASC, l_linenumber ASC
         |LIMIT 200""".stripMargin,
    // q97: levenshtein is the same DP in both engines (exact integers);
    // block key = last name token on both sides.
    "q97_fuzzy_part_names" ->
      """WITH names AS (
        |  SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY 1),
        |b AS (
        |  SELECT *, list_extract(str_split(name, ' '), -1) AS block FROM names)
        |SELECT a.name AS name_a, b2.name AS name_b,
        |       CAST(levenshtein(a.name, b2.name) AS INTEGER) AS dist,
        |       a.n_parts AS n_parts_a, b2.n_parts AS n_parts_b
        |FROM b a JOIN b b2 ON a.block = b2.block AND a.name < b2.name
        |WHERE levenshtein(a.name, b2.name) <= 3
        |  AND levenshtein(a.name, b2.name) > 0
        |ORDER BY name_a ASC, name_b ASC""".stripMargin,
    // q98: the JSON text of a key-sorted map is engine-portable; DuckDB
    // rebuilds Spark's to_json(map) byte for byte with an ordered
    // string_agg (and '{}' for an empty filtered map).
    "q98_user_map_profile" ->
      (silverCte +
        """, cnts AS (
          |  SELECT user_id, event_type, COUNT(*) AS cnt
          |  FROM silver GROUP BY 1, 2)
          |SELECT user_id,
          |  '{' || string_agg(format('"{}":{}', event_type, cnt), ','
          |           ORDER BY event_type ASC) || '}' AS profile_json,
          |  CAST(COUNT(*) AS INTEGER) AS n_types,
          |  '{' || COALESCE(string_agg(format('"{}":{}', event_type, cnt), ','
          |           ORDER BY event_type ASC) FILTER (WHERE cnt >= 10), '')
          |      || '}' AS major_json,
          |  CAST(COUNT(*) FILTER (WHERE cnt >= 10) AS INTEGER) AS n_major_types
          |FROM cnts GROUP BY user_id ORDER BY user_id ASC""".stripMargin),
    // q99: same word-frequency-table-first BPE census; pair lists via
    // list comprehension ≡ transform(sequence(...)). Exact integers.
    "q99_bpe_merge_candidates" ->
      s"""WITH words AS (
         |  SELECT w, COUNT(*) AS wc FROM (
         |    SELECT unnest(str_split($duckNorm, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |pairs AS (
         |  SELECT wc, unnest([substring(w, i, 2)
         |                     for i in range(1, length(w))]) AS pair
         |  FROM words WHERE length(w) >= 2)
         |SELECT pair, CAST(SUM(wc) AS BIGINT) AS weight
         |FROM pairs GROUP BY pair
         |ORDER BY weight DESC, pair ASC LIMIT 30""".stripMargin,
    // q100: generate_series per user ≡ sequence(); DATE arithmetic only,
    // so the generated calendars agree to the day.
    "q100_calendar_gap_fill" ->
      (silverCte +
        """, daily AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count
          |  FROM silver GROUP BY 1, 2),
          |cal AS (
          |  SELECT user_id,
          |         CAST(unnest(generate_series(MIN(event_date),
          |                MAX(event_date), INTERVAL 1 DAY)) AS DATE) AS event_date
          |  FROM daily GROUP BY user_id)
          |SELECT c.user_id, c.event_date,
          |       COALESCE(d.listen_count, 0) AS listen_count,
          |       d.listen_count IS NULL AS is_gap
          |FROM cal c LEFT JOIN daily d
          |  ON c.user_id = d.user_id AND c.event_date = d.event_date
          |ORDER BY c.user_id ASC, c.event_date ASC""".stripMargin),
    // q101: total ORDER key (count, user) → singleton peer groups; both
    // rank functions are exact integer ratios, identical doubles.
    "q101_rank_distributions" ->
      (silverCte +
        """, counts AS (
          |  SELECT user_id, COUNT(*) AS listen_count FROM silver GROUP BY 1)
          |SELECT user_id, listen_count,
          |       percent_rank() OVER w AS pr,
          |       cume_dist() OVER w AS cd
          |FROM counts
          |WINDOW w AS (ORDER BY listen_count ASC, user_id ASC)
          |ORDER BY user_id ASC""".stripMargin),
    // q102: default-frame last_value == current row in BOTH engines (the
    // gotcha is pinned as a column); full frame gives the true span end.
    "q102_value_windows" ->
      (silverCte +
        """, daily AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count
          |  FROM silver GROUP BY 1, 2)
          |SELECT user_id, event_date, listen_count,
          |       first_value(listen_count) OVER w AS first_cnt,
          |       last_value(listen_count) OVER w AS last_cnt_default_frame,
          |       last_value(listen_count) OVER wf AS last_cnt,
          |       nth_value(listen_count, 2) OVER wf AS second_cnt
          |FROM daily
          |WINDOW w AS (PARTITION BY user_id ORDER BY event_date ASC),
          |       wf AS (PARTITION BY user_id ORDER BY event_date ASC
          |              ROWS BETWEEN UNBOUNDED PRECEDING
          |                       AND UNBOUNDED FOLLOWING)
          |ORDER BY user_id ASC, event_date ASC""".stripMargin),
    // q103: identical LATERAL semantics (per-outer-row subquery with its
    // own ORDER BY + LIMIT); exact integer counts.
    "q103_lateral_topk" ->
      """SELECT n.n_name, l.c_custkey, l.cnt
        |FROM nation n, LATERAL (
        |  SELECT c.c_custkey, COUNT(*) AS cnt
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  GROUP BY c.c_custkey
        |  ORDER BY cnt DESC, c.c_custkey ASC
        |  LIMIT 2) l
        |ORDER BY n.n_name ASC, l.cnt DESC, l.c_custkey ASC""".stripMargin,
    // q104: weighted co-purchase pairs, symmetrized, windowed top-3 with
    // full tiebreak. Exact integers.
    "q104_item_item_recs" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pw AS (
        |  SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT u AS part, v AS rec, w FROM pw
        |  UNION ALL
        |  SELECT v AS part, u AS rec, w FROM pw),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY part ORDER BY w DESC, rec ASC) AS rk
        |  FROM sym)
        |SELECT part, CAST(rk AS INTEGER) AS rk, rec, w
        |FROM ranked WHERE rk <= 3
        |ORDER BY part ASC, rk ASC""".stripMargin,
    // q105: identical decimal pipeline — scale-2 casts, scale-4 products,
    // no division. The scale-4 moment columns are FLOORed to whole-unit
    // BIGINTs on both sides: their scaled int128 magnitudes exceed 2^53
    // at sf0.01, where decimal→double canonicalizations can differ in
    // the last ulp between engines (the r4 hash-FAIL); floor-then-cast
    // is exact integer arithmetic in both.
    "q105_exact_moments" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |agg AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |  FROM li GROUP BY 1)
        |SELECT l_returnflag, n,
        |       CAST(sx * 100 AS BIGINT) AS sum_x_c,
        |       CAST(sy * 100 AS BIGINT) AS sum_y_c,
        |       CAST(FLOOR(sxx) AS BIGINT) AS sum_xx_w,
        |       CAST(FLOOR(sxy) AS BIGINT) AS sum_xy_w,
        |       CAST(FLOOR(CAST(n AS DECIMAL(10,0)) * CAST(sxy AS DECIMAL(27,4))
        |            - CAST(sx AS DECIMAL(19,2)) * CAST(sy AS DECIMAL(19,2)))
        |            AS BIGINT) AS cov_num_w,
        |       CAST(FLOOR(CAST(n AS DECIMAL(10,0)) * CAST(sxx AS DECIMAL(27,4))
        |            - CAST(sx AS DECIMAL(19,2)) * CAST(sx AS DECIMAL(19,2)))
        |            AS BIGINT) AS var_num_w
        |FROM agg ORDER BY l_returnflag ASC""".stripMargin,
    // q106: DuckDB's JSON probe plays the variant path; integer `//`
    // matches `div`; the absent path is null in both engines.
    "q106_variant_flatten" ->
      """WITH x AS (
        |  SELECT event_type,
        |         CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, k // 10 AS k_decile,
        |       COUNT(*) AS n, MIN(k) AS k_min, MAX(k) AS k_max,
        |       COUNT(*) AS n_missing
        |FROM x GROUP BY 1, 2
        |ORDER BY event_type ASC, k_decile ASC""".stripMargin,
    // q107: the greedy fold as a recursive CTE walking rn → rn+1 per
    // source — the same sequential recurrence, exact integers.
    "q107_greedy_packing" ->
      s"""WITH RECURSIVE toks AS MATERIALIZED (
         |  SELECT source, doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
         |  FROM documents),
         |walk AS (
         |  SELECT source, doc_id, n_tokens, rn,
         |         CAST(0 AS BIGINT) AS chunk_id, n_tokens AS fill
         |  FROM toks WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN w.chunk_id + 1 ELSE w.chunk_id END,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN t.n_tokens ELSE w.fill + t.n_tokens END
         |  FROM toks t JOIN walk w ON t.source = w.source AND t.rn = w.rn + 1)
         |SELECT source, chunk_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |       CAST(GREATEST(0, 512 - SUM(n_tokens)) AS BIGINT) AS padding
         |FROM walk GROUP BY 1, 2
         |ORDER BY source ASC, chunk_id ASC""".stripMargin,
    // q108: same rows as the q13 window spelling, with the rank emitted;
    // the oracle is the row_number formulation.
    "q108_topk_aggregator" ->
      (silverCte +
        """, gold AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count
          |  FROM silver GROUP BY 1, 2),
          |ranked AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY user_id
          |    ORDER BY listen_count DESC, event_date ASC) AS rnk
          |  FROM gold)
          |SELECT user_id, event_date, listen_count, CAST(rnk AS INTEGER) AS rnk
          |FROM ranked WHERE rnk <= 3
          |ORDER BY user_id ASC, rnk ASC""".stripMargin),
    // q109: identical WITH RECURSIVE text runs in both engines (hop-bound
    // termination, exact integers).
    "q109_recursive_reach" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk),
        |walk(pk, hops) AS (
        |  SELECT CAST(0 AS BIGINT) AS pk, 0 AS hops
        |  UNION ALL
        |  SELECT e.v, w.hops + 1
        |  FROM walk w JOIN edges e ON e.u = w.pk WHERE w.hops < 2),
        |minhop AS (
        |  SELECT pk, MIN(hops) AS hops FROM walk GROUP BY pk)
        |SELECT hops, COUNT(*) AS n_parts, MIN(pk) AS min_part, MAX(pk) AS max_part
        |FROM minhop GROUP BY hops ORDER BY hops ASC""".stripMargin,
    // q110: the bucketed tables hold exactly the source rows, so the
    // plain join is the oracle; decimal-sum-then-double is portable.
    "q110_bucketed_join" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |       COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority ASC""".stripMargin,
    // q111: identical division-free 3σ test; (19,2) operand casts force
    // DuckDB's int128 path on every multiply.
    "q111_outlier_census" ->
      (silverCte +
        """, li AS (
          |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x
          |  FROM silver WHERE value IS NOT NULL),
          |m AS (
          |  SELECT event_type, CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
          |         CAST(SUM(x) AS DECIMAL(18,2)) AS sx,
          |         CAST(SUM(x * x) AS DECIMAL(27,4)) AS sxx
          |  FROM li GROUP BY 1),
          |m2 AS (
          |  SELECT event_type, n, sx,
          |         CAST(n * sxx - CAST(sx AS DECIMAL(19,2)) * CAST(sx AS DECIMAL(19,2))
          |              AS DECIMAL(30,4)) AS var_num
          |  FROM m),
          |f AS (
          |  SELECT li.event_type, li.x,
          |         CAST(m2.n * li.x - m2.sx AS DECIMAL(18,2)) AS dev, m2.var_num
          |  FROM li JOIN m2 ON li.event_type = m2.event_type),
          |g AS (
          |  SELECT event_type, x,
          |         CAST(CAST(dev AS DECIMAL(19,2)) * CAST(dev AS DECIMAL(19,2))
          |              AS DECIMAL(38,4))
          |           > CAST(9 * var_num AS DECIMAL(38,4)) AS is_outlier
          |  FROM f)
          |SELECT event_type, COUNT(*) AS n_rows,
          |       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_outliers,
          |       MIN(CASE WHEN is_outlier THEN CAST(x * 100 AS BIGINT) END)
          |         AS min_outlier_c,
          |       MAX(CASE WHEN is_outlier THEN CAST(x * 100 AS BIGINT) END)
          |         AS max_outlier_c
          |FROM g GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // q112: identical integer Gini; `//` (floor) ≡ Spark `div` here since
    // every term is positive.
    "q112_gini_ppm" ->
      (silverCte +
        """, counts AS (
          |  SELECT user_id, COUNT(*) AS x FROM silver GROUP BY 1),
          |r AS (
          |  SELECT x, row_number() OVER (ORDER BY x ASC, user_id ASC) AS i
          |  FROM counts)
          |SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sum_x,
          |       CAST((2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)) * 1000000
          |         // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm
          |FROM r""".stripMargin),
    // q89: sequential folds — DuckDB list_reduce with a prepended 0 seed
    // reproduces Spark's aggregate() fold order exactly.
    "q89_vector_stats" ->
      """SELECT vec_id,
        |       len(e) AS dim,
        |       list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
        |                   (a, b) -> a + b) AS l1,
        |       list_max(list_transform(e, x -> abs(x))) AS linf,
        |       len(list_filter(e, x -> x > 0)) AS n_positive
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |ORDER BY vec_id ASC""".stripMargin,
    "q28_simhash_neardups" -> simhashOracle,
    // Blocking key mirrors TextDedup.ngramBlocks exactly: (lang, source,
    // n_chars div 256 length-band) capped by Shard.duckCapped.
    "q29_ngram_jaccard" ->
      s"""WITH meta AS (
         |  SELECT doc_id, lang, source, n_chars // 256 AS band,
         |         $duckNorm AS norm
         |  FROM documents),
         |${Shard.duckCapped("meta", Seq("lang", "source", "band"))},
         |nd AS (
         |  SELECT doc_id, lang, source, band, subshard,
         |         str_split(norm, ' ') AS w
         |  FROM keyed),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, lang, source, band, subshard,
         |         unnest(list_transform(range(1, len(w)),
         |                i -> array_to_string(w[i:i+1], ' '))) AS shingle
         |  FROM nd WHERE len(w) >= 2),
         |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS icnt
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
         |   AND a.subshard = b.subshard
         |   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3)
         |SELECT it.lang, it.doc_a, it.doc_b,
         |       CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) AS jaccard
         |FROM inter it
         |JOIN sizes sa ON sa.doc_id = it.doc_a
         |JOIN sizes sb ON sb.doc_id = it.doc_b
         |WHERE CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) >= 0.5
         |ORDER BY lang, doc_a, doc_b""".stripMargin,
    "q30_doc_features" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM n)
         |SELECT doc_id,
         |  CAST(len(w) AS INTEGER) AS n_tokens,
         |  CAST(length(norm) AS INTEGER) AS n_chars_norm,
         |  CAST(len(list_filter(w, x -> x IN ($duckStops))) AS INTEGER) AS stop_cnt,
         |  CAST(len(list_filter(w, x -> x IN ($duckStops))) AS DOUBLE) / len(w) AS stop_ratio,
         |  CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) AS mean_token_len,
         |  md5(norm) AS fingerprint,
         |  CAST('0x' || substr(md5(norm), 1, 15) AS BIGINT) % 64 AS shard
         |FROM t ORDER BY doc_id""".stripMargin,
    "q31_corpus_stats" ->
      s"""WITH t AS (
         |  SELECT lang, source, n_chars,
         |         len(str_split($duckNorm, ' ')) AS n_tokens
         |  FROM documents)
         |SELECT lang, source, COUNT(*) AS docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q32_quality_score" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM n),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS INTEGER) AS n_tokens,
         |    CAST(len(list_filter(w, x -> x IN ($duckStops))) AS INTEGER) AS stop_cnt,
         |    CAST(len(list_filter(w, x -> x IN ($duckStops))) AS DOUBLE) / len(w) AS stop_ratio,
         |    CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) AS mean_token_len
         |  FROM t)
         |SELECT doc_id, n_tokens, stop_ratio, mean_token_len,
         |  CAST(n_tokens >= 20 AND n_tokens <= 1000 AS INTEGER) AS len_ok,
         |  CAST(stop_cnt > 0 AS INTEGER) AS stop_ok,
         |  CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INTEGER) AS wordlen_ok,
         |  CAST(n_tokens >= 20 AND n_tokens <= 1000 AS INTEGER)
         |    + CAST(stop_cnt > 0 AS INTEGER)
         |    + CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INTEGER) AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    "q33_lang_id" -> langIdOracle,
    "q34_knn_exact" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
         |cos AS (
         |  SELECT qv.query_id, nv.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM q qv, v nv WHERE nv.vec_id <> qv.query_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
         |  FROM cos)
         |SELECT query_id, "rank", neighbor_id, cos FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "q35_knn_lsh" ->
      (lshCte +
        s""",
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
           |  FROM bands q JOIN bands b ON q.band = b.band AND q.bval = b.bval
           |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
           |cos AS (
           |  SELECT c.query_id, c.neighbor_id, $duckCos AS cos
           |  FROM cand c
           |  JOIN v qv ON qv.vec_id = c.query_id
           |  JOIN v nv ON nv.vec_id = c.neighbor_id),
           |r AS (
           |  SELECT *, CAST(row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
           |  FROM cos)
           |SELECT query_id, "rank", neighbor_id, cos FROM r
           |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin),
    "q36_similar_pairs" ->
      (lshCte +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
           |  WHERE a.vec_id < b.vec_id),
           |cos AS (
           |  SELECT c.vec_a, c.vec_b, $duckCos AS cos
           |  FROM cand c
           |  JOIN v qv ON qv.vec_id = c.vec_a
           |  JOIN v nv ON nv.vec_id = c.vec_b)
           |SELECT vec_a, vec_b, cos FROM cos
           |WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin),
    "q37_media_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) / 255.0 AS f0,
        |  CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) / 255.0 AS f1,
        |  CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) / 255.0 AS f2,
        |  CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) / 255.0 AS f3
        |FROM documents ORDER BY media_id""".stripMargin,
    // q38: the HLL estimates themselves are engine-specific, so the query
    // emits tolerance BOOLEANS (|approx - exact| <= 0.25 * exact) and the
    // oracle computes the exact counts with literal TRUEs — a hash-checked
    // assertion that Spark's sketches landed inside the bound.
    "q38_user_profile_approx" ->
      (silverCte +
        """
          |SELECT user_id, COUNT(*) AS listen_count,
          |       TRUE AS active_days_ok, TRUE AS unique_types_ok
          |FROM silver GROUP BY 1 ORDER BY user_id ASC""".stripMargin),
    "q39_sql_top_users" ->
      (silverCte +
        """
          |SELECT user_id, COUNT(*) AS listen_count
          |FROM silver GROUP BY 1
          |ORDER BY listen_count DESC, user_id ASC LIMIT 10""".stripMargin),
    "q40_sql_active_7day" ->
      (silverCte +
        """, daily AS (
          |  SELECT DISTINCT event_date AS d, user_id FROM silver)
          |SELECT curr.d, COUNT(DISTINCT past.user_id) AS active_users_7d
          |FROM (SELECT DISTINCT d FROM daily) curr
          |JOIN daily past ON past.d >= curr.d - 6 AND past.d <= curr.d
          |GROUP BY curr.d ORDER BY curr.d ASC""".stripMargin),
    "q41_sql_first_event" ->
      (silverCte +
        """, ranked AS (
          |  SELECT user_id, event_id, event_type, ts,
          |         row_number() OVER (
          |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
          |  FROM silver)
          |SELECT user_id, event_id AS first_event_id,
          |       event_type AS first_event_type,
          |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
          |FROM ranked WHERE rn = 1 ORDER BY user_id ASC""".stripMargin),
    // q140: NOT IN (no NULLs in the subquery by construction, so the
    // null-aware anti join reduces to the churn list on both engines)
    "q140_churned_users" ->
      (silverCte +
        """
          |SELECT user_id, COUNT(*) AS n_events, MAX(event_date) AS last_date
          |FROM silver
          |WHERE user_id NOT IN (
          |  SELECT user_id FROM silver WHERE event_date >= DATE '2024-01-30')
          |GROUP BY user_id ORDER BY user_id ASC""".stripMargin),
    // q141: the repartition-by-key write pins n_files per partition dir
    // at exactly 1, so the file census is the key census.
    "q141_file_lineage" ->
      """SELECT event_type, CAST(1 AS BIGINT) AS n_files,
        |       COUNT(*) AS n_rows,
        |       MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
        |FROM events GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q42_ndjson_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
        |  CAST(ts AS DATE) AS event_date
        |FROM events WHERE event_id < 10000 ORDER BY event_id""".stripMargin,
    "q43_gold_epochs_ondisk" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS n
          |FROM silver GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin),
    "q44_null_ordering" ->
      (silverCte +
        """
          |SELECT user_id, event_id,
          |       lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id ASC)
          |         AS prev_event_id
          |FROM silver
          |ORDER BY prev_event_id DESC NULLS LAST, user_id ASC, event_id ASC""".stripMargin),
    "q45_user_date_setops" ->
      (silverCte +
        """, d1 AS (
          |  SELECT DISTINCT user_id FROM silver WHERE event_date = DATE '2024-01-05'),
          |d2 AS (
          |  SELECT DISTINCT user_id FROM silver WHERE event_date = DATE '2024-01-06')
          |SELECT 'both' AS op, user_id FROM (SELECT user_id FROM d1 INTERSECT SELECT user_id FROM d2)
          |UNION ALL
          |SELECT 'only_first' AS op, user_id FROM (SELECT user_id FROM d1 EXCEPT SELECT user_id FROM d2)
          |ORDER BY op ASC, user_id ASC""".stripMargin),
    // q145: INTERSECT ALL / EXCEPT ALL have identical multiset semantics
    // in both engines (min / clamped-difference of multiplicities).
    "q145_bag_setops" ->
      (silverCte +
        """, a AS (
          |  SELECT event_type FROM silver WHERE event_date = DATE '2024-01-05'),
          |b AS (
          |  SELECT event_type FROM silver WHERE event_date = DATE '2024-01-06'),
          |ia AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b),
          |ea AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)
          |SELECT 'intersect_all' AS op, event_type, COUNT(*) AS n
          |FROM ia GROUP BY 2
          |UNION ALL
          |SELECT 'except_all' AS op, event_type, COUNT(*) AS n
          |FROM ea GROUP BY 2
          |ORDER BY op ASC, event_type ASC""".stripMargin),
    "q46_asof_join" -> asofOracleSql,
    // q113: the custom PHYSICAL as-of operator computes the identical
    // relation (tiebreak o_orderkey ≡ the oracle's per-(custkey,date)
    // max-orderkey dedup), so it is gated by the SAME oracle as q46.
    "q113_asof_physical" -> asofOracleSql,
    // q114: sketch content is engine-specific; the gated columns are the
    // exact top-20 census plus the MG guarantee booleans, which a correct
    // sketch makes literally TRUE — same contract as q38/q64.
    "q114_heavy_hitters" ->
      (silverCte +
        """, c AS (
          |  SELECT user_id, COUNT(*) AS exact_cnt FROM silver GROUP BY 1),
          |t AS (SELECT SUM(exact_cnt) AS n FROM c),
          |top AS (
          |  SELECT user_id, exact_cnt,
          |         row_number() OVER (ORDER BY exact_cnt DESC, user_id ASC) AS rank
          |  FROM c ORDER BY exact_cnt DESC, user_id ASC LIMIT 20)
          |SELECT rank, user_id, exact_cnt,
          |       exact_cnt > (SELECT n // 32 FROM t) AS above_threshold,
          |       TRUE AS guaranteed_present,
          |       TRUE AS estimate_sound
          |FROM top ORDER BY rank ASC""".stripMargin),
    // q115: the three iterations are UNROLLED as plain CTEs (SQL forbids
    // aggregates in a recursive member; fixed-iteration IS the semantics).
    // All-integer ppm arithmetic — floor div both engines, zero drift.
    "q115_pagerank_ppm" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |dir AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        |deg AS (SELECT u, COUNT(*) AS deg FROM dir GROUP BY 1),
        |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        |r1 AS (SELECT d.v AS node, 150000 + (SUM(p.r // g.deg) * 17) // 20 AS r
        |       FROM r0 p JOIN deg g ON g.u = p.node JOIN dir d ON d.u = p.node
        |       GROUP BY d.v),
        |r2 AS (SELECT d.v AS node, 150000 + (SUM(p.r // g.deg) * 17) // 20 AS r
        |       FROM r1 p JOIN deg g ON g.u = p.node JOIN dir d ON d.u = p.node
        |       GROUP BY d.v),
        |r3 AS (SELECT d.v AS node, 150000 + (SUM(p.r // g.deg) * 17) // 20 AS r
        |       FROM r2 p JOIN deg g ON g.u = p.node JOIN dir d ON d.u = p.node
        |       GROUP BY d.v),
        |top AS (SELECT node, CAST(r AS BIGINT) AS rank_ppm,
        |               row_number() OVER (ORDER BY r DESC, node ASC) AS rank
        |        FROM r3 ORDER BY r DESC, node ASC LIMIT 10)
        |SELECT rank, node, rank_ppm FROM top ORDER BY rank ASC""".stripMargin,
    // q116: the oracle REBUILDS the generated corpus — md5 over the
    // decimal doc_id is engine-portable, so a custom DSv2 source is
    // hash-gateable like any parquet table.
    "q116_docgen_census" ->
      """WITH g AS (
        |  SELECT r.range AS doc_id,
        |         ['en','de','fr','es','pt'][CAST(r.range % 5 AS INT) + 1] AS lang,
        |         ['web','books','code'][CAST(r.range % 3 AS INT) + 1] AS source,
        |         repeat(md5(CAST(r.range AS VARCHAR)), CAST(1 + r.range % 4 AS INT)) AS text,
        |         32 * CAST(1 + r.range % 4 AS INT) AS n_chars
        |  FROM range(20000) r)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       MIN(substr(text, 1, 8)) AS min_prefix,
        |       MAX(substr(text, 1, 8)) AS max_prefix
        |FROM g GROUP BY 1, 2 ORDER BY lang ASC, source ASC""".stripMargin,
    // q139: the oracle rebuilds both generated corpora and runs the
    // plain join — the SPJ plan must be value-identical to it.
    "q139_spj_lang_join" ->
      """WITH a AS (
        |  SELECT r.range AS a_id,
        |         ['en','de','fr','es','pt'][CAST(r.range % 5 AS INT) + 1] AS lang
        |  FROM range(3000) r),
        |b AS (
        |  SELECT r.range AS b_id,
        |         ['en','de','fr','es','pt'][CAST(r.range % 5 AS INT) + 1] AS lang
        |  FROM range(1500) r)
        |SELECT a.lang, COUNT(*) AS n_pairs,
        |       CAST(SUM(a.a_id + b.b_id) AS BIGINT) AS sum_ids
        |FROM a JOIN b ON a.lang = b.lang
        |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    // q117: the oracle is the PLAIN theta join — the banded Spark plan
    // must be semantically identical to the quadratic spelling.
    "q117_interval_overlap" ->
      """WITH iv AS (
        |  SELECT l_orderkey, l_quantity,
        |         CAST(l_shipdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE) + l_linenumber * 7 AS e
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(date_trunc('month', MIN(s)) AS DATE) AS lo,
        |         CAST(date_trunc('month', MAX(s)) AS DATE) AS hi
        |  FROM iv),
        |w AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |                                     CAST(hi AS TIMESTAMP),
        |                                     INTERVAL 1 MONTH)) AS DATE) AS w_start
        |  FROM b),
        |ww AS (SELECT w_start, w_start + 9 AS w_end FROM w)
        |SELECT w_start, w_end, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM ww JOIN iv ON s <= w_end AND w_start <= e
        |GROUP BY 1, 2 ORDER BY w_start ASC""".stripMargin,
    // q118/q119: format round trips are gated by q12's oracle — any
    // type or value loss through ORC/CSV io breaks the hash.
    "q118_orc_roundtrip" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS listen_count,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin),
    "q119_csv_roundtrip" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS listen_count,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin),
    // q120: adjacent-pair extraction via 1-based list indexing; integer
    // floor-division ppm conditionals — bit-exact across engines.
    "q120_bigram_lm" ->
      s"""WITH t AS (SELECT lang, str_split($duckNorm, ' ') AS w FROM documents),
         |idx AS (SELECT lang, w, unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS (SELECT lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |c AS (SELECT lang, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM c GROUP BY 1, 2),
         |j AS (SELECT c.lang, c.w1, c.w2, c.cnt, ctx.ctx_cnt,
         |             c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |      FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY cnt DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank FROM j)
         |SELECT lang, w1, w2, cnt, ctx_cnt, CAST(p_ppm AS BIGINT) AS p_ppm, rank
         |FROM r WHERE rank <= 15 ORDER BY lang ASC, rank ASC""".stripMargin,
    // q121: L1 over the FULL source × lang grid (absent langs still
    // contribute the corpus share); integer ppm floor division.
    "q121_source_drift" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS cnt
        |           FROM documents GROUP BY 1, 2),
        |grid AS (SELECT s.source, l.lang
        |         FROM (SELECT DISTINCT source FROM documents) s
        |         CROSS JOIN (SELECT DISTINCT lang FROM documents) l),
        |filled AS (SELECT grid.source, grid.lang,
        |                  COALESCE(c.cnt, 0) AS cnt
        |           FROM grid LEFT JOIN c
        |             ON grid.source = c.source AND grid.lang = c.lang),
        |tot AS (SELECT source, lang, cnt,
        |               CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS src_total,
        |               CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
        |               CAST(SUM(cnt) OVER () AS BIGINT) AS grand_total
        |        FROM filled)
        |SELECT source, MAX(src_total) AS n_docs,
        |       CAST(SUM(abs(cnt * 1000000 // src_total
        |                    - lang_total * 1000000 // grand_total)) AS BIGINT) AS l1_drift_ppm
        |FROM tot GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q122: the oracle rebuilds snapshot B from the same id residues and
    // diffs by content hash — full-outer reconciliation census.
    "q122_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 89 = 0 THEN text || ' edited'
        |                  ELSE text END) AS hb
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, md5(text) FROM documents
        |  WHERE doc_id % 101 = 0),
        |d AS (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN b.hb IS NULL THEN 'removed'
        |              WHEN a.ha IS NULL THEN 'added'
        |              WHEN a.ha <> b.hb THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM d GROUP BY 1 ORDER BY status ASC""".stripMargin,
    // q123: same rebuild as q116 + a zero mismatch column (the oracle
    // recomputes lang/source from the residues, so mismatches must be 0).
    "q123_catalog_census" ->
      """WITH g AS (
        |  SELECT r.range AS doc_id,
        |         ['en','de','fr','es','pt'][CAST(r.range % 5 AS INT) + 1] AS lang,
        |         ['web','books','code'][CAST(r.range % 3 AS INT) + 1] AS source,
        |         repeat(md5(CAST(r.range AS VARCHAR)), CAST(1 + r.range % 4 AS INT)) AS text,
        |         32 * CAST(1 + r.range % 4 AS INT) AS n_chars
        |  FROM range(20000) r)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       MIN(substr(text, 1, 8)) AS min_prefix,
        |       MAX(substr(text, 1, 8)) AS max_prefix,
        |       CAST(0 AS BIGINT) AS fn_mismatches
        |FROM g GROUP BY 1, 2 ORDER BY lang ASC, source ASC""".stripMargin,
    // q124/q125: ntile and the discrete medians ride the same total
    // order ((value, event_id) NULLS excluded) in both engines.
    "q124_equidepth_hist" ->
      (silverCte +
        """, tiled AS (
          |  SELECT event_type, value,
          |         CAST(ntile(4) OVER (PARTITION BY event_type
          |           ORDER BY value ASC, event_id ASC) AS BIGINT) AS bucket
          |  FROM silver WHERE value IS NOT NULL)
          |SELECT event_type, bucket,
          |       COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
          |FROM tiled GROUP BY event_type, bucket
          |ORDER BY event_type ASC, bucket ASC""".stripMargin),
    "q125_mad_outliers" ->
      (silverCte +
        """, vals AS (
          |  SELECT event_type, event_id, value FROM silver
          |  WHERE value IS NOT NULL),
          |m AS (
          |  SELECT event_type, value AS med FROM (
          |    SELECT event_type, event_id, value,
          |           row_number() OVER (PARTITION BY event_type
          |             ORDER BY value ASC, event_id ASC) AS rn,
          |           COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |    FROM vals) t
          |  WHERE rn = (cnt + 1) // 2),
          |dev AS (
          |  SELECT v.event_type, v.event_id, v.value, m.med,
          |         abs(v.value - m.med) AS absdev
          |  FROM vals v JOIN m ON v.event_type = m.event_type),
          |md AS (
          |  SELECT event_type, absdev AS mad FROM (
          |    SELECT event_type, event_id, absdev,
          |           row_number() OVER (PARTITION BY event_type
          |             ORDER BY absdev ASC, event_id ASC) AS rn,
          |           COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |    FROM dev) t
          |  WHERE rn = (cnt + 1) // 2)
          |SELECT d.event_type, COUNT(*) AS n,
          |       MAX(d.med) AS median_value, MAX(md.mad) AS mad,
          |       CAST(SUM(CASE WHEN d.absdev > md.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |       MIN(CASE WHEN d.absdev > md.mad * 3.0 THEN d.event_id END) AS first_outlier_id
          |FROM dev d JOIN md ON d.event_type = md.event_type
          |GROUP BY d.event_type ORDER BY d.event_type ASC""".stripMargin),
    // q126: per-vector symmetric int8 quantization; every number derives
    // from exact integer-valued arithmetic, so the ranking hash-matches.
    "q126_knn_quantized" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |         greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) AS scale
        |  FROM v),
        |qt AS (
        |  SELECT vec_id,
        |         list_transform(e, x -> CAST(CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT) AS DOUBLE)) AS q
        |  FROM s),
        |n AS (
        |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qt),
        |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM n WHERE vec_id < 10),
        |cos AS (
        |  SELECT qs.query_id, n.vec_id AS neighbor_id,
        |         list_dot_product(qs.qq, n.q) / (qs.qn * n.nrm) AS qcos
        |  FROM qs, n WHERE n.vec_id <> qs.query_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
        |  FROM cos)
        |SELECT query_id, "rank", neighbor_id, qcos FROM r
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // q127: same level-census + boundary-prefix-sum algorithm, spelled in
    // SQL — keep_all / boundary decisions are identical by construction.
    "q127_budget_allocation" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM n),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS toks,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0 AS INTEGER) AS quality
         |  FROM t),
         |feats AS (
         |  SELECT f.doc_id, f.toks, f.quality, d.source
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
         |census AS (SELECT quality, CAST(SUM(toks) AS BIGINT) AS level_toks
         |           FROM feats GROUP BY 1),
         |cum AS (
         |  SELECT quality, level_toks,
         |         COALESCE(CAST(SUM(level_toks) OVER (ORDER BY quality DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS above_toks
         |  FROM census),
         |tot AS (SELECT CAST(SUM(toks) // 3 AS BIGINT) AS budget FROM feats),
         |lvl AS (
         |  SELECT c.quality,
         |         (c.above_toks + c.level_toks <= t.budget) AS keep_all,
         |         (NOT (c.above_toks + c.level_toks <= t.budget))
         |           AND c.above_toks < t.budget AS is_boundary,
         |         t.budget - c.above_toks AS remaining
         |  FROM cum c, tot t),
         |tagged AS (
         |  SELECT feats.*, lvl.keep_all, lvl.is_boundary, lvl.remaining
         |  FROM feats JOIN lvl ON feats.quality = lvl.quality),
         |bkept AS (
         |  SELECT doc_id, source, toks FROM (
         |    SELECT *, CAST(SUM(toks) OVER (PARTITION BY quality
         |      ORDER BY doc_id ASC) AS BIGINT) AS cum
         |    FROM tagged WHERE is_boundary) x
         |  WHERE cum <= remaining),
         |kept AS (
         |  SELECT doc_id, source, toks FROM tagged WHERE keep_all
         |  UNION ALL SELECT doc_id, source, toks FROM bkept)
         |SELECT source, COUNT(*) AS n_kept, CAST(SUM(toks) AS BIGINT) AS tokens_kept
         |FROM kept GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q128: q60's transitive closure + q32's quality, argmax by
    // (quality DESC, doc_id ASC) per cluster.
    "q128_best_of_cluster" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |nn AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |tt AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM nn),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0 AS INTEGER) AS quality
         |  FROM tt),
         |m AS (
         |  SELECT lab.cluster_id, lab.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY lab.cluster_id
         |           ORDER BY q.quality DESC, lab.doc_id ASC) AS rn
         |  FROM lab JOIN q ON lab.doc_id = q.doc_id)
         |SELECT cluster_id, COUNT(*) AS n_members,
         |       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
         |       CAST(MAX(CASE WHEN rn = 1 THEN quality END) AS INTEGER) AS kept_quality,
         |       CAST(MIN(quality) AS INTEGER) AS worst_quality
         |FROM m GROUP BY 1 ORDER BY cluster_id ASC""".stripMargin,
    // q129: the same WHEN MATCHED/NOT MATCHED algebra in SQL.
    "q129_merge_upsert" ->
      (silverCte +
        """, tgt AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count,
          |         COUNT(DISTINCT event_type) AS unique_types
          |  FROM silver WHERE event_id % 3 <> 0 GROUP BY 1, 2),
          |chg AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count,
          |         COUNT(DISTINCT event_type) AS unique_types,
          |         CASE WHEN user_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
          |  FROM silver WHERE event_id % 3 = 0 GROUP BY 1, 2),
          |j AS (
          |  SELECT COALESCE(t.user_id, c.user_id) AS user_id,
          |         COALESCE(t.event_date, c.event_date) AS event_date,
          |         t.listen_count AS tl, t.unique_types AS tu,
          |         c.listen_count AS cl, c.unique_types AS cu, c.op
          |  FROM tgt t FULL OUTER JOIN chg c
          |    ON t.user_id = c.user_id AND t.event_date = c.event_date),
          |acted AS (
          |  SELECT *,
          |    CASE WHEN op IS NULL THEN 'keep'
          |         WHEN op = 'delete' THEN
          |           CASE WHEN tl IS NOT NULL THEN 'delete' ELSE 'skip' END
          |         WHEN tl IS NOT NULL THEN 'update'
          |         ELSE 'insert' END AS action
          |  FROM j)
          |SELECT user_id, event_date,
          |       CASE WHEN action = 'keep' THEN tl ELSE cl END AS listen_count,
          |       CASE WHEN action = 'keep' THEN tu ELSE cu END AS unique_types,
          |       action
          |FROM acted WHERE action IN ('keep', 'update', 'insert')
          |ORDER BY user_id ASC, event_date ASC""".stripMargin),
    // q130: per-tier expiry census against the data's own max date.
    "q130_retention_plan" ->
      (silverCte +
        """, mx AS (SELECT MAX(event_date) AS asof FROM silver),
          |g AS (SELECT user_id, event_date FROM silver GROUP BY 1, 2),
          |c AS (
          |  SELECT 'bronze' AS tier, CAST(mx.asof - 21 AS DATE) AS cutoff,
          |         COUNT(DISTINCT CASE WHEN b.event_date < mx.asof - 21 THEN b.event_date END) AS expiring_dates,
          |         CAST(SUM(CASE WHEN b.event_date < mx.asof - 21 THEN 1 ELSE 0 END) AS BIGINT) AS expiring_rows,
          |         CAST(SUM(CASE WHEN b.event_date >= mx.asof - 21 THEN 1 ELSE 0 END) AS BIGINT) AS kept_rows
          |  FROM bronze b, mx GROUP BY 2
          |  UNION ALL
          |  SELECT 'silver', CAST(mx.asof - 14 AS DATE),
          |         COUNT(DISTINCT CASE WHEN s.event_date < mx.asof - 14 THEN s.event_date END),
          |         CAST(SUM(CASE WHEN s.event_date < mx.asof - 14 THEN 1 ELSE 0 END) AS BIGINT),
          |         CAST(SUM(CASE WHEN s.event_date >= mx.asof - 14 THEN 1 ELSE 0 END) AS BIGINT)
          |  FROM silver s, mx GROUP BY 2
          |  UNION ALL
          |  SELECT 'gold', CAST(mx.asof - 7 AS DATE),
          |         COUNT(DISTINCT CASE WHEN g.event_date < mx.asof - 7 THEN g.event_date END),
          |         CAST(SUM(CASE WHEN g.event_date < mx.asof - 7 THEN 1 ELSE 0 END) AS BIGINT),
          |         CAST(SUM(CASE WHEN g.event_date >= mx.asof - 7 THEN 1 ELSE 0 END) AS BIGINT)
          |  FROM g, mx GROUP BY 2)
          |SELECT tier, cutoff, expiring_dates, expiring_rows, kept_rows
          |FROM c ORDER BY tier ASC""".stripMargin),
    // q131: gaps via lag over the same (user, ts, event_id) order; the
    // bucket is length(bin(gap)) — identical integer/string semantics.
    "q131_gap_histogram" ->
      (silverCte +
        """, gaps AS (
          |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
          |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
          |  FROM silver),
          |b AS (
          |  SELECT gap_us // 1000000 AS gap_s,
          |         CAST(length(bin(gap_us // 1000000)) AS BIGINT) AS bucket
          |  FROM gaps WHERE gap_us IS NOT NULL)
          |SELECT bucket, COUNT(*) AS n_gaps,
          |       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
          |       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
          |FROM b GROUP BY 1 ORDER BY bucket ASC""".stripMargin),
    // q132: HUGEINT sums in DuckDB mirror Spark's decimal sums — both
    // exact integers, so the final double cosine is identical.
    "q132_embedding_drift" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |comps AS (
        |  SELECT label, i AS pos,
        |         CAST(floor(e[i] * 1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM v, unnest(generate_series(1, len(e))) AS s(i)),
        |byl AS (SELECT label, pos, SUM(c) AS ls FROM comps GROUP BY 1, 2),
        |corp AS (SELECT pos, SUM(c) AS cs FROM comps GROUP BY 1),
        |cn AS (SELECT SUM(cs * cs) AS cc FROM corp),
        |counts AS (SELECT label, COUNT(*) AS n_vecs FROM v GROUP BY 1),
        |agg AS (
        |  SELECT b.label, SUM(b.ls * c.cs) AS dot, SUM(b.ls * b.ls) AS ll
        |  FROM byl b JOIN corp c ON b.pos = c.pos GROUP BY 1)
        |SELECT a.label, counts.n_vecs,
        |       CAST(a.dot AS DOUBLE)
        |         / (sqrt(CAST(a.ll AS DOUBLE)) * sqrt(CAST(cn.cc AS DOUBLE))) AS cos_to_corpus
        |FROM agg a, cn JOIN counts ON a.label = counts.label
        |ORDER BY a.label ASC""".stripMargin,
    // q133: bigram-LM doc scoring — integer-ppm conditional probabilities
    // from the corpus's own bigram model (q120 machinery), multiplicity-
    // weighted floor-div mean per doc, keep verdict at 38000 ppm.
    "q133_doc_lm_score" ->
      s"""WITH t AS (SELECT doc_id, lang, str_split($duckNorm, ' ') AS w FROM documents),
         |idx AS (SELECT doc_id, lang, w, unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |docbg AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS m
         |          FROM bg GROUP BY 1, 2, 3, 4),
         |c AS (SELECT lang, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM c GROUP BY 1, 2),
         |lm AS (SELECT c.lang, c.w1, c.w2,
         |              c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |       FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
         |s AS (SELECT d.doc_id, CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
         |             CAST(SUM(d.m * lm.p_ppm) AS BIGINT) AS sum_ppm
         |      FROM docbg d JOIN lm ON d.lang = lm.lang
         |        AND d.w1 = lm.w1 AND d.w2 = lm.w2
         |      GROUP BY 1)
         |SELECT docs.doc_id,
         |       COALESCE(s.n_bigrams, 0) AS n_bigrams,
         |       COALESCE(s.sum_ppm // s.n_bigrams, 0) AS lm_score_ppm,
         |       COALESCE(s.sum_ppm // s.n_bigrams, 0) >= 38000 AS keep
         |FROM (SELECT doc_id FROM documents) docs
         |LEFT JOIN s ON docs.doc_id = s.doc_id
         |ORDER BY docs.doc_id ASC""".stripMargin,
    // q134: per-lang trigram-shingle census — mirrors the lazy generator
    // with an unnest over 1-based inclusive slices.
    "q134_shingle_census" ->
      s"""WITH t AS (SELECT lang, str_split($duckNorm, ' ') AS w FROM documents),
         |i AS (SELECT lang, w, unnest(generate_series(1, len(w)-2)) AS i FROM t),
         |g AS (SELECT lang, array_to_string(w[i:i+2], ' ') AS shingle FROM i)
         |SELECT lang,
         |       COUNT(DISTINCT shingle) AS distinct_shingles,
         |       CAST(COUNT(*) AS BIGINT) AS total_shingles
         |FROM g GROUP BY 1
         |ORDER BY lang ASC""".stripMargin,
    // q135: the bloom is a shuffle reducer, invisible in the result —
    // the oracle is the plain exact join.
    "q135_bloom_join_revenue" ->
      """SELECT year(o.o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l.l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    // q136: salting is a reducer-spreading device, invisible in the
    // result — the oracle is the plain join.
    "q136_salted_join_brands" ->
      """SELECT p.p_brand,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l.l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    // q137: md5 is the cross-engine pseudo-random rank; shard from the
    // rank's top 32 bits.
    "q137_training_order" ->
      """WITH t AS (
        |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents)
        |SELECT doc_id, ord,
        |       CAST(('0x' || substr(ord, 1, 8))::BIGINT % 4 AS INTEGER) AS shard
        |FROM t ORDER BY shard ASC, ord ASC, doc_id ASC""".stripMargin,
    // q138: DuckDB's nfc_normalize implements the same Unicode NFC as the
    // engine's graft_nfc; the decomposed suffix is built from hex so the
    // SQL stays ASCII. Both engines count string length in code points.
    "q138_nfc_census" ->
      """WITH t AS (
        |  SELECT lang,
        |         substr(text, 1, 40) ||
        |         CASE WHEN doc_id % 3 = 0 THEN decode(from_hex('65CC8161CC8A'))
        |              ELSE 'x' END AS raw
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_changed,
        |       CAST(SUM(length(raw) - length(nfc_normalize(raw)))
        |         AS BIGINT) AS cp_removed
        |FROM t GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    // q144: for ASCII keys, UTF8_LCASE grouping coincides with the
    // lower() spelling — the law CollationSpec pins.
    "q144_collated_census" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
        |           AS lang_mixed
        |  FROM documents)
        |SELECT lower(lang_mixed) AS lang, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT lang_mixed) AS n_spellings,
        |       MIN(doc_id) AS min_doc_id
        |FROM t GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q47_sessions" ->
      (silverCte +
        """, flagged AS (
          |  SELECT user_id, event_id, ts,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
          |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
          |         ELSE 0 END AS new_session
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          |numbered AS (
          |  SELECT user_id, ts,
          |    CAST(SUM(new_session) OVER (
          |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
          |  FROM flagged)
          |SELECT user_id, session_no,
          |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
          |       COUNT(*) AS n_events
          |FROM numbered GROUP BY 1, 2 ORDER BY user_id ASC, session_no ASC""".stripMargin),
    "q48_knn_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid FROM v GROUP BY 1),
        |sv AS (
        |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
        |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
        |ranks AS (
        |  SELECT nn.vec_id, sv.slabel,
        |         row_number() OVER (
        |           PARTITION BY nn.vec_id
        |           ORDER BY list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) DESC,
        |                    sv.slabel ASC) AS rn
        |  FROM n nn, sv),
        |assigned AS (SELECT vec_id, slabel FROM ranks WHERE rn = 1),
        |probeset AS (
        |  SELECT vec_id AS query_id, slabel FROM ranks
        |  WHERE rn <= 2 AND vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |  FROM probeset p JOIN assigned a ON a.slabel = p.slabel
        |  WHERE a.vec_id <> p.query_id),
        |cos AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
        |  FROM cand c
        |  JOIN n qv ON qv.vec_id = c.query_id
        |  JOIN n nv ON nv.vec_id = c.neighbor_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
        |  FROM cos)
        |SELECT query_id, "rank", neighbor_id, cos FROM r
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "q49_orders_cube" ->
      """SELECT year(o_orderdate) AS o_year, o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |GROUP BY CUBE (o_year, o_orderpriority)
        |ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    // q143: quantile_cont ≡ Spark percentile — exact lerp because
    // l_quantity is integral (see TemporalOps.percentileCont).
    "q143_percentile_cont" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q50_value_quantiles" ->
      (silverCte +
        """, ranked AS (
          |  SELECT event_type, event_id, value,
          |    row_number() OVER (
          |      PARTITION BY event_type ORDER BY value ASC NULLS LAST, event_id ASC) AS rn,
          |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |  FROM silver),
          |medians AS (
          |  SELECT event_type, value AS median_value
          |  FROM ranked WHERE rn = (cnt + 1) // 2),
          |stats AS (
          |  SELECT event_type, COUNT(*) AS n,
          |         MIN(value) AS min_value, MAX(value) AS max_value
          |  FROM silver GROUP BY 1)
          |SELECT s.event_type, s.n, s.min_value, m.median_value, s.max_value
          |FROM stats s JOIN medians m ON s.event_type = m.event_type
          |ORDER BY s.event_type ASC""".stripMargin),
    "q51_embedding_neardups" -> embedDedupOracle,
    "q52_train_split" ->
      """WITH s AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY 1, 2 ORDER BY split ASC, lang ASC""".stripMargin,
    "q53_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id, source,
        |         md5('sample:' || CAST(doc_id AS VARCHAR)) AS hkey
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, source,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang ORDER BY hkey ASC, doc_id ASC) AS INTEGER) AS rk
        |  FROM h)
        |SELECT lang, rk, doc_id, source FROM r
        |WHERE rk <= 10 ORDER BY lang ASC, rk ASC""".stripMargin,
    "q54_source_mixture" ->
      """WITH k AS (
        |  SELECT source,
        |    CASE WHEN CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000
        |              < CAST((CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 1.0 ELSE 0.25 END) * 10000 AS BIGINT)
        |         THEN 1 ELSE 0 END AS kept
        |  FROM documents)
        |SELECT source, COUNT(*) AS docs_in,
        |       CAST(SUM(kept) AS BIGINT) AS docs_kept,
        |       CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE) / COUNT(*) AS kept_rate
        |FROM k GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q55_token_counts" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS norm FROM documents)
         |SELECT doc_id,
         |  CAST(len(str_split(norm, ' ')) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(norm, '[a-z]{1,4}')) AS INTEGER) AS bpe_tokens,
         |  CAST(length(replace(norm, ' ', '')) AS INTEGER) AS n_alpha_chars,
         |  CAST(length(replace(norm, ' ', '')) AS DOUBLE)
         |    / len(regexp_extract_all(norm, '[a-z]{1,4}')) AS chars_per_bpe_token
         |FROM n ORDER BY doc_id""".stripMargin,
    // Deterministic ROUND(x,2): round-half-up in integer hundredths,
    // EMITTED as those int64 hundredths (no decimal type in the gate
    // output — decimal128 diverged in driver hash canonicalization).
    // Mirrors Reports.hourlyActivityRounded.
    "q56_hourly_pct_rounded" ->
      (silverCte +
        """, by_hour AS (
          |  SELECT hour, COUNT(*) AS cnt FROM silver GROUP BY 1),
          |t AS (
          |  SELECT hour, cnt, SUM(cnt) OVER () AS total FROM by_hour)
          |SELECT hour, cnt,
          |       CAST((cnt * 20000 + total) // (2 * total) AS BIGINT)
          |         AS pct_round2_c100
          |FROM t ORDER BY hour ASC""".stripMargin),
    // Salt never appears in the output: each distinct (type, user) pair is
    // counted exactly once, so the oracle is the plain distinct count.
    "q57_salted_distinct" ->
      (silverCte +
        """
          |SELECT event_type, COUNT(DISTINCT user_id) AS unique_users
          |FROM silver GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // Same 31-base polynomial the rolling update computes, evaluated
    // positionally per window; all int64, no modulus, so values are
    // bit-identical. ASCII-filtered on both sides (byte == codepoint).
    "q58_rolling_fingerprint" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |         regexp_replace($duckNorm, '[^ -~]', '', 'g') AS s
         |  FROM documents),
         |w AS (
         |  SELECT doc_id,
         |         list_transform(range(1, len(s) - 6), i ->
         |           CAST(ascii(substr(s, i,     1)) AS BIGINT) * 27512614111 +
         |           CAST(ascii(substr(s, i + 1, 1)) AS BIGINT) * 887503681 +
         |           CAST(ascii(substr(s, i + 2, 1)) AS BIGINT) * 28629151 +
         |           CAST(ascii(substr(s, i + 3, 1)) AS BIGINT) * 923521 +
         |           CAST(ascii(substr(s, i + 4, 1)) AS BIGINT) * 29791 +
         |           CAST(ascii(substr(s, i + 5, 1)) AS BIGINT) * 961 +
         |           CAST(ascii(substr(s, i + 6, 1)) AS BIGINT) * 31 +
         |           CAST(ascii(substr(s, i + 7, 1)) AS BIGINT)) AS rh
         |  FROM n)
         |SELECT doc_id, CAST(len(rh) AS INTEGER) AS n_windows,
         |       list_aggregate(rh, 'min') AS min_rh,
         |       list_aggregate(rh, 'max') AS max_rh
         |FROM w ORDER BY doc_id""".stripMargin,
    // Winnow (k=10, w=8): min of every 8 consecutive rolling hashes,
    // deduped per doc, fingerprints in >16 docs dropped (stop
    // fingerprints); candidate pairs share >= 8 surviving fingerprints.
    // Same polynomial family as q58, extended to 10 bytes.
    "q59_winnow_dups" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |         regexp_replace($duckNorm, '[^ -~]', '', 'g') AS s
         |  FROM documents),
         |w AS (
         |  SELECT doc_id,
         |         list_transform(range(1, len(s) - 8), i ->
         |           CAST(ascii(substr(s, i,     1)) AS BIGINT) * 26439622160671 +
         |           CAST(ascii(substr(s, i + 1, 1)) AS BIGINT) * 852891037441 +
         |           CAST(ascii(substr(s, i + 2, 1)) AS BIGINT) * 27512614111 +
         |           CAST(ascii(substr(s, i + 3, 1)) AS BIGINT) * 887503681 +
         |           CAST(ascii(substr(s, i + 4, 1)) AS BIGINT) * 28629151 +
         |           CAST(ascii(substr(s, i + 5, 1)) AS BIGINT) * 923521 +
         |           CAST(ascii(substr(s, i + 6, 1)) AS BIGINT) * 29791 +
         |           CAST(ascii(substr(s, i + 7, 1)) AS BIGINT) * 961 +
         |           CAST(ascii(substr(s, i + 8, 1)) AS BIGINT) * 31 +
         |           CAST(ascii(substr(s, i + 9, 1)) AS BIGINT)) AS rh
         |  FROM n),
         |f AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(rh) - 6), i ->
         |           list_aggregate(rh[i:i+7], 'min'))) AS fp
         |  FROM w WHERE len(rh) >= 8),
         |fd AS MATERIALIZED (
         |  SELECT doc_id, fp FROM f
         |  QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 16)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
         |FROM fd a JOIN fd b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Transitive closure of the q27 pair graph via recursive CTE; each
    // node labeled with its component's min doc_id — the oracle for the
    // engine's hash-to-min label propagation.
    "q60_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")}
         |SELECT cluster_id, doc_id, doc_id = cluster_id AS is_canonical
         |FROM lab ORDER BY cluster_id ASC, doc_id ASC""".stripMargin,
    // q78: q60's closure joined back onto the corpus as keep verdicts.
    "q78_dedup_keep_list" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")}
         |SELECT d.doc_id,
         |       COALESCE(l.doc_id = l.cluster_id, TRUE) AS kept,
         |       l.cluster_id
         |FROM documents d LEFT JOIN lab l USING (doc_id)
         |ORDER BY d.doc_id ASC""".stripMargin,
    // TF-IDF reshaped to exact integers: score = cnt*N*10^6 div (len*df)
    // (ln of a double is not portable; integer div is).
    "q61_distinctive_terms" ->
      s"""WITH nd AS (SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT doc_id, unnest(w) AS term FROM nd),
         |tc AS (SELECT doc_id, term, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS len FROM words GROUP BY 1),
         |tdf AS (SELECT term, COUNT(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT COUNT(*) AS ndocs FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.term, t.cnt, f.df,
         |         (t.cnt * n.ndocs * 1000000) // (l.len * f.df) AS score
         |  FROM tc t JOIN dl l USING (doc_id) JOIN tdf f USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, cnt, df, score,
         |         CAST(row_number() OVER (
         |           PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT doc_id, term, cnt, df, score, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY doc_id ASC, rnk ASC""".stripMargin,
    // Repetition ppm signals are integer div; SUMs cast back to BIGINT
    // (DuckDB widens SUM to HUGEINT, Spark keeps LongType).
    "q62_repetition_signals" ->
      s"""WITH nd AS (SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT doc_id, unnest(w) AS wd FROM nd),
         |ws AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |         COUNT(*) AS n_distinct_words
         |  FROM (SELECT doc_id, wd, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
         |  GROUP BY 1),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
         |           array_to_string(w[i:i+1], ' '))) AS b
         |  FROM nd WHERE len(w) >= 2),
         |bs AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |         MAX(cnt) AS top_bigram_cnt
         |  FROM (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT w.doc_id, w.n_words, w.n_distinct_words,
         |       ((w.n_words - w.n_distinct_words) * 1000000) // w.n_words AS dup_word_ppm,
         |       (b.top_bigram_cnt * 1000000) // b.n_bigrams AS top_bigram_ppm,
         |       (((w.n_words - w.n_distinct_words) * 1000000) // w.n_words <= 600000
         |        AND (b.top_bigram_cnt * 1000000) // b.n_bigrams <= 180000) AS keep
         |FROM ws w JOIN bs b USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    // Sliding windows: each event belongs to exactly 4 hour-wide windows
    // at 15-min slide; enumerate them as 900*(esec//900 - k), k=0..3.
    "q63_sliding_windows" ->
      (silverCte +
        """, wins AS (
          |  SELECT s.user_id, s.event_type,
          |         900 * ((epoch_ns(s.ts) // 1000000000) // 900 - k.k) AS win_start
          |  FROM silver s CROSS JOIN (VALUES (0), (1), (2), (3)) k(k))
          |SELECT win_start, event_type, COUNT(*) AS n_events,
          |       COUNT(DISTINCT user_id) AS n_users
          |FROM wins GROUP BY 1, 2
          |ORDER BY win_start ASC, event_type ASC""".stripMargin),
    "q68_daily_reconciled" ->
      (silverCte +
        """, ed AS (
          |  SELECT event_date AS d, COUNT(*) AS event_cnt FROM silver GROUP BY 1),
          |od AS (
          |  SELECT o_orderdate AS d, COUNT(*) AS order_cnt FROM orders GROUP BY 1)
          |SELECT COALESCE(ed.d, od.d) AS d,
          |       COALESCE(ed.event_cnt, 0) AS event_cnt,
          |       COALESCE(od.order_cnt, 0) AS order_cnt,
          |       (ed.d IS NOT NULL AND od.d IS NOT NULL) AS both_sides
          |FROM ed FULL OUTER JOIN od ON ed.d = od.d
          |ORDER BY d ASC""".stripMargin),
    // q69: same eval carve-out (doc_id % 97), same 5-gram construction.
    "q69_decontamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($duckNorm, ' ') AS w FROM documents),
         |grams AS (
         |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
         |  FROM toks, unnest(range(1, len(w) - 3)) AS t(i)
         |  WHERE len(w) >= 5),
         |eval_grams AS (
         |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
         |train AS (
         |  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 97 <> 0)
         |SELECT t.doc_id,
         |       COUNT(e.gram) AS overlap_5grams,
         |       COUNT(e.gram) >= 3 AS contaminated
         |FROM train t LEFT JOIN eval_grams e USING (gram)
         |GROUP BY t.doc_id ORDER BY t.doc_id ASC""".stripMargin,
    // q70: identical RE2-compatible digit-run pattern on both engines.
    "q70_pii_scrub_audit" ->
      """WITH red AS (
        |  SELECT event_type,
        |         regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
        |         len(regexp_extract_all(props, '[0-9]+')) AS n_redactions
        |  FROM events)
        |SELECT event_type, COUNT(*) AS events,
        |       CAST(SUM(n_redactions) AS BIGINT) AS total_redactions,
        |       COUNT(DISTINCT props_redacted) AS distinct_shapes
        |FROM red GROUP BY 1 ORDER BY event_type ASC""".stripMargin,
    // q71: 2-gram document frequency ≥ 5% of docs ⇒ boilerplate.
    "q71_boilerplate_census" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($duckNorm, ' ') AS w FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS gram
         |  FROM toks, unnest(range(1, len(w) - 0)) AS t(i)
         |  WHERE len(w) >= 2),
         |df AS (SELECT gram, COUNT(*) AS nd FROM grams GROUP BY 1),
         |flagged AS (
         |  SELECT gram FROM df
         |  WHERE nd * 20 >= (SELECT COUNT(*) FROM documents))
         |SELECT g.doc_id,
         |       COUNT(*) AS distinct_2grams,
         |       COUNT(f.gram) AS boilerplate_2grams,
         |       CAST(COUNT(f.gram) AS DOUBLE) / COUNT(*) AS boilerplate_ratio,
         |       CAST(COUNT(f.gram) AS DOUBLE) / COUNT(*) > 0.5 AS boilerplate_heavy
         |FROM grams g LEFT JOIN flagged f USING (gram)
         |GROUP BY g.doc_id ORDER BY g.doc_id ASC""".stripMargin,
    // q72: gaps-and-islands SCD2 — identical run numbering and tiebreak.
    "q72_status_history" ->
      """WITH runs AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |                OR lag(o_orderstatus) OVER w <> o_orderstatus
        |              THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |grouped AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM runs),
        |islands AS (
        |  SELECT o_custkey, grp, o_orderstatus,
        |         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
        |  FROM grouped GROUP BY 1, 2, 3)
        |SELECT o_custkey, o_orderstatus, valid_from,
        |       lead(valid_from) OVER w2 AS valid_to,
        |       lead(valid_from) OVER w2 IS NULL AS is_current,
        |       n_orders
        |FROM islands
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY grp ASC)
        |ORDER BY o_custkey ASC, valid_from ASC""".stripMargin,
    // q73: same seed quantizer as q48; purity in exact basis points,
    // min/max cosine are order-independent doubles.
    "q73_cluster_profile" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid FROM v GROUP BY 1),
        |sv AS (
        |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
        |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
        |ranks AS (
        |  SELECT nn.vec_id, nn.label, sv.slabel,
        |         list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) AS cos,
        |         row_number() OVER (
        |           PARTITION BY nn.vec_id
        |           ORDER BY list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) DESC,
        |                    sv.slabel ASC) AS rn
        |  FROM n nn, sv)
        |SELECT slabel, COUNT(*) AS n_vectors,
        |       CAST(SUM(CASE WHEN label = slabel THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_same_label,
        |       CAST(SUM(CASE WHEN label = slabel THEN 1 ELSE 0 END) * 10000
        |         // COUNT(*) AS BIGINT) AS purity_bps,
        |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
        |FROM ranks WHERE rn = 1
        |GROUP BY slabel ORDER BY slabel ASC""".stripMargin,
    // q74: exact integer ppm arithmetic on both engines.
    "q74_key_skew_census" ->
      """WITH counts AS (
        |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |totals AS (
        |  SELECT SUM(cnt) AS total_rows, COUNT(*) AS n_keys FROM counts),
        |topk AS (
        |  SELECT user_id, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rank
        |  FROM counts ORDER BY cnt DESC, user_id ASC LIMIT 10)
        |SELECT t.rank, t.user_id, t.cnt,
        |       CAST(t.cnt * 1000000 // tt.total_rows AS BIGINT) AS share_ppm,
        |       CAST(t.cnt * tt.n_keys * 1000000 // tt.total_rows AS BIGINT)
        |         AS x_uniform_ppm
        |FROM topk t, totals tt
        |ORDER BY t.rank ASC""".stripMargin,
    // q75: floor(sqrt) weights are engine-exact (IEEE sqrt + floor);
    // everything after is integer div, same keep-hash family as q54.
    "q75_temperature_mixture" ->
      """WITH counts AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |w AS (SELECT SUM(weight) AS w_total FROM counts),
        |c AS (
        |  SELECT MIN(n_docs * w.w_total // weight) AS c_scale
        |  FROM counts, w),
        |rates AS (
        |  SELECT source, n_docs, weight,
        |         CAST(LEAST(1000000, ((weight * c.c_scale) // w.w_total)
        |                        * 1000000 // n_docs) AS BIGINT) AS keep_ppm
        |  FROM counts, w, c),
        |kept AS (
        |  SELECT d.source, r.n_docs, r.weight, r.keep_ppm,
        |         CASE WHEN CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |                   < r.keep_ppm THEN 1 ELSE 0 END AS k
        |  FROM documents d JOIN rates r USING (source))
        |SELECT source, n_docs, weight, keep_ppm,
        |       CAST(SUM(k) AS BIGINT) AS n_kept,
        |       CAST(SUM(k) AS BIGINT) * 1000000 // n_docs AS realized_ppm
        |FROM kept GROUP BY source, n_docs, weight, keep_ppm
        |ORDER BY source ASC""".stripMargin,
    // q67: sketch estimates are engine-specific; exact weekly distincts +
    // literal TRUEs, same contract as q38/q64.
    "q67_weekly_distinct_sketch" ->
      (silverCte +
        """
          |SELECT event_type,
          |       strftime(date_trunc('week', event_date), '%Y-%m-%d') AS week,
          |       COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok
          |FROM silver GROUP BY 1, 2
          |ORDER BY event_type ASC, week ASC""".stripMargin),
    // q64: sketch values are engine-specific; the query reduces them to
    // rank-guarantee booleans, the oracle asserts literal TRUEs (same
    // contract as q38).
    "q64_quantiles_approx" ->
      (silverCte +
        """
          |SELECT event_type, COUNT(value) AS n,
          |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
          |FROM silver WHERE value IS NOT NULL
          |GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // CDC chunking: cut after any 8-byte window whose q58-polynomial hash
    // is ≡ 0 mod 64; census of chunks recurring across documents.
    "q65_chunk_dedup" ->
      s"""WITH $cdcChunksOracle
         |SELECT md5(chunk) AS chunk_hash,
         |       CAST(MIN(len(chunk)) AS INTEGER) AS chunk_len,
         |       COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
         |FROM chunks WHERE chunk <> ''
         |GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY chunk_hash ASC""".stripMargin,
    // The composed pipeline: q32 quality ∧ q62 repetition ∧ q26
    // canonicality, with the q52 split stamped on every doc.
    "q66_curation_verdicts" ->
      s"""WITH nq AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |tq AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM nq),
         |qual AS (
         |  SELECT doc_id,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0
         |             AS INTEGER) AS quality
         |  FROM tq),
         |words AS (SELECT doc_id, unnest(w) AS wd FROM tq),
         |ws AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |         COUNT(*) AS n_distinct_words
         |  FROM (SELECT doc_id, wd, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
         |  GROUP BY 1),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
         |           array_to_string(w[i:i+1], ' '))) AS b
         |  FROM tq WHERE len(w) >= 2),
         |bs AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |         MAX(cnt) AS top_bigram_cnt
         |  FROM (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
         |  GROUP BY 1),
         |rep AS (
         |  SELECT w.doc_id,
         |         (((w.n_words - w.n_distinct_words) * 1000000) // w.n_words <= 600000
         |          AND (b.top_bigram_cnt * 1000000) // b.n_bigrams <= 180000)
         |           AS keep_repetition
         |  FROM ws w JOIN bs b USING (doc_id)),
         |ded AS (
         |  SELECT doc_id,
         |         doc_id <> MIN(doc_id) OVER (PARTITION BY md5(norm)) AS is_duplicate
         |  FROM nq),
         |spl AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT q.doc_id, q.quality, r.keep_repetition, d.is_duplicate,
         |       (q.quality = 3 AND r.keep_repetition AND NOT d.is_duplicate) AS kept,
         |       s.split
         |FROM qual q JOIN rep r USING (doc_id) JOIN ded d USING (doc_id)
         |JOIN spl s USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    // q146: same (ts, event_id) total order for the lead(); positive
    // integer ppm via floor-div — bit-identical to Spark's `div`.
    "q146_event_transitions" ->
      (silverCte +
        """, pairs AS (
          |  SELECT event_type AS prev_type,
          |         lead(event_type) OVER (
          |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
          |  FROM silver),
          |t AS (
          |  SELECT prev_type, next_type, COUNT(*) AS transitions
          |  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
          |SELECT prev_type, next_type, transitions,
          |       CAST(SUM(transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
          |       CAST(transitions * 1000000
          |         // SUM(transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_ppm
          |FROM t ORDER BY prev_type ASC, next_type ASC""".stripMargin),
    // q147: spike flag is the cross-multiplied comparison — no division,
    // so negative deltas cannot hit floor-vs-truncate divergence.
    "q147_daily_spikes" ->
      (silverCte +
        """, daily AS (
          |  SELECT event_date, COUNT(*) AS cnt FROM silver GROUP BY 1),
          |lagged AS (
          |  SELECT event_date, cnt,
          |         lag(cnt) OVER (ORDER BY event_date ASC) AS prev_cnt
          |  FROM daily)
          |SELECT event_date, cnt, prev_cnt, cnt - prev_cnt AS delta,
          |       abs(cnt - prev_cnt) * 2 >= prev_cnt AS spike
          |FROM lagged WHERE prev_cnt IS NOT NULL
          |ORDER BY event_date ASC""".stripMargin),
    // q148: sufficient statistics and closed-form numerators are all
    // exact BIGINT arithmetic — no division anywhere in the output.
    "q148_trend_stats" ->
      (silverCte +
        """, daily AS (
          |  SELECT event_type,
          |         CAST(date_diff('day', DATE '1970-01-01', event_date) AS BIGINT) AS x,
          |         CAST(COUNT(*) AS BIGINT) AS y
          |  FROM silver GROUP BY event_type, event_date),
          |s AS (
          |  SELECT event_type, COUNT(*) AS n_days,
          |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          |         CAST(SUM(x * y) AS BIGINT) AS sxy,
          |         CAST(SUM(x * x) AS BIGINT) AS sxx
          |  FROM daily GROUP BY 1)
          |SELECT event_type, n_days,
          |       n_days * sxy - sx * sy AS slope_num,
          |       sy * sxx - sx * sxy AS icept_num,
          |       n_days * sxx - sx * sx AS slope_den
          |FROM s ORDER BY event_type ASC""".stripMargin),
    // q149: the XML trip is gated by q12's oracle — any type or value
    // loss through element-text serialization breaks the hash.
    "q149_xml_roundtrip" ->
      (silverCte +
        """
          |SELECT user_id, event_date, COUNT(*) AS listen_count,
          |       COUNT(DISTINCT event_type) AS unique_types
          |FROM silver GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin),
    // q150: starts via unnest(generate_series(0, n-1, stride)); DuckDB
    // 1-based inclusive list slicing w[a:b] ≡ Spark slice(w, a, len).
    "q150_doc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS toks FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |         unnest(generate_series(0, len(toks) - 1, 48)) AS chunk_start
         |  FROM t),
         |c AS (
         |  SELECT doc_id, chunk_start,
         |         toks[chunk_start + 1 : chunk_start + 64] AS chunk
         |  FROM st)
         |SELECT doc_id, CAST(chunk_start AS INTEGER) AS chunk_start,
         |       CAST(len(chunk) AS INTEGER) AS chunk_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id ASC, chunk_start ASC""".stripMargin,
    // q151: first-seen is MIN(doc_id) per word type — deterministic in
    // ingestion order; all counts/sums are exact BIGINTs.
    "q151_vocab_growth" ->
      s"""WITH n AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT doc_id, unnest(w) AS word FROM n),
         |fs AS (SELECT word, MIN(doc_id) AS first_doc FROM words GROUP BY 1),
         |b AS (
         |  SELECT first_doc // 500 AS bucket, COUNT(*) AS new_words
         |  FROM fs GROUP BY 1)
         |SELECT bucket, new_words,
         |       CAST(SUM(new_words) OVER (
         |         ORDER BY bucket ASC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS vocab_size
         |FROM b ORDER BY bucket ASC""".stripMargin,
    // q152: the kept multiset depends only on the sorted value order, so
    // no tiebreak is needed; kept_sum is an exact BIGINT and the milli
    // mean is floor division on non-negative operands (≡ Spark div).
    "q152_trimmed_means" ->
      """WITH v AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, q,
        |         row_number() OVER (
        |           PARTITION BY l_returnflag ORDER BY q ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM v),
        |kept AS (
        |  SELECT l_returnflag, q, n FROM r
        |  WHERE rn > n * 5 // 100 AND rn <= n - n * 5 // 100)
        |SELECT l_returnflag, MAX(n) AS n_total, COUNT(*) AS n_kept,
        |       CAST(SUM(q) AS BIGINT) AS kept_sum,
        |       CAST(SUM(q) * 1000 // COUNT(*) AS BIGINT) AS trimmed_mean_milli
        |FROM kept GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    // q153: canonical profile serialization sorts the combined
    // "type:count" strings (binary order in both engines), so the md5
    // fingerprints agree byte-for-byte.
    "q153_kanonymity" ->
      (silverCte +
        """, pt AS (
          |  SELECT user_id,
          |         event_type || ':' || CAST(COUNT(*) AS VARCHAR) AS s
          |  FROM silver GROUP BY user_id, event_type),
          |pr AS (
          |  SELECT user_id, md5(string_agg(s, '|' ORDER BY s ASC)) AS profile
          |  FROM pt GROUP BY user_id),
          |kk AS (SELECT profile, COUNT(*) AS k FROM pr GROUP BY 1)
          |SELECT k, COUNT(*) AS n_profiles,
          |       CAST(k * COUNT(*) AS BIGINT) AS n_users
          |FROM kk GROUP BY k ORDER BY k ASC""".stripMargin),
    // q154: pad_len = 1 << length(bin(n-1)) — identical integer bit
    // arithmetic in both engines; no float log2 at power-of-two cells.
    "q154_length_buckets" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |         CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
         |              ELSE (CAST(1 AS BIGINT)
         |                    << CAST(length(bin(n_tokens - 1)) AS INTEGER))
         |         END AS pad_len
         |  FROM t),
         |g AS (
         |  SELECT pad_len, COUNT(*) AS n_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |  FROM p GROUP BY 1)
         |SELECT pad_len, n_docs, total_tokens,
         |       pad_len * n_docs AS padded_tokens,
         |       (pad_len * n_docs - total_tokens) * 1000000
         |         // (pad_len * n_docs) AS waste_ppm
         |FROM g ORDER BY pad_len ASC""".stripMargin,
    // q155: the q107 recursive walk, additionally partitioned by the
    // per-source rank group ((rank-1) // 100) — the recursion is 100
    // deep regardless of corpus size, mirroring the bounded sequential
    // chain that makes the Spark side scale. rn within a group is pure
    // modular arithmetic on the source rank (no nested window), and the
    // flattened chunk id uses the same stride-100 layout.
    "q155_grouped_packing" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT source, doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn_all
         |  FROM documents),
         |g AS (
         |  SELECT source, doc_id, n_tokens,
         |         CAST((rn_all - 1) // 100 AS BIGINT) AS grp,
         |         CAST((rn_all - 1) % 100 + 1 AS BIGINT) AS rn
         |  FROM toks),
         |walk AS (
         |  SELECT source, grp, doc_id, n_tokens, rn,
         |         CAST(0 AS BIGINT) AS chunk_local, n_tokens AS fill
         |  FROM g WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.grp, t.doc_id, t.n_tokens, t.rn,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN w.chunk_local + 1 ELSE w.chunk_local END,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN t.n_tokens ELSE w.fill + t.n_tokens END
         |  FROM g t JOIN walk w
         |    ON t.source = w.source AND t.grp = w.grp AND t.rn = w.rn + 1)
         |SELECT source, CAST(grp * 100 + chunk_local AS BIGINT) AS chunk_id,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |       CAST(GREATEST(0, 512 - SUM(n_tokens)) AS BIGINT) AS padding
         |FROM walk GROUP BY 1, 2
         |ORDER BY source ASC, chunk_id ASC""".stripMargin,
    // q156: q73's seed quantizer assignment joined with q32's integer
    // quality score; per-cell top-k on the exact integer triple
    // (quality desc, n_tokens desc, doc_id asc) — no doubles survive
    // into the output.
    "q156_cluster_sample" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid FROM v GROUP BY 1),
         |sv AS (
         |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
         |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
         |ranks AS (
         |  SELECT nn.vec_id, sv.slabel,
         |         row_number() OVER (
         |           PARTITION BY nn.vec_id
         |           ORDER BY list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) DESC,
         |                    sv.slabel ASC) AS rn
         |  FROM n nn, sv),
         |assigned AS (SELECT vec_id, slabel FROM ranks WHERE rn = 1),
         |nd AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM nd),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS INTEGER) AS n_tokens,
         |    CAST(len(list_filter(w, x -> x IN ($duckStops))) AS INTEGER) AS stop_cnt,
         |    CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) AS mean_token_len
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(n_tokens >= 20 AND n_tokens <= 1000 AS INTEGER)
         |      + CAST(stop_cnt > 0 AS INTEGER)
         |      + CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INTEGER)
         |      AS quality
         |  FROM f),
         |rk AS (
         |  SELECT a.slabel,
         |         CAST(row_number() OVER (
         |           PARTITION BY a.slabel
         |           ORDER BY q.quality DESC, q.n_tokens DESC, q.doc_id ASC)
         |         AS INTEGER) AS rk,
         |         q.doc_id, q.quality, q.n_tokens
         |  FROM assigned a JOIN q ON q.doc_id = a.vec_id)
         |SELECT slabel, rk, doc_id, quality, n_tokens
         |FROM rk WHERE rk <= 5
         |ORDER BY slabel ASC, rk ASC""".stripMargin,
    // q157: same 3-word shingles as the minhash family; candidates from
    // shared shingles with df in [2, 64], gated at >= 8 shared rare
    // shingles (support gate mirrors TextDedup.ContainMinShared); exact
    // intersection count via a shingle-keyed join; direction = smaller
    // set (tie → lower id). All COUNT-derived BIGINTs — no HUGEINT.
    "q157_containment_dups" ->
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
         |  FROM nd WHERE len(w) >= 3),
         |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |rare AS (
         |  SELECT shingle FROM (
         |    SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
         |  WHERE df BETWEEN 2 AND ${TextDedup.ContainDfCap}),
         |rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM rsh a JOIN rsh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${TextDedup.ContainMinShared}),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |d AS (
         |  SELECT it.doc_a, it.doc_b, it.shared, sa.n AS na, sb.n AS nb
         |  FROM inter it
         |  JOIN sizes sa ON sa.doc_id = it.doc_a
         |  JOIN sizes sb ON sb.doc_id = it.doc_b)
         |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_id,
         |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS container_id,
         |       CAST(LEAST(na, nb) AS BIGINT) AS n_contained,
         |       CAST(GREATEST(na, nb) AS BIGINT) AS n_container,
         |       CAST(shared AS BIGINT) AS shared,
         |       CAST(shared * 1000000 // LEAST(na, nb) AS BIGINT)
         |         AS containment_ppm
         |FROM d
         |WHERE shared * 1000000 // LEAST(na, nb) >= 800000
         |ORDER BY contained_id ASC, container_id ASC""".stripMargin,
    "q158_split_leakage" -> splitLeakageOracle,
    // q159: q78's recursive closure, split keyed by COALESCE(cluster_id,
    // doc_id); the straddle count is DERIVED zero on both sides (each
    // engine runs its own clustering + split), not a literal.
    "q159_cluster_split" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |keyed AS (
         |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS ckey
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |s AS (
         |  SELECT doc_id, ckey,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(ckey AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(ckey AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM keyed),
         |crossed AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
         |         AS BIGINT) AS clusters_split_across
         |  FROM (SELECT ckey, COUNT(DISTINCT split) AS ns FROM s GROUP BY 1))
         |SELECT split, COUNT(*) AS n_docs,
         |       COUNT(DISTINCT ckey) AS n_clusters, clusters_split_across
         |FROM s CROSS JOIN crossed
         |GROUP BY split, clusters_split_across
         |ORDER BY split ASC""".stripMargin,
    // q160: per-doc duplication coverage over the q65 CDC chunks — chars
    // in cross-doc-shared chunks as exact integer ppm of the doc's chars.
    "q160_dup_coverage" ->
      s"""WITH $cdcChunksOracle,
         |ch AS MATERIALIZED (
         |  SELECT doc_id, md5(chunk) AS h, len(chunk) AS l
         |  FROM chunks WHERE chunk <> ''),
         |shared AS (
         |  SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
         |per AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |         CAST(SUM(l) AS BIGINT) AS n_chars
         |  FROM ch GROUP BY 1),
         |dup AS (
         |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS dup_chunks,
         |         CAST(SUM(c.l) AS BIGINT) AS dup_chars
         |  FROM ch c JOIN shared s ON s.h = c.h GROUP BY 1)
         |SELECT p.doc_id, p.n_chunks, d.dup_chunks, p.n_chars, d.dup_chars,
         |       CAST((d.dup_chars * 1000000) // p.n_chars AS BIGINT) AS dup_char_ppm
         |FROM per p JOIN dup d ON d.doc_id = p.doc_id
         |ORDER BY p.doc_id ASC""".stripMargin,
    // q161: recall@5 of each approximate ANN variant vs the exact q34
    // ranking — the q126/q48/q35 CTE chains composed with renamed CTEs,
    // hits counted by joining top-5 sets (bit-identical cos both engines
    // ⇒ identical rankings ⇒ integer-exact recall).
    "q161_ann_recall" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |eq AS (SELECT vec_id AS query_id, e, nrm FROM n WHERE vec_id < 10),
         |ecos AS (
         |  SELECT q.query_id, x.vec_id AS neighbor_id,
         |         list_dot_product(q.e, x.e) / (q.nrm * x.nrm) AS cos
         |  FROM eq q, n x WHERE x.vec_id <> q.query_id),
         |etop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |    FROM ecos) WHERE rn <= 5),
         |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid FROM v GROUP BY 1),
         |sv AS (
         |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
         |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
         |ranks AS (
         |  SELECT nn.vec_id, sv.slabel,
         |         row_number() OVER (
         |           PARTITION BY nn.vec_id
         |           ORDER BY list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) DESC,
         |                    sv.slabel ASC) AS rn
         |  FROM n nn, sv),
         |assigned AS (SELECT vec_id, slabel FROM ranks WHERE rn = 1),
         |probeset AS (
         |  SELECT vec_id AS query_id, slabel FROM ranks
         |  WHERE rn <= 2 AND vec_id < 10),
         |icand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probeset p JOIN assigned a ON a.slabel = p.slabel
         |  WHERE a.vec_id <> p.query_id),
         |icos AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
         |  FROM icand c
         |  JOIN n qv ON qv.vec_id = c.query_id
         |  JOIN n nv ON nv.vec_id = c.neighbor_id),
         |itop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |    FROM icos) WHERE rn <= 5),
         |planes AS (SELECT vec_id AS plane_id, e AS pv FROM v WHERE vec_id < 16),
         |bits AS (
         |  SELECT v.vec_id,
         |         CASE WHEN list_dot_product(e, pv) > 0
         |              THEN (CAST(1 AS BIGINT) << CAST(plane_id AS INTEGER))
         |              ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM v, planes),
         |sigs AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sig FROM bits GROUP BY 1),
         |bands AS (
         |  SELECT vec_id, c.c AS band, (sig >> (c.c * 4)) & 15 AS bval
         |  FROM sigs, (VALUES (0), (1), (2), (3)) c(c)),
         |lcand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands q JOIN bands b ON q.band = b.band AND q.bval = b.bval
         |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |lcos AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
         |  FROM lcand c
         |  JOIN n qv ON qv.vec_id = c.query_id
         |  JOIN n nv ON nv.vec_id = c.neighbor_id),
         |ltop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |    FROM lcos) WHERE rn <= 5),
         |s8 AS (
         |  SELECT vec_id, e,
         |         greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) AS scale
         |  FROM v),
         |qt AS (
         |  SELECT vec_id,
         |         list_transform(e, x -> CAST(CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT) AS DOUBLE)) AS q
         |  FROM s8),
         |n8 AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qt),
         |q8 AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM n8 WHERE vec_id < 10),
         |q8cos AS (
         |  SELECT q8.query_id, n8.vec_id AS neighbor_id,
         |         list_dot_product(q8.qq, n8.q) / (q8.qn * n8.nrm) AS qc
         |  FROM q8, n8 WHERE n8.vec_id <> q8.query_id),
         |qtop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY qc DESC, neighbor_id ASC) AS rn
         |    FROM q8cos) WHERE rn <= 5),
         |pqt AS (
         |  SELECT vec_id,
         |         list_transform(e, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS qi
         |  FROM s8),
         |psub AS (
         |  SELECT vec_id, j AS sub_m,
         |         qi[j * (len(qi) // 8) + 1 : (j + 1) * (len(qi) // 8)] AS sv
         |  FROM pqt CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js),
         |pcb AS (SELECT sub_m, vec_id AS code_id, sv AS cw
         |        FROM psub WHERE vec_id < 16),
         |pencd AS (
         |  SELECT s.vec_id, s.sub_m, c.code_id,
         |         CAST(list_dot_product(CAST(s.sv AS DOUBLE[]), CAST(s.sv AS DOUBLE[]))
         |            + list_dot_product(CAST(c.cw AS DOUBLE[]), CAST(c.cw AS DOUBLE[]))
         |            - 2 * list_dot_product(CAST(s.sv AS DOUBLE[]), CAST(c.cw AS DOUBLE[]))
         |           AS BIGINT) AS d
         |  FROM psub s JOIN pcb c USING (sub_m)),
         |penc AS (
         |  SELECT vec_id, sub_m, code_id AS code FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id, sub_m ORDER BY d ASC, code_id ASC) AS rn
         |    FROM pencd) WHERE rn = 1),
         |plut AS (
         |  SELECT e2.vec_id AS query_id, e2.sub_m, e2.code_id AS code, e2.d
         |  FROM pencd e2 WHERE e2.vec_id < 10),
         |padc AS (
         |  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc
         |  FROM penc e JOIN plut l ON l.sub_m = e.sub_m AND l.code = e.code
         |  WHERE e.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |ptop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
         |    FROM padc) WHERE rn <= 5),
         |prr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
         |    FROM padc) WHERE rn <= 50),
         |prcos AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
         |  FROM prr c
         |  JOIN n qv ON qv.vec_id = c.query_id
         |  JOIN n nv ON nv.vec_id = c.neighbor_id),
         |prtop AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |    FROM prcos) WHERE rn <= 5),
         |audit AS (
         |  SELECT 'int8' AS method, e.query_id,
         |         CAST(COUNT(*) AS BIGINT) AS k,
         |         CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
         |  FROM etop e LEFT JOIN qtop a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'ivf', e.query_id, CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END), 0) AS BIGINT)
         |  FROM etop e LEFT JOIN itop a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'lsh', e.query_id, CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END), 0) AS BIGINT)
         |  FROM etop e LEFT JOIN ltop a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'pq', e.query_id, CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END), 0) AS BIGINT)
         |  FROM etop e LEFT JOIN ptop a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'pq_rerank', e.query_id, CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END), 0) AS BIGINT)
         |  FROM etop e LEFT JOIN prtop a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2)
         |SELECT method, query_id, k, hits,
         |       CAST((hits * 1000000) // k AS BIGINT) AS recall_ppm
         |FROM audit ORDER BY method ASC, query_id ASC""".stripMargin,
    // q162: SemDeDup census — q51's exact integer-TF cosine verify,
    // restricted to (lang, source) cells, at the 0.9 semantic threshold;
    // per-cell docs / pairs / removed(lower-id survivor rule) / kept.
    "q162_semantic_dedup" ->
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT doc_id, unnest(w) AS word FROM nd),
         |tf AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 64 AS bucket,
         |         COUNT(*) AS cnt
         |  FROM words GROUP BY 1, 2),
         |norms AS (
         |  SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
         |  FROM tf GROUP BY 1),
         |meta AS (
         |  SELECT d.doc_id, d.lang, d.source
         |  FROM documents d JOIN (SELECT DISTINCT doc_id FROM tf) t
         |    USING (doc_id)),
         |tfm AS (
         |  SELECT t.doc_id, t.bucket, t.cnt, m.lang, m.source
         |  FROM tf t JOIN meta m USING (doc_id)),
         |dots AS (
         |  SELECT a.lang, a.source, a.doc_id AS da, b.doc_id AS db,
         |         SUM(a.cnt * b.cnt) AS dt
         |  FROM tfm a
         |  JOIN tfm b ON a.lang = b.lang AND a.source = b.source
         |    AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |pairs AS (
         |  SELECT d.lang, d.source, d.da, d.db
         |  FROM dots d
         |  JOIN norms na ON na.doc_id = d.da
         |  JOIN norms nb ON nb.doc_id = d.db
         |  WHERE CAST(d.dt AS DOUBLE) / (na.nrm * nb.nrm) >= 0.9),
         |pc AS (
         |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM pairs GROUP BY 1, 2),
         |rm AS (
         |  SELECT lang, source, CAST(COUNT(DISTINCT db) AS BIGINT) AS n_removed
         |  FROM pairs GROUP BY 1, 2),
         |base AS (
         |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM meta GROUP BY 1, 2)
         |SELECT base.lang, base.source, base.n_docs,
         |       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(rm.n_removed, 0) AS BIGINT) AS n_removed,
         |       CAST(base.n_docs - COALESCE(rm.n_removed, 0) AS BIGINT) AS n_kept
         |FROM base
         |LEFT JOIN pc USING (lang, source)
         |LEFT JOIN rm USING (lang, source)
         |ORDER BY base.lang ASC, base.source ASC""".stripMargin,
    // q163: the q78 keep rule (recursive dup-cluster closure, canonical =
    // cluster min) aggregated into per-source doc/token budgets.
    "q163_dedup_token_budget" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |keepx AS (
         |  SELECT d.doc_id, d.source,
         |         COALESCE(l.doc_id = l.cluster_id, TRUE) AS kept
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |toks AS (
         |  SELECT doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS ws_tokens
         |  FROM documents)
         |SELECT k.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN k.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(t.ws_tokens) AS BIGINT) AS tokens_total,
         |  CAST(SUM(CASE WHEN k.kept THEN t.ws_tokens ELSE 0 END) AS BIGINT)
         |    AS tokens_kept,
         |  CAST((SUM(t.ws_tokens) - SUM(CASE WHEN k.kept THEN t.ws_tokens ELSE 0 END))
         |    * 1000000 // SUM(t.ws_tokens) AS BIGINT) AS savings_ppm
         |FROM keepx k JOIN toks t USING (doc_id)
         |GROUP BY 1 ORDER BY k.source ASC""".stripMargin,
    // q164: the q27 near-dup pairs labeled with both members' languages,
    // counted per unordered lang pair; off-diagonal = cross-lingual dups.
    "q164_cross_lingual_dups" ->
      s"""WITH pairs AS (
         |$minhashOracle
         |),
         |lp AS (
         |  SELECT LEAST(da.lang, db.lang) AS lang_lo,
         |         GREATEST(da.lang, db.lang) AS lang_hi
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       lang_lo <> lang_hi AS is_cross
         |FROM lp GROUP BY 1, 2 ORDER BY lang_lo ASC, lang_hi ASC""".stripMargin,
    // q165: cluster sizes from the recursive closure (same lab CTE the
    // q78/q159/q60 oracles use), folded into a size histogram.
    "q165_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |sizes AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM lab GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY 1 ORDER BY cluster_size ASC""".stripMargin,
    // q166: paragraph-level dedup census — newline paragraphs, trimmed,
    // hashed; "shared" = the paragraph text occurs in >1 distinct doc.
    "q166_paragraph_dedup" ->
      s"""WITH paras AS (
         |  SELECT doc_id, source,
         |         unnest(str_split(text, chr(10))) AS p
         |  FROM documents),
         |ph AS (
         |  SELECT doc_id, source, md5(trim(p)) AS h, len(trim(p)) AS l
         |  FROM paras WHERE len(trim(p)) > 0),
         |shared AS (
         |  SELECT h FROM ph GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
         |SELECT p.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_paras,
         |  CAST(COUNT(DISTINCT p.h) AS BIGINT) AS n_distinct_paras,
         |  CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_paras,
         |  CAST(SUM(CASE WHEN s.h IS NOT NULL THEN p.l ELSE 0 END)
         |    * 1000000 // SUM(p.l) AS BIGINT) AS dup_char_ppm
         |FROM ph p LEFT JOIN shared s ON s.h = p.h
         |GROUP BY p.source ORDER BY p.source ASC""".stripMargin,
    // q167: identical two-level window formulation on both sides — the
    // NOT EXISTS self-join oracle would be quadratic in DuckDB too.
    "q167_part_skyline" ->
      s"""WITH dp AS (
         |  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
         |         CAST(p_size AS BIGINT) AS psize,
         |         CAST(COUNT(*) AS BIGINT) AS n_parts,
         |         CAST(MIN(p_partkey) AS BIGINT) AS min_partkey
         |  FROM part GROUP BY 1, 2),
         |b AS (SELECT *, price_c // 10000 AS bucket FROM dp),
         |run AS (
         |  SELECT *, MAX(psize) OVER (PARTITION BY bucket
         |      ORDER BY price_c ASC, psize DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
         |  FROM b),
         |pref AS (
         |  SELECT bucket, MAX(bmax) OVER (ORDER BY bucket ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM (SELECT bucket, MAX(psize) AS bmax FROM b GROUP BY 1))
         |SELECT r.price_c, r.psize, r.n_parts, r.min_partkey
         |FROM run r JOIN pref p USING (bucket)
         |WHERE GREATEST(COALESCE(r.run_max, -1), COALESCE(p.prev_max, -1))
         |      < r.psize
         |ORDER BY r.price_c ASC""".stripMargin,
    // q168: unordered type-pair lift over distinct (user, type); all
    // arithmetic integer (ppm), so bit-equal across engines.
    "q168_type_lift" ->
      (silverCte +
        """,
          |ut AS (SELECT DISTINCT user_id, event_type FROM silver),
          |tot AS (
          |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
          |per AS (
          |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
          |pairs AS (
          |  SELECT a.event_type AS type_a, b.event_type AS type_b,
          |         CAST(COUNT(*) AS BIGINT) AS n_both
          |  FROM ut a
          |  JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
          |  GROUP BY 1, 2)
          |SELECT p.type_a, p.type_b, pa.n AS n_a, pb.n AS n_b, p.n_both,
          |       CAST(p.n_both * t.n_users * 1000000 // (pa.n * pb.n) AS BIGINT)
          |         AS lift_ppm
          |FROM pairs p
          |JOIN per pa ON pa.event_type = p.type_a
          |JOIN per pb ON pb.event_type = p.type_b
          |CROSS JOIN tot t
          |ORDER BY p.type_a ASC, p.type_b ASC""".stripMargin),
    // q169: per-source cumulative chars; pick docs whose weight interval
    // crosses a 2000-char stride boundary. Integer arithmetic only.
    "q169_systematic_sample" ->
      """WITH c AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |         CAST(SUM(n_chars) OVER (PARTITION BY source
        |           ORDER BY doc_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM documents)
        |SELECT source, doc_id, n_chars,
        |       CAST((cum - n_chars) // 2000 AS BIGINT) AS pick_idx
        |FROM c WHERE cum // 2000 > (cum - n_chars) // 2000
        |ORDER BY source ASC, doc_id ASC""".stripMargin,
    // q170: corpus-wide first holder per 3-shingle (same shingle CTE as
    // the minhash family), per-doc novel fraction as integer ppm.
    "q170_novelty_curve" ->
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
         |  FROM nd WHERE len(w) >= 3),
         |fst AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
         |FROM sh s JOIN fst f USING (shingle)
         |GROUP BY s.doc_id ORDER BY s.doc_id ASC""".stripMargin,
    // q171: χ² terms with every fraction cleared and the flooring order
    // pinned: ((d² // (r·c)) · 1e6) // N, d = O·N − R·C.
    "q171_chi2_census" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |c AS (SELECT source, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells)
        |SELECT ce.lang, ce.source, ce.n,
        |  CAST(r.r * c.c // t.nn AS BIGINT) AS expected_fl,
        |  CAST((((ce.n * t.nn - r.r * c.c) * (ce.n * t.nn - r.r * c.c))
        |    // (r.r * c.c) * 1000000) // t.nn AS BIGINT) AS chi2_ppm
        |FROM cells ce
        |JOIN r ON r.lang = ce.lang
        |JOIN c ON c.source = ce.source
        |CROSS JOIN t
        |ORDER BY ce.lang ASC, ce.source ASC""".stripMargin,
    // q172: leading digit from the decimal string of exact integer
    // cents — integer→string is exact in both engines.
    "q172_benford_census" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS INTEGER) AS lead_digit
        |  FROM orders),
        |g AS (
        |  SELECT lead_digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d
        |  GROUP BY 1)
        |SELECT lead_digit, n_orders,
        |       CAST(n_orders * 1000000 //
        |            (SELECT SUM(n_orders) FROM g) AS BIGINT) AS share_ppm
        |FROM g ORDER BY lead_digit ASC""".stripMargin,
    // q173: the q159/q165 recursive closure labeled with sources; kept =
    // (doc is its cluster's min id); canonical source looked up via the
    // cluster key.
    "q173_dedup_survivorship" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |keyed AS (
         |  SELECT d.doc_id, d.source,
         |         COALESCE(l.cluster_id, d.doc_id) AS ckey,
         |         COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS kept
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |rm AS (
         |  SELECT k.source, c.source AS canon_source
         |  FROM keyed k JOIN documents c ON c.doc_id = k.ckey
         |  WHERE NOT k.kept),
         |tot AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_kept
         |  FROM keyed GROUP BY 1),
         |ab AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_absorbed,
         |         CAST(SUM(CASE WHEN canon_source <> source THEN 1 ELSE 0 END)
         |           AS BIGINT) AS absorbed_cross
         |  FROM rm GROUP BY 1)
         |SELECT t.source, t.n_docs, t.n_kept,
         |       CAST(COALESCE(a.n_absorbed, 0) AS BIGINT) AS n_absorbed,
         |       CAST(COALESCE(a.absorbed_cross, 0) AS BIGINT) AS absorbed_cross,
         |       CAST(COALESCE(a.n_absorbed, 0) * 1000000 // t.n_docs AS BIGINT)
         |         AS absorbed_ppm
         |FROM tot t LEFT JOIN ab a USING (source)
         |ORDER BY t.source ASC""".stripMargin,
    // q174: two leads over the same (user, ts, event_id) order; motif
    // counts conditional on the (t1, t2) prefix total.
    "q174_motif_census" ->
      (silverCte +
        """,
          |tr AS (
          |  SELECT event_type AS t1,
          |         lead(event_type, 1) OVER (PARTITION BY user_id
          |           ORDER BY ts ASC, event_id ASC) AS t2,
          |         lead(event_type, 2) OVER (PARTITION BY user_id
          |           ORDER BY ts ASC, event_id ASC) AS t3
          |  FROM silver),
          |m AS (
          |  SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM tr WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
          |SELECT t1, t2, t3, n,
          |       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY t1, t2)
          |         AS BIGINT) AS cond_ppm
          |FROM m ORDER BY t1 ASC, t2 ASC, t3 ASC""".stripMargin),
    // q175: exact integer day gaps (both engines datediff on DATE),
    // bucketed by week per priority.
    "q175_ship_latency" ->
      """SELECT o.o_orderpriority,
        |       CAST((date_diff('day', CAST(o.o_orderdate AS DATE),
        |              CAST(l.l_shipdate AS DATE)) + 70000) // 7 - 10000
        |         AS BIGINT) AS wk_bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(MIN(date_diff('day', CAST(o.o_orderdate AS DATE),
        |              CAST(l.l_shipdate AS DATE))) AS BIGINT) AS min_days,
        |       CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
        |              CAST(l.l_shipdate AS DATE))) AS BIGINT) AS max_days
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2
        |ORDER BY o.o_orderpriority ASC, wk_bucket ASC""".stripMargin,
    // q176: cumulative char mass over the per-source length histogram;
    // percentile picks by integer cross-multiplication.
    "q176_weighted_length_pct" ->
      """WITH hist AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS len,
        |         CAST(SUM(n_chars) AS BIGINT) AS w
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, len, w,
        |         CAST(SUM(w) OVER (PARTITION BY source ORDER BY len ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum,
        |         CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS total
        |  FROM hist)
        |SELECT source,
        |  CAST(MIN(CASE WHEN cum * 100 >= total * 25 THEN len END) AS BIGINT)
        |    AS p25_len,
        |  CAST(MIN(CASE WHEN cum * 100 >= total * 50 THEN len END) AS BIGINT)
        |    AS p50_len,
        |  CAST(MIN(CASE WHEN cum * 100 >= total * 75 THEN len END) AS BIGINT)
        |    AS p75_len
        |FROM c GROUP BY source ORDER BY source ASC""".stripMargin,
    // q177: the q32 quality CTE crossed with the q160 coverage CTE,
    // coverage kept for zero-dup docs (left join, coalesce 0).
    "q177_quality_dup_interaction" ->
      s"""WITH $cdcChunksOracle,
         |ch AS MATERIALIZED (
         |  SELECT doc_id, md5(chunk) AS h, len(chunk) AS l
         |  FROM chunks WHERE chunk <> ''),
         |shared AS (
         |  SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
         |per AS (
         |  SELECT doc_id, CAST(SUM(l) AS BIGINT) AS n_chars FROM ch GROUP BY 1),
         |dup AS (
         |  SELECT c.doc_id, CAST(SUM(c.l) AS BIGINT) AS dup_chars
         |  FROM ch c JOIN shared s ON s.h = c.h GROUP BY 1),
         |cov AS (
         |  SELECT p.doc_id,
         |         CAST(COALESCE(d.dup_chars, 0) * 1000000 // p.n_chars
         |           AS BIGINT) AS dup_ppm
         |  FROM per p LEFT JOIN dup d USING (doc_id)),
         |qn AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |qt AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM qn),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |    + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |    + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |        AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0
         |        AS INTEGER) AS quality
         |  FROM qt)
         |SELECT q.quality, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN c.dup_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(SUM(c.dup_ppm) // COUNT(*) AS BIGINT) AS mean_dup_ppm
         |FROM q JOIN cov c USING (doc_id)
         |GROUP BY 1 ORDER BY q.quality ASC""".stripMargin,
    // q178: the q27 band machinery with the candidate DISTINCT replaced
    // by a shared-band COUNT; Jaccard unfiltered, collisions kept at 0.
    "q178_lsh_calibration" -> lshCalibrationOracle,
    // q179: the engine verifies bytes through a real write→binaryFile
    // scan; the oracle states the invariant census directly (ASCII text
    // ⇒ n_verified = n_files, byte length via encoded octets).
    "q179_binary_ingest" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       CAST(COUNT(*) AS BIGINT) AS n_verified
        |FROM documents WHERE doc_id % 7 = 0
        |GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q180: per-customer aggregate, corpus max date as the recency
    // anchor, the q154 bit-length trick for integer log2 buckets.
    "q180_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         MAX(CAST(o_orderdate AS DATE)) AS last_order,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders)
        |SELECT
        |  CAST(date_diff('day', p.last_order, m.dmax) // 90 AS BIGINT)
        |    AS r_bucket,
        |  CAST(length(bin(p.n_orders)) - 1 AS BIGINT) AS f_bucket,
        |  CAST(p.cents // 5000000 AS BIGINT) AS m_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(MIN(p.o_custkey) AS BIGINT) AS min_custkey
        |FROM per p CROSS JOIN mx m
        |GROUP BY 1, 2, 3
        |ORDER BY r_bucket ASC, f_bucket ASC, m_bucket ASC""".stripMargin,
    // q181: same dot/norm operand order as q34 ⇒ identical doubles ⇒
    // identical floors; pairs within label cells only.
    "q181_cosine_histogram" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |p AS (
        |  SELECT a.label,
        |         list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, CAST(floor(cos * 10) AS BIGINT) AS cos_decile,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1, 2 ORDER BY label ASC, cos_decile ASC""".stripMargin,
    // q182: top-K vocab with a total (count desc, word asc) tiebreak;
    // OOV = token not in the vocab, as integer ppm per source.
    "q182_oov_census" ->
      s"""WITH wds AS (
         |  SELECT source, unnest(str_split($duckNorm, ' ')) AS word
         |  FROM documents),
         |c AS (SELECT word, COUNT(*) AS cnt FROM wds GROUP BY 1),
         |v AS (SELECT word FROM c ORDER BY cnt DESC, word ASC LIMIT 30)
         |SELECT w.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_tokens,
         |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS oov_ppm
         |FROM wds w LEFT JOIN v ON v.word = w.word
         |GROUP BY 1 ORDER BY w.source ASC""".stripMargin,
    // q183: daily (date, type) matrix self-joined within date; exact
    // integer covariance numerators n·Σxy − Σx·Σy.
    "q183_type_covariance" ->
      (silverCte +
        """,
          |daily AS (
          |  SELECT event_date, event_type, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM silver GROUP BY 1, 2),
          |p AS (
          |  SELECT a.event_type AS type_a, b.event_type AS type_b,
          |         CAST(COUNT(*) AS BIGINT) AS n_days,
          |         CAST(SUM(a.n) AS BIGINT) AS sx,
          |         CAST(SUM(b.n) AS BIGINT) AS sy,
          |         CAST(SUM(a.n * b.n) AS BIGINT) AS sxy
          |  FROM daily a
          |  JOIN daily b ON a.event_date = b.event_date
          |    AND a.event_type < b.event_type
          |  GROUP BY 1, 2)
          |SELECT type_a, type_b, n_days, sx AS sum_x, sy AS sum_y,
          |       CAST(n_days * sxy - sx * sy AS BIGINT) AS cov_num
          |FROM p ORDER BY type_a ASC, type_b ASC""".stripMargin),
    // q184: same 60-bit md5 row digest, xor-folded per id bucket —
    // order/partition independent in both engines.
    "q184_merkle_buckets" ->
      """SELECT CAST(doc_id % 64 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(bit_xor(CAST('0x' || substr(md5(
        |         concat_ws('|', doc_id, text, lang, source)), 1, 15) AS BIGINT))
        |         AS BIGINT) AS checksum
        |FROM documents GROUP BY 1 ORDER BY bucket ASC""".stripMargin,
    // q185: left join keeps zero-lineitem orders in the fanout profile.
    "q185_fanout_histogram" ->
      """WITH f AS (
        |  SELECT o.o_orderkey, CAST(COALESCE(c.n, 0) AS BIGINT) AS fanout
        |  FROM orders o LEFT JOIN (
        |    SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1) c
        |    ON c.l_orderkey = o.o_orderkey)
        |SELECT fanout, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(fanout * COUNT(*) AS BIGINT) AS n_lineitems
        |FROM f GROUP BY 1 ORDER BY fanout ASC""".stripMargin,
    // q186: cumulative windows over the count HISTOGRAM (descending),
    // decile cut by integer cross-multiplication, ties included whole.
    "q186_concentration" ->
      (silverCte +
        """,
          |pu AS (
          |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM silver GROUP BY 1),
          |h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nu FROM pu GROUP BY 1),
          |t AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS total_users,
          |         CAST(SUM(c) AS BIGINT) AS total_events
          |  FROM pu),
          |cw AS (
          |  SELECT c,
          |    CAST(SUM(nu) OVER (ORDER BY c DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_users,
          |    CAST(SUM(c * nu) OVER (ORDER BY c DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_events
          |  FROM h)
          |SELECT cw.cum_users AS top_users, t.total_users,
          |       cw.cum_events AS top_events, t.total_events,
          |       CAST(cw.cum_events * 1000000 // t.total_events AS BIGINT)
          |         AS share_ppm
          |FROM cw CROSS JOIN t
          |WHERE cw.cum_users * 10 >= t.total_users
          |ORDER BY cw.c DESC LIMIT 1""".stripMargin),
    // q187: the q02 revenue idiom on the supply side (same decimal
    // operand casts so the double is bit-identical).
    "q187_supplier_revenue" ->
      """SELECT n.n_name,
        |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(9,4)) - CAST(l.l_discount AS DECIMAL(9,4)))
        |    * 10000 AS BIGINT)) AS BIGINT) AS revenue_c4,
        |  COUNT(*) AS n_items,
        |  CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY n.n_name ASC""".stripMargin,
    // q188: the oracle runs the textbook single-window cumulative; the
    // engine's two-level prefix sum must agree exactly. Values quantize
    // to integer cents (FLOOR on the same IEEE double both sides), so
    // the whole statistic is int64.
    "q188_ks_distance" ->
      (silverCte +
        """, grid AS (
          |  SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v_c,
          |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          |           AS BIGINT) AS c1,
          |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |           AS BIGINT) AS c2
          |  FROM silver
          |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
          |  GROUP BY 1),
          |cum AS (
          |  SELECT CAST(SUM(c1) OVER (ORDER BY v_c ASC ROWS UNBOUNDED PRECEDING)
          |           AS BIGINT) AS cum1,
          |         CAST(SUM(c2) OVER (ORDER BY v_c ASC ROWS UNBOUNDED PRECEDING)
          |           AS BIGINT) AS cum2
          |  FROM grid),
          |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
          |             CAST(SUM(c2) AS BIGINT) AS n2 FROM grid)
          |SELECT n.n1, n.n2,
          |       CAST(MAX(ABS(n.n2 * cum.cum1 - n.n1 * cum.cum2)) AS BIGINT)
          |         AS ks_num,
          |       CAST(MAX(ABS(n.n2 * cum.cum1 - n.n1 * cum.cum2)) * 1000000
          |            // (n.n1 * n.n2) AS BIGINT) AS ks_ppm
          |FROM cum CROSS JOIN n
          |WHERE n.n1 > 0 AND n.n2 > 0
          |GROUP BY n.n1, n.n2""".stripMargin),
    "q189_l_diversity" ->
      (silverCte +
        """, qi AS (
          |  SELECT event_type, hour, COUNT(DISTINCT user_id) AS l
          |  FROM silver GROUP BY 1, 2)
          |SELECT event_type, COUNT(*) AS n_cells,
          |       CAST(MIN(l) AS BIGINT) AS min_l,
          |       CAST(MAX(l) AS BIGINT) AS max_l,
          |       CAST(SUM(CASE WHEN l < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS cells_below_5
          |FROM qi GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // q190: same edge/degree CTEs as q93; Pearson terms stay integer.
    "q190_assortativity" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
        |  GROUP BY 1),
        |j AS (
        |  SELECT du.d AS du, dv.d AS dv
        |  FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |s AS (
        |  SELECT COUNT(*) AS m, CAST(SUM(du + dv) AS BIGINT) AS sx,
        |         CAST(SUM(du * dv) AS BIGINT) AS sxyh,
        |         CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx
        |  FROM j)
        |SELECT m AS n_edges, CAST(4 * m * sxyh - sx * sx AS BIGINT) AS r_num,
        |       CAST(2 * m * sxx - sx * sx AS BIGINT) AS r_den
        |FROM s""".stripMargin,
    // q191: generate_series is end-inclusive in both engines; substr is
    // 1-based in both; md5('') is consistent, so empty docs are safe.
    "q191_window_dup_mass" ->
      s"""WITH nd AS (SELECT source, $duckNorm AS s FROM documents),
         |st AS (
         |  SELECT source, s,
         |         unnest(generate_series(1, greatest(len(s) - 63, 1), 32)) AS i
         |  FROM nd),
         |w AS (SELECT source, md5(substr(s, i, 64)) AS wh FROM st),
         |occ AS (SELECT wh, source, COUNT(*) AS occ FROM w GROUP BY 1, 2),
         |g AS (SELECT wh, CAST(SUM(occ) AS BIGINT) AS total_occ
         |      FROM occ GROUP BY 1)
         |SELECT o.source, CAST(SUM(o.occ) AS BIGINT) AS n_windows,
         |       COUNT(*) AS n_distinct,
         |       CAST(SUM(CASE WHEN g.total_occ > 1 THEN o.occ ELSE 0 END)
         |         AS BIGINT) AS dup_occ,
         |       CAST(SUM(CASE WHEN g.total_occ > 1 THEN o.occ ELSE 0 END)
         |            * 1000000 // SUM(o.occ) AS BIGINT) AS dup_ppm
         |FROM occ o JOIN g USING (wh)
         |GROUP BY 1 ORDER BY o.source ASC""".stripMargin,
    // q192: the 20 power-iteration rounds are UNROLLED as chained CTEs
    // (standard SQL forbids aggregation in a recursive term). Each term
    // floor-divides before summing, exactly like the engine's integer
    // iteration, so the two are bit-identical.
    "q192_markov_stationary" ->
      (silverCte + markovOracleTail(20)),
    // q193: gaps via date_diff('second', ...) ≡ Spark unix_timestamp
    // difference (both reduce to floor-second subtraction); numerator
    // and denominator ship separately — value_cents can be negative and
    // a negative `div` is where the engines' division semantics split.
    "q193_time_weighted_value" ->
      (silverCte +
        """, stepped AS (
          |  SELECT user_id,
          |         CAST(FLOOR(value * 100) AS BIGINT) AS v_c,
          |         date_diff('second', ts,
          |           lead(ts) OVER (
          |             PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
          |           AS gap_s
          |  FROM silver WHERE value IS NOT NULL)
          |SELECT user_id, COUNT(*) AS n_holds,
          |       CAST(SUM(gap_s) AS BIGINT) AS total_secs,
          |       CAST(SUM(v_c * gap_s) AS BIGINT) AS twa_num
          |FROM stepped WHERE gap_s IS NOT NULL
          |GROUP BY 1 ORDER BY user_id ASC""".stripMargin),
    // q194: decay is an exact integer shift (1::BIGINT << weeks), capped
    // at 62; reference date is the corpus max so the score reproduces.
    "q194_decayed_engagement" ->
      (silverCte +
        """, mx AS (SELECT MAX(event_date) AS max_date FROM silver),
          |aged AS (
          |  SELECT user_id, event_date,
          |         1000000 // (CAST(1 AS BIGINT) << LEAST(
          |           date_diff('day', event_date, max_date) // 7, 62))
          |           AS decay_ppm
          |  FROM silver CROSS JOIN mx)
          |SELECT user_id, COUNT(*) AS n_events,
          |       CAST(SUM(decay_ppm) AS BIGINT) AS score_ppm,
          |       MAX(event_date) AS last_date
          |FROM aged GROUP BY 1 ORDER BY user_id ASC""".stripMargin),
    "q195_kcore_census" -> kCoreOracleSql(80, 8),
    // q196: DuckDB's native ASOF LEFT JOIN + a CASE staleness cutoff —
    // both match columns null together when the 30-day tolerance trips.
    "q196_asof_tolerance" ->
      (silverCte +
        """, ordd AS (
          |  SELECT o_custkey, o_orderdate, o_orderkey
          |  FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY o_custkey, o_orderdate
          |      ORDER BY o_orderkey DESC) AS rn
          |    FROM orders) WHERE rn = 1)
          |SELECT s.event_id, s.user_id,
          |       CASE WHEN date_diff('day', o.o_orderdate, CAST(s.ts AS DATE)) <= 30
          |            THEN o.o_orderkey END AS asof_orderkey,
          |       CAST(CASE WHEN date_diff('day', o.o_orderdate, CAST(s.ts AS DATE)) <= 30
          |            THEN date_diff('day', o.o_orderdate, CAST(s.ts AS DATE))
          |            END AS INTEGER) AS asof_age_days
          |FROM silver s
          |ASOF LEFT JOIN ordd o
          |  ON s.user_id = o.o_custkey AND s.ts >= o.o_orderdate
          |ORDER BY s.event_id ASC""".stripMargin),
    // q197: subspace L2² via the exact dot identity (integer-valued
    // doubles ≤ 2^53 — bit-equal to the engine's zip_with integer fold);
    // int8 grid exactly as q126.
    "q197_knn_pq" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |         greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) AS scale
        |  FROM v),
        |qt AS (
        |  SELECT vec_id,
        |         list_transform(e,
        |           x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS qi
        |  FROM s),
        |sub AS (
        |  SELECT vec_id, j AS sub_m,
        |         qi[j * (len(qi) // 8) + 1 : (j + 1) * (len(qi) // 8)] AS sv
        |  FROM qt CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js),
        |cb AS (SELECT sub_m, vec_id AS code_id, sv AS cw
        |       FROM sub WHERE vec_id < 16),
        |encd AS (
        |  SELECT s.vec_id, s.sub_m, c.code_id,
        |         CAST(list_dot_product(CAST(s.sv AS DOUBLE[]), CAST(s.sv AS DOUBLE[]))
        |            + list_dot_product(CAST(c.cw AS DOUBLE[]), CAST(c.cw AS DOUBLE[]))
        |            - 2 * list_dot_product(CAST(s.sv AS DOUBLE[]), CAST(c.cw AS DOUBLE[]))
        |           AS BIGINT) AS d
        |  FROM sub s JOIN cb c USING (sub_m)),
        |enc AS (
        |  SELECT vec_id, sub_m, code_id AS code FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id, sub_m ORDER BY d ASC, code_id ASC) AS rn
        |    FROM encd) WHERE rn = 1),
        |lut AS (
        |  SELECT e2.vec_id AS query_id, e2.sub_m, e2.code_id AS code, e2.d
        |  FROM encd e2 WHERE e2.vec_id < 10),
        |adc AS (
        |  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc
        |  FROM enc e JOIN lut l ON l.sub_m = e.sub_m AND l.code = e.code
        |  WHERE e.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC)
        |    AS INTEGER) AS "rank"
        |  FROM adc)
        |SELECT query_id, "rank", neighbor_id, adc FROM r
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // q198: ranks are integers and the one division has positive
    // operands; negative rho appears only through the final subtraction.
    "q198_disorder_census" ->
      (silverCte +
        """, rk AS (
          |  SELECT user_id,
          |         row_number() OVER (
          |           PARTITION BY user_id ORDER BY event_id ASC) AS ra,
          |         row_number() OVER (
          |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rt
          |  FROM silver),
          |s AS (
          |  SELECT user_id, COUNT(*) AS n,
          |         CAST(SUM((rt - ra) * (rt - ra)) AS BIGINT) AS sum_d2
          |  FROM rk GROUP BY 1 HAVING COUNT(*) >= 2)
          |SELECT user_id, n, sum_d2,
          |       CAST(1000000 - (6 * sum_d2 * 1000000 // (n * n * n - n))
          |         AS BIGINT) AS rho_ppm
          |FROM s ORDER BY user_id ASC""".stripMargin),
    "q199_weighted_jaccard" -> weightedJaccardOracle,
    // q200: two IGNORE NULLS carries read from the same last
    // non-purchase row; the 7-day lookback is in floor seconds
    // (date_diff('second') ≡ Spark unix_timestamp difference).
    "q200_attribution" ->
      (silverCte +
        """, t AS (
          |  SELECT user_id, ts, event_id, event_type,
          |         last_value(CASE WHEN event_type <> 'purchase'
          |                    THEN ts END IGNORE NULLS) OVER w AS t_ts,
          |         last_value(CASE WHEN event_type <> 'purchase'
          |                    THEN event_type END IGNORE NULLS) OVER w AS t_type
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |               ROWS UNBOUNDED PRECEDING)),
          |p AS (
          |  SELECT CASE WHEN t_ts IS NOT NULL
          |              AND date_diff('second', t_ts, ts) <= 604800
          |              THEN t_type ELSE 'none' END AS attributed
          |  FROM t WHERE event_type = 'purchase'),
          |c AS (SELECT attributed, COUNT(*) AS conversions FROM p GROUP BY 1),
          |tot AS (SELECT CAST(SUM(conversions) AS BIGINT) AS total FROM c)
          |SELECT attributed, CAST(conversions AS BIGINT) AS conversions,
          |       CAST(conversions * 1000000 // total AS BIGINT) AS share_ppm
          |FROM c CROSS JOIN tot ORDER BY attributed ASC""".stripMargin),
    // q201: identical bitmap construction — bit_or of day bits, week
    // masks; all-integer, so engines agree bit for bit.
    "q201_bitmap_retention" ->
      (silverCte +
        """, d0 AS (SELECT MIN(event_date) AS d0 FROM silver),
          |bm AS (
          |  SELECT user_id, bit_or(1::BIGINT << d) AS bm
          |  FROM (SELECT user_id,
          |               date_diff('day', d0.d0, event_date) AS d
          |        FROM silver CROSS JOIN d0) t
          |  WHERE d >= 0 AND d < 28 GROUP BY user_id),
          |wk AS (SELECT CAST(w AS INTEGER) AS week
          |       FROM (VALUES (0), (1), (2)) v(w)),
          |r AS (
          |  SELECT week,
          |         CASE WHEN ((bm >> (week * 7)) & 127) <> 0
          |              THEN 1 ELSE 0 END AS a,
          |         CASE WHEN ((bm >> (week * 7 + 7)) & 127) <> 0
          |              THEN 1 ELSE 0 END AS b2
          |  FROM bm CROSS JOIN wk)
          |SELECT week, CAST(SUM(a) AS BIGINT) AS active_users,
          |       CAST(SUM(a * b2) AS BIGINT) AS retained_users,
          |       CAST(SUM(a * b2) * 1000000 // SUM(a) AS BIGINT)
          |         AS retention_ppm
          |FROM r GROUP BY week HAVING SUM(a) > 0
          |ORDER BY week ASC""".stripMargin),
    // q202: the q34 (float cosine) and q126 (int8 cosine) rank CTEs at
    // kCand=20, fused with integer reciprocal-rank scores.
    "q202_rrf_fusion" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
         |cosf AS (
         |  SELECT qv.query_id, nv.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM q qv, v nv WHERE nv.vec_id <> qv.query_id),
         |ra AS (
         |  SELECT query_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |    AS INTEGER) AS rank_a
         |  FROM cosf),
         |s AS (
         |  SELECT vec_id, e,
         |         greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
         |           AS scale
         |  FROM v),
         |qt AS (
         |  SELECT vec_id,
         |         list_transform(e, x -> CAST(CAST(floor(x * 127.0 / scale
         |           + 0.5) AS BIGINT) AS DOUBLE)) AS qd
         |  FROM s),
         |n2 AS (
         |  SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS nrm FROM qt),
         |qs AS (SELECT vec_id AS query_id, qd AS qq, nrm AS qn
         |       FROM n2 WHERE vec_id < 10),
         |cosq AS (
         |  SELECT qs.query_id, n2.vec_id AS neighbor_id,
         |         list_dot_product(qs.qq, n2.qd) / (qs.qn * n2.nrm) AS qcos
         |  FROM qs, n2 WHERE n2.vec_id <> qs.query_id),
         |rb AS (
         |  SELECT query_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC)
         |    AS INTEGER) AS rank_b
         |  FROM cosq),
         |fa AS (SELECT * FROM ra WHERE rank_a <= 20),
         |fb AS (SELECT * FROM rb WHERE rank_b <= 20),
         |f AS (
         |  SELECT COALESCE(fa.query_id, fb.query_id) AS query_id,
         |         COALESCE(fa.neighbor_id, fb.neighbor_id) AS neighbor_id,
         |         CAST(COALESCE(1000000 // (60 + rank_a), 0)
         |            + COALESCE(1000000 // (60 + rank_b), 0) AS BIGINT)
         |           AS score_ppm
         |  FROM fa FULL OUTER JOIN fb
         |    ON fa.query_id = fb.query_id
         |   AND fa.neighbor_id = fb.neighbor_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id ASC)
         |    AS INTEGER) AS "rank"
         |  FROM f)
         |SELECT query_id, "rank", neighbor_id, score_ppm FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // q203: textbook single-window leads over the zero-filled calendar
    // spine; statistics are exact int64 on both sides.
    "q203_acf_daily" ->
      (silverCte +
        """, daily0 AS (
          |  SELECT event_date, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM silver GROUP BY 1),
          |b AS (SELECT MIN(event_date) AS dlo, MAX(event_date) AS dhi
          |      FROM daily0),
          |spine AS (
          |  SELECT CAST(unnest(generate_series(dlo, dhi, INTERVAL 1 DAY))
          |         AS DATE) AS event_date
          |  FROM b),
          |daily AS (
          |  SELECT s.event_date, COALESCE(c, 0) AS c
          |  FROM spine s LEFT JOIN daily0 USING (event_date)),
          |l AS (
          |  SELECT c,
          |         lead(c, 1) OVER w AS c1, lead(c, 2) OVER w AS c2,
          |         lead(c, 3) OVER w AS c3, lead(c, 4) OVER w AS c4,
          |         lead(c, 5) OVER w AS c5, lead(c, 6) OVER w AS c6,
          |         lead(c, 7) OVER w AS c7
          |  FROM daily WINDOW w AS (ORDER BY event_date ASC)),
          |lags AS (
          |  SELECT 1 AS lag, c, c1 AS cl FROM l
          |  UNION ALL SELECT 2, c, c2 FROM l
          |  UNION ALL SELECT 3, c, c3 FROM l
          |  UNION ALL SELECT 4, c, c4 FROM l
          |  UNION ALL SELECT 5, c, c5 FROM l
          |  UNION ALL SELECT 6, c, c6 FROM l
          |  UNION ALL SELECT 7, c, c7 FROM l),
          |agg AS (
          |  SELECT lag, CAST(COUNT(cl) AS BIGINT) AS n_pairs,
          |         CAST(COALESCE(SUM(c * cl), 0) AS BIGINT) AS sxy
          |  FROM lags GROUP BY 1),
          |t AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
          |         CAST(SUM(c) AS BIGINT) AS s_total,
          |         CAST(SUM(c * c) AS BIGINT) AS s_sq
          |  FROM daily)
          |SELECT lag, n_pairs, sxy, n_days, s_total, s_sq
          |FROM agg CROSS JOIN t ORDER BY lag ASC""".stripMargin),
    // q204: same text-raster aHash (nested list lambdas mirror the
    // engine's nested higher-order functions), same 4-band pigeonhole.
    "q204_phash_dups" ->
      s"""WITH h0 AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 64), i ->
        |           list_sum(list_transform(range(1, 5), j ->
        |             ascii(substr(text, i * 4 + j, 1))))) AS cells
        |  FROM documents WHERE length(text) >= 256),
        |h1 AS (SELECT doc_id, cells,
        |              CAST(list_sum(cells) AS BIGINT) AS total FROM h0),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |      CASE WHEN cells[i + 1] * 64 > total
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS h_lo,
        |    CAST(list_sum(list_transform(range(32, 64), i ->
        |      CASE WHEN cells[i + 1] * 64 > total
        |           THEN (1::BIGINT << (i - 32)) ELSE 0 END)) AS BIGINT)
        |      AS h_hi
        |  FROM h1),
        |bands0 AS (
        |  SELECT doc_id, h_lo, h_hi, c.b,
        |         CASE WHEN c.b = 0 THEN h_lo & 65535
        |              WHEN c.b = 1 THEN (h_lo >> 16) & 65535
        |              WHEN c.b = 2 THEN h_hi & 65535
        |              ELSE (h_hi >> 16) & 65535 END AS bv
        |  FROM h CROSS JOIN (VALUES (0), (1), (2), (3)) c(b)),
        |${Shard.duckCapped("bands0", Seq("b", "bv"))},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.h_lo AS lo_a, a.h_hi AS hi_a,
        |         b.h_lo AS lo_b, b.h_hi AS hi_b
        |  FROM keyed a JOIN keyed b
        |    ON a.b = b.b AND a.bv = b.bv AND a.subshard = b.subshard
        |   AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(lo_a, lo_b))
        |          + bit_count(xor(hi_a, hi_b)) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
        |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // q205: same bitmap + CASE cohort assignment; every cell statistic
    // is integer, so the matrix is bit-identical across engines.
    "q205_cohort_matrix" ->
      (silverCte +
        """, d0 AS (SELECT MIN(event_date) AS d0 FROM silver),
          |bm0 AS (
          |  SELECT user_id, bit_or(1::BIGINT << d) AS bm
          |  FROM (SELECT user_id,
          |               date_diff('day', d0.d0, event_date) AS d
          |        FROM silver CROSS JOIN d0) t
          |  WHERE d >= 0 AND d < 28 GROUP BY user_id),
          |bm AS (
          |  SELECT bm,
          |         CAST(CASE WHEN (bm & 127) <> 0 THEN 0
          |                   WHEN ((bm >> 7) & 127) <> 0 THEN 1
          |                   WHEN ((bm >> 14) & 127) <> 0 THEN 2
          |                   ELSE 3 END AS INTEGER) AS cohort
          |  FROM bm0),
          |wk AS (SELECT CAST(w AS INTEGER) AS week
          |       FROM (VALUES (0), (1), (2), (3)) v(w)),
          |cells AS (
          |  SELECT cohort, week, CAST(COUNT(*) AS BIGINT) AS n_active
          |  FROM bm CROSS JOIN wk
          |  WHERE week >= cohort AND ((bm >> (week * 7)) & 127) <> 0
          |  GROUP BY cohort, week),
          |sizes AS (
          |  SELECT cohort, n_active AS cohort_size FROM cells
          |  WHERE week = cohort)
          |SELECT c.cohort, c.week, c.n_active, s.cohort_size,
          |       CAST(c.n_active * 1000000 // s.cohort_size AS BIGINT)
          |         AS active_ppm
          |FROM cells c JOIN sizes s ON s.cohort = c.cohort
          |ORDER BY c.cohort ASC, c.week ASC""".stripMargin),
    // q206: the q93 orientation CTEs, extended from a global triangle
    // count to per-node counts (each triangle credited to its three
    // corners) and integer coefficient deciles.
    "q206_clustering_coeff" ->
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS MATERIALIZED (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
        |  GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS src,
        |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS dst
        |  FROM edges e
        |  JOIN deg du ON du.n = e.u
        |  JOIN deg dv ON dv.n = e.v),
        |od AS MATERIALIZED (SELECT o.src, o.dst, d.d AS dst_d FROM o JOIN deg d ON d.n = o.dst),
        |w AS MATERIALIZED (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM od e1 JOIN od e2 ON e1.src = e2.src
        |   AND (e1.dst_d < e2.dst_d OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))),
        |tri AS MATERIALIZED (
        |  SELECT w.a, w.b, w.c FROM w JOIN o ON o.src = w.b AND o.dst = w.c),
        |tn AS (
        |  SELECT n, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS n FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1),
        |cc AS (
        |  SELECT COALESCE(tn.tri, 0) AS tri, deg.d
        |  FROM deg LEFT JOIN tn ON tn.n = deg.n
        |  WHERE deg.d >= 2)
        |SELECT CAST((2 * tri * 1000000 // (d * (d - 1))) // 100000
        |            AS INTEGER) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       CAST(SUM(tri) AS BIGINT) AS sum_triangles
        |FROM cc GROUP BY 1 ORDER BY bucket ASC""".stripMargin,
    // q207: identical pattern-count formulation — bit_or of segment
    // bits, pairwise stats from the tiny pattern frame.
    "q207_segment_overlap" ->
      (silverCte +
        """, tidx AS (
          |  SELECT event_type,
          |         CAST(row_number() OVER (ORDER BY event_type ASC) - 1
          |              AS INTEGER) AS ti
          |  FROM (SELECT DISTINCT event_type FROM silver)),
          |pat AS (
          |  SELECT s.user_id, bit_or(1::BIGINT << t.ti) AS pat
          |  FROM silver s JOIN tidx t ON t.event_type = s.event_type
          |  GROUP BY s.user_id),
          |pc AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS n_users
          |       FROM pat GROUP BY 1),
          |pr AS (
          |  SELECT a.event_type AS type_a, a.ti AS ta,
          |         b.event_type AS type_b, b.ti AS tb
          |  FROM tidx a CROSS JOIN tidx b WHERE a.ti < b.ti),
          |agg AS (
          |  SELECT type_a, type_b,
          |    CAST(SUM(CASE WHEN ((pat >> ta) & 1) = 1
          |             THEN n_users ELSE 0 END) AS BIGINT) AS n_a,
          |    CAST(SUM(CASE WHEN ((pat >> tb) & 1) = 1
          |             THEN n_users ELSE 0 END) AS BIGINT) AS n_b,
          |    CAST(SUM(CASE WHEN ((pat >> ta) & 1) = 1
          |              AND ((pat >> tb) & 1) = 1
          |             THEN n_users ELSE 0 END) AS BIGINT) AS n_both
          |  FROM pr CROSS JOIN pc GROUP BY type_a, type_b)
          |SELECT type_a, type_b, n_a, n_b, n_both,
          |       CAST(n_both * 1000000 // (n_a + n_b - n_both) AS BIGINT)
          |         AS jaccard_ppm
          |FROM agg ORDER BY type_a ASC, type_b ASC""".stripMargin),
    // q208: same posting stream, same (df desc, token asc) total order
    // on the query terms — the AND is a grouped distinct count.
    "q208_conjunctive_search" ->
      """WITH post AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0),
        |dfc AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM post GROUP BY 1),
        |top AS (
        |  SELECT token,
        |         row_number() OVER (ORDER BY df DESC, token ASC) AS r
        |  FROM dfc),
        |q AS (SELECT token FROM top WHERE r BETWEEN 10 AND 12),
        |hits AS (
        |  SELECT doc_id, CAST(COUNT(DISTINCT p.token) AS BIGINT) AS n_terms
        |  FROM post p JOIN q USING (token)
        |  GROUP BY doc_id HAVING COUNT(DISTINCT p.token) = 3)
        |SELECT h.doc_id, h.n_terms, d.n_chars
        |FROM hits h JOIN documents d USING (doc_id)
        |ORDER BY h.doc_id ASC""".stripMargin,
    // q209: same anchor join; day deltas and counts are all integer.
    "q209_prepost_census" ->
      (silverCte +
        """, anchors AS (
          |  SELECT user_id, MIN(event_date) AS anchor
          |  FROM silver WHERE event_type = 'purchase' GROUP BY 1),
          |dd AS (
          |  SELECT s.event_type,
          |         date_diff('day', a.anchor, s.event_date) AS dd
          |  FROM silver s JOIN anchors a ON a.user_id = s.user_id),
          |agg AS (
          |  SELECT event_type,
          |         CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_pre,
          |         CAST(SUM(CASE WHEN dd >= 0 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_post
          |  FROM dd WHERE dd >= -7 AND dd <= 6
          |  GROUP BY 1)
          |SELECT event_type, n_pre, n_post,
          |       CAST(n_post * 1000000 // n_pre AS BIGINT) AS lift_ppm
          |FROM agg WHERE n_pre > 0
          |ORDER BY event_type ASC""".stripMargin),
    // q210: same bigram stream (1-based list indexing mirrors the
    // engine's slice/element_at), same (cnt desc, lexicographic) top-1.
    "q210_phrase_count" ->
      """WITH w AS (
        |  SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i ->
        |           struct_pack(w1 := w[i], w2 := w[i + 1]))) AS bg
        |  FROM w),
        |b2 AS (
        |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bg
        |  WHERE length(bg.w1) > 0 AND length(bg.w2) > 0),
        |top AS (
        |  SELECT w1, w2 FROM (
        |    SELECT w1, w2, COUNT(*) AS cnt FROM b2 GROUP BY 1, 2)
        |  ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1)
        |SELECT b2.doc_id, t.w1, t.w2,
        |       CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM b2 JOIN top t USING (w1, w2)
        |GROUP BY b2.doc_id, t.w1, t.w2
        |ORDER BY b2.doc_id ASC""".stripMargin,
    // q211: identical integer cross-multiplied BM25; the df-rank-5 term
    // comes from the same (df desc, token asc) total order.
    "q211_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        |       FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS s,
        |               CAST(COUNT(*) AS BIGINT) AS n FROM dl),
        |dfc AS (
        |  SELECT token, COUNT(*) AS df FROM (
        |    SELECT DISTINCT doc_id, token FROM toks)
        |  GROUP BY 1),
        |q AS (
        |  SELECT token FROM (
        |    SELECT token, row_number() OVER (
        |      ORDER BY df DESC, token ASC) AS r
        |    FROM dfc)
        |  WHERE r = 5),
        |tf AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM toks JOIN q USING (token) GROUP BY 1)
        |SELECT tf.doc_id, tf.tf, dl.dl,
        |       CAST(44 * s * tf * 1000000
        |            // (20 * s * tf + 6 * s + 18 * n * dl.dl) AS BIGINT)
        |         AS score_ppm
        |FROM tf JOIN dl USING (doc_id) CROSS JOIN tot
        |ORDER BY score_ppm DESC, tf.doc_id ASC LIMIT 10""".stripMargin,
    // q212: same bigram event space over the normalized text; lift is
    // exact integer division both sides.
    "q212_pmi_collocations" ->
      s"""WITH w AS (
         |  SELECT str_split($duckNorm, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i ->
         |    struct_pack(w1 := w[i], w2 := w[i + 1]))) AS bg
         |  FROM w),
         |b2 AS (
         |  SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bg
         |  WHERE length(bg.w1) > 0 AND length(bg.w2) > 0),
         |c AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM b2 GROUP BY 1, 2),
         |l AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ca FROM c GROUP BY 1),
         |r AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS cb FROM c GROUP BY 1),
         |t AS (SELECT CAST(SUM(c) AS BIGINT) AS bt FROM c)
         |SELECT c.w1, c.w2, c.c AS c_ab, l.ca AS c_a, r.cb AS c_b,
         |       CAST(c.c * bt * 1000000 // (l.ca * r.cb) AS BIGINT)
         |         AS lift_ppm
         |FROM c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
         |WHERE c.c >= 5
         |ORDER BY lift_ppm DESC, c.w1 ASC, c.w2 ASC LIMIT 20""".stripMargin,
    // q213: the q60 closure CTEs extended with the verified-pair census;
    // all counts integer.
    "q213_cluster_dilution" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |sizes AS (
         |  SELECT cluster_id, COUNT(*) AS k FROM lab
         |  GROUP BY 1 HAVING COUNT(*) >= 2),
         |direct AS (
         |  SELECT l.cluster_id, COUNT(*) AS dp
         |  FROM pairs p JOIN lab l ON l.doc_id = p.doc_a
         |  GROUP BY 1),
         |per AS (
         |  SELECT s.k, COALESCE(d.dp, 0) AS dp, s.k * (s.k - 1) // 2 AS tp
         |  FROM sizes s LEFT JOIN direct d USING (cluster_id))
         |SELECT CAST(k AS BIGINT) AS cluster_size,
         |       CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(SUM(dp) AS BIGINT) AS direct_pairs,
         |       CAST(SUM(tp) AS BIGINT) AS total_pairs,
         |       CAST(SUM(dp) * 1000000 // SUM(tp) AS BIGINT) AS direct_ppm
         |FROM per GROUP BY k ORDER BY cluster_size ASC""".stripMargin,
    // q214: two leads over the same (ts, event_id) user order; top-10
    // with full lexicographic tiebreak.
    "q214_event_trigrams" ->
      (silverCte +
        """, tri AS (
          |  SELECT event_type AS t1,
          |         lead(event_type, 1) OVER w AS t2,
          |         lead(event_type, 2) OVER w AS t3
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id
          |               ORDER BY ts ASC, event_id ASC))
          |SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_paths
          |FROM tri WHERE t3 IS NOT NULL
          |GROUP BY t1, t2, t3
          |ORDER BY n_paths DESC, t1 ASC, t2 ASC, t3 ASC
          |LIMIT 10""".stripMargin),
    // q215: identical per-element residual expression; floor-scaled
    // integers are the only values reaching the gate.
    "q215_quant_error" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |         greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
        |           AS scale
        |  FROM v),
        |r AS (
        |  SELECT vec_id,
        |         list_max(list_transform(e, x ->
        |           abs(x * 127.0 / scale
        |               - floor(x * 127.0 / scale + 0.5)))) AS maxr
        |  FROM s)
        |SELECT CAST(floor(maxr * 20) AS INTEGER) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |       CAST(MAX(CAST(floor(maxr * 1000000) AS BIGINT)) AS BIGINT)
        |         AS max_residual_ppm
        |FROM r GROUP BY 1 ORDER BY bucket ASC""".stripMargin,
    // q216: same ordered 3-way self-join over distinct (order, part).
    "q216_frequent_triples" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, c.pk AS p3,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM op a
        |JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |JOIN op c ON b.ok = c.ok AND b.pk < c.pk
        |GROUP BY 1, 2, 3
        |ORDER BY n_orders DESC, p1 ASC, p2 ASC, p3 ASC
        |LIMIT 10""".stripMargin,
    // q217: the greedy loop unrolled as CTE rounds — each round's pick,
    // anti-joined remainder, and accumulated cover as materialized CTEs.
    "q217_coverage_greedy" -> coverageGreedyOracle(5),
    // q218: the q60 closure supplies cluster ids; the hash rank is the
    // same 60-bit md5 integer on both sides.
    "q218_negative_samples" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |q AS (
         |  SELECT d.doc_id AS query_id, l.cluster_id AS qc
         |  FROM documents d LEFT JOIN lab l USING (doc_id)
         |  WHERE d.doc_id < 10),
         |c AS (
         |  SELECT d.doc_id AS neg_id, l.cluster_id AS nc
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |s AS (
         |  SELECT q.query_id, c.neg_id,
         |         CAST('0x' || substr(md5(CAST(q.query_id AS VARCHAR)
         |           || ':' || CAST(c.neg_id AS VARCHAR)), 1, 15) AS BIGINT)
         |           AS h
         |  FROM q CROSS JOIN c
         |  WHERE c.neg_id <> q.query_id
         |    AND (q.qc IS NULL OR c.nc IS NULL OR q.qc <> c.nc)),
         |r AS (
         |  SELECT query_id, neg_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY h ASC, neg_id ASC)
         |    AS INTEGER) AS "rank"
         |  FROM s)
         |SELECT query_id, "rank", neg_id FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // q219: same occurrence counts, same global (cnt desc, token asc)
    // rank, same 3-size expand.
    "q219_vocab_sweep" ->
      s"""WITH occ AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT source, unnest(str_split($duckNorm, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY 1, 2),
         |ranked AS (
         |  SELECT token, row_number() OVER (
         |    ORDER BY SUM(n) DESC, token ASC) AS "rank"
         |  FROM occ GROUP BY token),
         |sz AS (SELECT CAST(s AS INTEGER) AS vocab_size
         |       FROM (VALUES (8), (16), (24)) v(s))
         |SELECT sz.vocab_size, occ.source,
         |       CAST(SUM(occ.n) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN r."rank" > sz.vocab_size
         |                THEN occ.n ELSE 0 END) AS BIGINT) AS oov_tokens,
         |       CAST(SUM(CASE WHEN r."rank" > sz.vocab_size
         |                THEN occ.n ELSE 0 END) * 1000000
         |            // SUM(occ.n) AS BIGINT) AS oov_ppm
         |FROM occ JOIN ranked r USING (token) CROSS JOIN sz
         |GROUP BY sz.vocab_size, occ.source
         |ORDER BY sz.vocab_size ASC, occ.source ASC""".stripMargin,
    // q220: each metric as a scalar CTE UNION ALL'd; near-dup docs via
    // the q60 closure.
    "q220_corpus_datasheet" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |nd0 AS (
         |  SELECT doc_id, $duckNorm AS norm, source, lang, n_chars
         |  FROM documents),
         |toks AS (
         |  SELECT token FROM (
         |    SELECT unnest(str_split(norm, ' ')) AS token FROM nd0)
         |  WHERE length(token) > 0),
         |fp AS (
         |  SELECT md5(norm) AS f, COUNT(*) AS c FROM nd0 GROUP BY 1)
         |SELECT * FROM (
         |  SELECT '01_docs' AS metric,
         |         CAST(COUNT(*) AS BIGINT) AS value FROM nd0
         |  UNION ALL
         |  SELECT '02_sources', CAST(COUNT(DISTINCT source) AS BIGINT)
         |  FROM nd0
         |  UNION ALL
         |  SELECT '03_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM nd0
         |  UNION ALL
         |  SELECT '04_chars_total', CAST(SUM(n_chars) AS BIGINT) FROM nd0
         |  UNION ALL
         |  SELECT '05_tokens_total', CAST(COUNT(*) AS BIGINT) FROM toks
         |  UNION ALL
         |  SELECT '06_vocab_size', CAST(COUNT(DISTINCT token) AS BIGINT)
         |  FROM toks
         |  UNION ALL
         |  SELECT '07_tokens_per_doc_ppm',
         |         CAST((SELECT COUNT(*) FROM toks) * 1000000
         |              // (SELECT COUNT(*) FROM nd0) AS BIGINT)
         |  UNION ALL
         |  SELECT '08_exact_dup_docs',
         |         CAST(COALESCE(SUM(c), 0) AS BIGINT)
         |  FROM fp WHERE c >= 2
         |  UNION ALL
         |  SELECT '09_neardup_docs', CAST(COUNT(*) AS BIGINT) FROM lab
         |) ORDER BY metric ASC""".stripMargin,
    // q221: the q191 window/occ CTEs, self-joined on the hash with the
    // source-pair expansion.
    "q221_window_provenance" ->
      s"""WITH nd AS (SELECT source, $duckNorm AS s FROM documents),
         |st AS (
         |  SELECT source, s,
         |         unnest(generate_series(1, greatest(len(s) - 63, 1), 32)) AS i
         |  FROM nd),
         |w AS (SELECT source, md5(substr(s, i, 64)) AS wh FROM st),
         |occ AS (SELECT wh, source, COUNT(*) AS occ FROM w GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(COUNT(*) AS BIGINT) AS shared_windows,
         |       CAST(SUM(least(a.occ, b.occ)) AS BIGINT) AS min_shared_occ
         |FROM occ a JOIN occ b
         |  ON a.wh = b.wh AND a.source < b.source
         |GROUP BY 1, 2
         |ORDER BY shared_windows DESC, src_a ASC, src_b ASC""".stripMargin,
    // q222: identical md5 parity and integer share arithmetic.
    "q222_aa_balance" ->
      (silverCte +
        """, tagged AS (
          |  SELECT event_type,
          |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |              AS BIGINT) % 2 AS arm
          |  FROM silver),
          |tot AS (
          |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS tot_a,
          |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS tot_b
          |  FROM tagged)
          |SELECT event_type,
          |       CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_a,
          |       CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_b,
          |       CAST(abs(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
          |                * 1000000 // tot_a
          |              - SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
          |                * 1000000 // tot_b) AS BIGINT) AS share_diff_ppm
          |FROM tagged CROSS JOIN tot
          |WHERE tot_a > 0 AND tot_b > 0
          |GROUP BY event_type, tot_a, tot_b
          |ORDER BY event_type ASC""".stripMargin),
    // q223: same data-relative anchor; both engines round 2dp-exact
    // doubles to identical cents.
    "q223_backlog_aging" ->
      """WITH a AS (SELECT MAX(o_orderdate) AS d1 FROM orders)
        |SELECT o_orderstatus,
        |       CAST(date_diff('day', o_orderdate, a.d1) // 90 AS INTEGER)
        |         AS age_q,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM orders CROSS JOIN a
        |GROUP BY 1, 2 ORDER BY o_orderstatus ASC, age_q ASC""".stripMargin,
    // q224: the q47 session CTEs carrying event_type; first/last per
    // session via symmetric row_numbers, handoff via per-user lead.
    "q224_session_handoffs" ->
      (silverCte +
        """, flagged AS (
          |  SELECT user_id, event_id, ts, event_type,
          |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
          |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
          |         ELSE 0 END AS new_session
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          |numbered AS (
          |  SELECT user_id, ts, event_id, event_type,
          |    SUM(new_session) OVER (
          |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS session_no
          |  FROM flagged),
          |ranked AS (
          |  SELECT user_id, session_no, event_type,
          |    row_number() OVER (PARTITION BY user_id, session_no
          |      ORDER BY ts ASC, event_id ASC) AS rf,
          |    row_number() OVER (PARTITION BY user_id, session_no
          |      ORDER BY ts DESC, event_id DESC) AS rl
          |  FROM numbered),
          |sessions AS (
          |  SELECT user_id, session_no,
          |    MAX(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
          |    MAX(CASE WHEN rl = 1 THEN event_type END) AS exit_type
          |  FROM ranked GROUP BY 1, 2),
          |h AS (
          |  SELECT exit_type, lead(entry_type) OVER (
          |    PARTITION BY user_id ORDER BY session_no ASC) AS next_entry
          |  FROM sessions),
          |agg AS (
          |  SELECT exit_type, next_entry,
          |         CAST(COUNT(*) AS BIGINT) AS n_handoffs
          |  FROM h WHERE next_entry IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT CAST(SUM(n_handoffs) AS BIGINT) AS t FROM agg)
          |SELECT exit_type, next_entry, n_handoffs,
          |       CAST(n_handoffs * 1000000 // t AS BIGINT) AS share_ppm
          |FROM agg CROSS JOIN t
          |ORDER BY exit_type ASC, next_entry ASC""".stripMargin),
    // q225: identical integer cents/pct units — no computed double is
    // ever rounded on either side.
    "q225_order_consistency" ->
      """WITH lines AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           * (100 + CAST(round(l_tax * 100) AS BIGINT)))
        |           AS BIGINT) AS lines_u
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderstatus,
        |         CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
        |           AS header_u,
        |         l.lines_u,
        |         abs(CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
        |             - COALESCE(l.lines_u, 0)) AS err_u
        |  FROM orders o LEFT JOIN lines l USING (o_orderkey))
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |       CAST(SUM(CASE WHEN lines_u IS NOT NULL AND err_u = 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |       CAST(SUM(CASE WHEN lines_u IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_childless,
        |       CAST(MAX(err_u * 1000000 // header_u) AS BIGINT)
        |         AS max_err_ppm
        |FROM j GROUP BY 1 ORDER BY o_orderstatus ASC""".stripMargin,
    // q226: the dictionary-coder model in TextStats.compressionQuality,
    // verbatim — dictionary = every distinct whitespace token at
    // bytes+1, plus one 1-byte (vocab <= 255) or 2-byte reference per
    // occurrence. Pure integer arithmetic; // and Spark's div agree on
    // the non-negative operands.
    "q226_compression_quality" ->
      """WITH t AS (
        |  SELECT source, strlen(text) AS raw_bytes,
        |         string_split(text, ' ') AS toks
        |  FROM documents WHERE strlen(text) > 0),
        |m AS (
        |  SELECT source, raw_bytes,
        |         list_sum(list_transform(list_distinct(toks),
        |                                 w -> strlen(w) + 1))
        |           + len(toks) * (CASE WHEN len(list_distinct(toks)) <= 255
        |                          THEN 1 ELSE 2 END) AS model_bytes
        |  FROM t),
        |r AS (
        |  SELECT source,
        |         model_bytes * 1000000 // raw_bytes AS ratio_ppm
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT)
        |         AS mean_ratio_ppm,
        |       CAST(SUM(CASE WHEN ratio_ppm < 300000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_too_compressible
        |FROM r GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q227/q228: unbounded-iteration kernels — the oracle unrolls more
    // rounds than the measured convergence point (fixpoint rounds are
    // identities / remove nothing), so "run to convergence" and "run 64
    // rounds" are the same relation on this data. See the generators.
    "q227_pagerank_converged" -> pagerankConvergedOracleSql(64),
    "q228_kcore_peel_census" -> kCorePeelCensusOracleSql(85, 64),
    // q229: all-integer floor arithmetic; lift numerator bounded by
    // w * n_orders * 1e6 << 2^63.
    "q229_association_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
        |pu AS (SELECT pk, COUNT(*) AS n_u FROM op GROUP BY 1),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |bidir AS (
        |  SELECT u, v, w FROM pairs UNION ALL SELECT v, u, w FROM pairs),
        |rules AS (
        |  SELECT r.u, r.v, CAST(r.w AS BIGINT) AS w,
        |         CAST(r.w * 1000000 // pa.n_u AS BIGINT) AS conf_ppm,
        |         CAST(r.w * 1000000 // n.n_orders AS BIGINT) AS supp_ppm,
        |         CAST((r.w * n.n_orders * 1000000) // (pa.n_u * pb.n_u)
        |           AS BIGINT) AS lift_ppm
        |  FROM bidir r
        |  JOIN pu pa ON pa.pk = r.u JOIN pu pb ON pb.pk = r.v
        |  CROSS JOIN n
        |  WHERE r.w >= 3)
        |SELECT u, v, w, conf_ppm, supp_ppm, lift_ppm FROM rules
        |ORDER BY conf_ppm DESC, lift_ppm DESC, u ASC, v ASC LIMIT 20""".stripMargin,
    // q230: identical 48-bit md5 hashes, identical bottom-k ranking, and
    // the KMV estimate (k-1)*2^48 // h_(k) in exact int64.
    "q230_kmv_distinct" ->
      """WITH el AS (
        |  SELECT event_type,
        |         CAST(user_id AS VARCHAR) || '#' ||
        |           CAST(CAST(ts AS DATE) AS VARCHAR) AS elem
        |  FROM events),
        |pt AS (
        |  SELECT DISTINCT event_type, elem,
        |         CAST('0x' || substr(md5(elem), 1, 12) AS BIGINT) AS h
        |  FROM el),
        |truth AS (
        |  SELECT event_type, COUNT(DISTINCT elem) AS n_true FROM pt GROUP BY 1),
        |hs AS (SELECT DISTINCT event_type, h FROM pt),
        |bk AS (
        |  SELECT event_type, h, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h ASC) AS rn
        |  FROM hs),
        |bot AS (SELECT * FROM bk WHERE rn <= 64),
        |mbot AS (
        |  SELECT h, row_number() OVER (ORDER BY h ASC) AS rn
        |  FROM (SELECT DISTINCT h FROM bot)),
        |truth_all AS (
        |  SELECT '_all' AS event_type, COUNT(DISTINCT elem) AS n_true FROM pt),
        |kth AS (
        |  SELECT event_type, h AS kth_min FROM bot WHERE rn = 64
        |  UNION ALL
        |  SELECT '_all', h FROM mbot WHERE rn = 64),
        |allt AS (
        |  SELECT event_type, n_true FROM truth
        |  UNION ALL SELECT event_type, n_true FROM truth_all),
        |est AS (
        |  SELECT t.event_type, CAST(64 AS BIGINT) AS k,
        |         CAST(COALESCE(k.kth_min, 0) AS BIGINT) AS kth_min,
        |         CAST(CASE WHEN k.kth_min IS NULL THEN t.n_true
        |              ELSE (63 * 281474976710656) // k.kth_min END
        |           AS BIGINT) AS est_distinct,
        |         CAST(t.n_true AS BIGINT) AS n_true
        |  FROM allt t LEFT JOIN kth k USING (event_type))
        |SELECT event_type, k, kth_min, est_distinct, n_true,
        |       CAST(abs(est_distinct - n_true) * 1000000 // n_true AS BIGINT)
        |         AS err_ppm
        |FROM est ORDER BY event_type ASC""".stripMargin,
    // q231: same d x w md5 bucketing; min-over-rows read-back; the
    // over_ppm subtraction is >= 0 by the CMS guarantee.
    "q231_cms_heavy_hitters" ->
      s"""WITH wd AS (
         |  SELECT unnest(str_split($duckNorm, ' ')) AS word FROM documents),
         |wf AS (SELECT word FROM wd WHERE length(word) > 0),
         |counts AS (SELECT word, COUNT(*) AS n_true FROM wf GROUP BY 1),
         |rws AS (
         |  SELECT r.r AS cms_row,
         |         CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || word), 1, 12)
         |           AS BIGINT) % 16 AS bucket
         |  FROM wf CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r),
         |sketch AS (
         |  SELECT cms_row, bucket, COUNT(*) AS c FROM rws GROUP BY 1, 2),
         |top AS (
         |  SELECT word, n_true FROM counts
         |  ORDER BY n_true DESC, word ASC LIMIT 10),
         |probes AS (
         |  SELECT word, n_true, r.r AS cms_row,
         |         CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || word), 1, 12)
         |           AS BIGINT) % 16 AS bucket
         |  FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r)
         |SELECT p.word, CAST(p.n_true AS BIGINT) AS n_true,
         |       CAST(MIN(s.c) AS BIGINT) AS cms_est,
         |       CAST((MIN(s.c) - p.n_true) * 1000000 // p.n_true AS BIGINT)
         |         AS over_ppm
         |FROM probes p JOIN sketch s USING (cms_row, bucket)
         |GROUP BY p.word, p.n_true
         |ORDER BY n_true DESC, word ASC""".stripMargin,
    // q232: same integer ceil ((n*8+999999*?)…) — prefix length
    // n - (n*800000 + 999999)//1000000 + 1; identical df-asc/shingle-asc
    // rank; jaccard in exact int ppm.
    "q232_prefix_filter_dups" ->
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
         |  FROM nd WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
         |ord AS (
         |  SELECT s.doc_id, s.shingle, z.n,
         |         row_number() OVER (
         |           PARTITION BY s.doc_id
         |           ORDER BY d.df ASC, s.shingle ASC) AS rn
         |  FROM sh s JOIN dfq d USING (shingle) JOIN sz z USING (doc_id)),
         |pref AS (
         |  SELECT doc_id, shingle FROM ord
         |  WHERE rn <= n - (n * 800000 + 999999) // 1000000 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM pref a JOIN pref b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, COUNT(*) AS i
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.da
         |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
         |  GROUP BY 1, 2),
         |res AS (
         |  SELECT i.da AS doc_a, i.db AS doc_b,
         |         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
         |         CAST(i.i AS BIGINT) AS n_inter,
         |         CAST(i.i * 1000000 // (a.n + b.n - i.i) AS BIGINT) AS jac_ppm
         |  FROM inter i JOIN sz a ON a.doc_id = i.da JOIN sz b ON b.doc_id = i.db)
         |SELECT doc_a, doc_b, n_a, n_b, n_inter, jac_ppm FROM res
         |WHERE jac_ppm >= 800000
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // q233: 8 unrolled relaxations (fixpoint at 3-4 on this graph; later
    // rounds are identities because distances only decrease).
    "q233_cheapest_paths" -> bellmanFordOracleSql(8),
    // q234: identical 48-bit md5 uniform, integer priority, DLT
    // max(w, tau) estimator.
    "q234_priority_sample" ->
      """WITH pri AS (
        |  SELECT doc_id, n_chars,
        |         least(n_chars, 32767) * 281474976710656 //
        |           (CAST('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 12)
        |             AS BIGINT) + 1) AS priority
        |  FROM documents),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY priority DESC, doc_id ASC) AS rank
        |  FROM pri),
        |tau AS (
        |  SELECT COALESCE(MAX(priority), 0) AS tau FROM rk WHERE rank = 65)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(priority AS BIGINT) AS priority,
        |       CAST(t.tau AS BIGINT) AS tau,
        |       CAST(greatest(n_chars, t.tau) AS BIGINT) AS w_est
        |FROM rk CROSS JOIN tau t WHERE rank <= 64
        |ORDER BY rank ASC""".stripMargin,
    // q235: exact per-key product sum vs the MCV+uniform estimate, all
    // int64; the uniform term floors identically (positive operands).
    "q235_join_card_audit" ->
      """WITH fa AS (SELECT user_id AS k, COUNT(*) AS fa FROM events GROUP BY 1),
        |fb AS (SELECT o_custkey AS k, COUNT(*) AS fb FROM orders GROUP BY 1),
        |exact AS (
        |  SELECT COALESCE(CAST(SUM(fa.fa * fb.fb) AS BIGINT), 0) AS exact_rows
        |  FROM fa JOIN fb USING (k)),
        |ta AS (SELECT k, fa FROM fa ORDER BY fa DESC, k ASC LIMIT 20),
        |tb AS (SELECT k, fb FROM fb ORDER BY fb DESC, k ASC LIMIT 20),
        |mcv AS (
        |  SELECT COALESCE(CAST(SUM(ta.fa * tb.fb) AS BIGINT), 0) AS mcv_rows
        |  FROM ta JOIN tb USING (k)),
        |ra AS (
        |  SELECT COALESCE(CAST(SUM(fa) AS BIGINT), 0) AS n_ra,
        |         COUNT(*) AS d_ra
        |  FROM fa ANTI JOIN ta USING (k)),
        |rb AS (
        |  SELECT COALESCE(CAST(SUM(fb) AS BIGINT), 0) AS n_rb,
        |         COUNT(*) AS d_rb
        |  FROM fb ANTI JOIN tb USING (k)),
        |sides AS (
        |  SELECT (SELECT CAST(SUM(fa) AS BIGINT) FROM fa) AS n_a,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM fa) AS d_a,
        |         (SELECT CAST(SUM(fb) AS BIGINT) FROM fb) AS n_b,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM fb) AS d_b),
        |est AS (
        |  SELECT s.n_a, s.d_a, s.n_b, s.d_b, e.exact_rows,
        |         CAST(m.mcv_rows +
        |           CASE WHEN ra.d_ra > 0 AND rb.d_rb > 0
        |                THEN ra.n_ra * rb.n_rb // greatest(ra.d_ra, rb.d_rb)
        |                ELSE 0 END AS BIGINT) AS est_rows
        |  FROM sides s, exact e, mcv m, ra, rb)
        |SELECT n_a, d_a, n_b, d_b, exact_rows, est_rows,
        |       CAST(abs(est_rows - exact_rows) * 1000000 // exact_rows
        |         AS BIGINT) AS err_ppm
        |FROM est WHERE exact_rows > 0""".stripMargin,
    // q236: disjoint calendar slices; per-row cent quantization; the
    // left-join label rendered as 0/1 BIGINT on both engines.
    "q236_label_frame" ->
      (silverCte +
        """, feat AS (
          |  SELECT user_id, COUNT(*) AS n_events,
          |         COUNT(DISTINCT event_date) AS n_active_days,
          |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |           AS value_cents,
          |         MAX(event_date) AS last_active
          |  FROM silver
          |  WHERE event_date >= DATE '2024-01-01'
          |    AND event_date < DATE '2024-01-22'
          |  GROUP BY 1),
          |lab AS (
          |  SELECT DISTINCT user_id FROM silver
          |  WHERE event_date >= DATE '2024-01-22'
          |    AND event_date < DATE '2024-01-23'
          |    AND event_type = 'purchase')
          |SELECT f.user_id, CAST(f.n_events AS BIGINT) AS n_events,
          |       CAST(f.n_active_days AS BIGINT) AS n_active_days,
          |       f.value_cents,
          |       CAST(date_diff('day', f.last_active, DATE '2024-01-22')
          |         AS BIGINT) AS recency_days,
          |       CAST(CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END
          |         AS BIGINT) AS label_purchase
          |FROM feat f LEFT JOIN lab l USING (user_id)
          |ORDER BY f.user_id ASC""".stripMargin),
    // q237: cents quantized per row; both share divisions on positive
    // int64 operands.
    "q237_hierarchy_shares" ->
      """WITH nat AS (
        |  SELECT r.r_name, n.n_name,
        |         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS rev_cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |reg AS (
        |  SELECT r_name, CAST(SUM(rev_cents) AS BIGINT) AS reg_cents
        |  FROM nat GROUP BY 1),
        |tot AS (SELECT CAST(SUM(reg_cents) AS BIGINT) AS tot_cents FROM reg)
        |SELECT n.r_name, n.n_name, n.rev_cents,
        |       CAST(n.rev_cents * 1000000 // g.reg_cents AS BIGINT)
        |         AS nation_share_ppm,
        |       CAST(g.reg_cents * 1000000 // t.tot_cents AS BIGINT)
        |         AS region_share_ppm
        |FROM nat n JOIN reg g USING (r_name) CROSS JOIN tot t
        |ORDER BY r_name ASC, n_name ASC""".stripMargin,
    // q238: day-difference integers, generate_series spine, floor hazard.
    "q238_conversion_lifetable" ->
      (silverCte +
        """, fv AS (
          |  SELECT user_id, MIN(ts) AS view_ts FROM silver
          |  WHERE event_type = 'view' GROUP BY 1),
          |fb AS (
          |  SELECT f.user_id, f.view_ts, MIN(s.ts) AS conv_ts
          |  FROM fv f LEFT JOIN silver s
          |    ON s.user_id = f.user_id AND s.event_type = 'purchase'
          |       AND s.ts >= f.view_ts
          |  GROUP BY 1, 2),
          |pu AS (
          |  SELECT date_diff('day', CAST(view_ts AS DATE), CAST(conv_ts AS DATE))
          |           AS t_conv,
          |         date_diff('day', CAST(view_ts AS DATE), DATE '2024-01-31')
          |           AS horizon
          |  FROM fb),
          |spine AS (SELECT unnest(generate_series(0, 31)) AS k),
          |lt AS (
          |  SELECT k,
          |         CAST(SUM(CASE WHEN (t_conv IS NOT NULL AND t_conv >= k)
          |                        OR (t_conv IS NULL AND horizon >= k)
          |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
          |         CAST(SUM(CASE WHEN t_conv = k THEN 1 ELSE 0 END)
          |           AS BIGINT) AS n_conv
          |  FROM spine CROSS JOIN pu GROUP BY 1)
          |SELECT CAST(k AS BIGINT) AS k, n_at_risk, n_conv,
          |       CAST(n_conv * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
          |FROM lt WHERE n_at_risk > 0 ORDER BY k ASC""".stripMargin),
    // q239: identical 300 s buckets (+/-1 neighbor), epoch-second and
    // cent tolerances exact.
    "q239_event_neardups" ->
      (silverCte +
        """, e AS (
          |  SELECT user_id, event_type, event_id,
          |         epoch_us(ts) // 1000000 AS sec,
          |         CAST(round(value * 100) AS BIGINT) AS cents,
          |         (epoch_us(ts) // 1000000) // 300 AS b
          |  FROM silver),
          |probe AS (SELECT *, unnest([b - 1, b, b + 1]) AS bb FROM e),
          |p AS (
          |  SELECT DISTINCT a.event_type, a.event_id AS id1, x.event_id AS id2,
          |         abs(a.sec - x.sec) AS gap
          |  FROM probe a JOIN e x
          |    ON a.user_id = x.user_id AND a.event_type = x.event_type
          |       AND a.bb = x.b AND a.event_id < x.event_id
          |  WHERE abs(a.sec - x.sec) <= 300 AND abs(a.cents - x.cents) <= 1000),
          |inv AS (
          |  SELECT event_type, COUNT(DISTINCT id) AS n_events FROM (
          |    SELECT event_type, id1 AS id FROM p
          |    UNION ALL SELECT event_type, id2 FROM p)
          |  GROUP BY 1)
          |SELECT p.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          |       CAST(i.n_events AS BIGINT) AS n_events,
          |       CAST(SUM(p.gap) AS BIGINT) AS sum_gap_s,
          |       CAST(MAX(p.gap) AS BIGINT) AS max_gap_s
          |FROM p JOIN inv i USING (event_type)
          |GROUP BY p.event_type, i.n_events
          |ORDER BY p.event_type ASC""".stripMargin),
    // q240: integer bin edges lo + k*span // B, per-bin interpolation
    // cnt*overlap // width — floors match (positive operands).
    "q240_selectivity_audit" ->
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |mm AS (SELECT MIN(v) AS lo, MAX(v) - MIN(v) + 1 AS span FROM c),
        |bins AS (
        |  SELECT (v - mm.lo) * 1024 // mm.span AS bin, COUNT(*) AS cnt
        |  FROM c CROSS JOIN mm GROUP BY 1),
        |br AS (
        |  SELECT b.b AS bin, COALESCE(bins.cnt, 0) AS cnt,
        |         mm.lo + b.b * mm.span // 1024 AS bin_lo,
        |         mm.lo + (b.b + 1) * mm.span // 1024 AS bin_hi
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) b
        |  LEFT JOIN bins ON bins.bin = b.b CROSS JOIN mm),
        |probes AS (
        |  SELECT p.i AS probe_id,
        |         mm.lo + p.a * mm.span // 1000 AS p_lo,
        |         mm.lo + p.b * mm.span // 1000 AS p_hi
        |  FROM (VALUES (0, 50, 137), (1, 137, 411), (2, 411, 703),
        |               (3, 703, 997)) p(i, a, b)
        |  CROSS JOIN mm),
        |est AS (
        |  SELECT p.probe_id, p.p_lo, p.p_hi,
        |         CAST(SUM(CASE WHEN br.bin_hi > p.p_lo AND br.bin_lo < p.p_hi
        |                        AND br.bin_hi > br.bin_lo
        |              THEN br.cnt * (least(br.bin_hi, p.p_hi)
        |                             - greatest(br.bin_lo, p.p_lo))
        |                   // (br.bin_hi - br.bin_lo) ELSE 0 END)
        |           AS BIGINT) AS est_rows
        |  FROM probes p CROSS JOIN br GROUP BY 1, 2, 3),
        |ex AS (
        |  SELECT p.probe_id, COUNT(*) AS exact_rows
        |  FROM probes p JOIN c ON c.v >= p.p_lo AND c.v < p.p_hi
        |  GROUP BY 1)
        |SELECT CAST(e.probe_id AS BIGINT) AS probe_id,
        |       CAST(e.p_lo AS BIGINT) AS p_lo, CAST(e.p_hi AS BIGINT) AS p_hi,
        |       CAST(x.exact_rows AS BIGINT) AS exact_rows, e.est_rows,
        |       CAST(abs(e.est_rows - x.exact_rows) * 1000000 // x.exact_rows
        |         AS BIGINT) AS err_ppm
        |FROM est e JOIN ex x USING (probe_id) ORDER BY probe_id ASC""".stripMargin,
    // q241: identical week bucketing and cent quantization; NRR division
    // on positive operands.
    "q241_revenue_retention" ->
      (silverCte +
        """, d0 AS (SELECT MIN(event_date) AS d0 FROM silver),
          |uw AS (
          |  SELECT user_id,
          |         date_diff('day', d0.d0, event_date) // 7 AS week,
          |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |           AS cents
          |  FROM silver CROSS JOIN d0
          |  WHERE date_diff('day', d0.d0, event_date) // 7 BETWEEN 0 AND 3
          |  GROUP BY 1, 2),
          |coh AS (SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY 1),
          |cells AS (
          |  SELECT c.cohort, u.week,
          |         CAST(SUM(u.cents) AS BIGINT) AS rev_cents,
          |         CAST(COUNT(*) AS BIGINT) AS n_users
          |  FROM uw u JOIN coh c USING (user_id) GROUP BY 1, 2),
          |base AS (
          |  SELECT cohort, rev_cents AS cohort_cents FROM cells
          |  WHERE week = cohort AND rev_cents > 0)
          |SELECT CAST(c.cohort AS BIGINT) AS cohort,
          |       CAST(c.week AS BIGINT) AS week, c.n_users, c.rev_cents,
          |       CAST(c.rev_cents * 1000000 // b.cohort_cents AS BIGINT)
          |         AS nrr_ppm
          |FROM cells c JOIN base b USING (cohort)
          |ORDER BY cohort ASC, week ASC""".stripMargin),
    // q242: same session rule as q47; minute bins via integer micros.
    "q242_concurrency_peaks" ->
      (silverCte +
        """, sn AS (
          |  SELECT user_id, ts, event_id,
          |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
          |                   > 1800 * 1000000 THEN 1 ELSE 0 END AS ns
          |  FROM silver
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          |s2 AS (
          |  SELECT user_id,
          |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ASC,
          |           event_id ASC ROWS UNBOUNDED PRECEDING) AS session_no,
          |         epoch_us(ts) // 1000000 AS sec
          |  FROM sn),
          |sess AS (
          |  SELECT user_id, session_no,
          |         MIN(sec) // 60 AS m0, MAX(sec) // 60 AS m1
          |  FROM s2 GROUP BY 1, 2),
          |pm AS (
          |  SELECT m AS minute, COUNT(*) AS conc FROM (
          |    SELECT unnest(generate_series(m0, m1)) AS m FROM sess)
          |  GROUP BY 1),
          |pk AS (
          |  SELECT CAST(to_timestamp(minute * 60) AS DATE) AS day,
          |         minute, conc,
          |         row_number() OVER (
          |           PARTITION BY CAST(to_timestamp(minute * 60) AS DATE)
          |           ORDER BY conc DESC, minute ASC) AS rn
          |  FROM pm)
          |SELECT day, CAST(minute AS BIGINT) AS peak_minute,
          |       CAST(conc AS BIGINT) AS max_concurrency
          |FROM pk WHERE rn = 1 ORDER BY day ASC""".stripMargin),
    // q243: the q27 pair chain (shared text via minhashPairSql) + the
    // q232 prefix chain on the same `sh`, reduced to one audit row.
    "q243_dedup_recall_audit" ->
      s"""$minhashPairSql,
         |dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
         |ord2 AS (
         |  SELECT s.doc_id, s.shingle, z.n,
         |         row_number() OVER (
         |           PARTITION BY s.doc_id
         |           ORDER BY d.df ASC, s.shingle ASC) AS rn
         |  FROM sh s JOIN dfq d USING (shingle) JOIN sizes z USING (doc_id)),
         |pref AS (
         |  SELECT doc_id, shingle FROM ord2
         |  WHERE rn <= n - (n * 800000 + 999999) // 1000000 + 1),
         |pfcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |pfinter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
         |  FROM pfcand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         |  GROUP BY 1, 2),
         |exactp AS (
         |  SELECT i.doc_a, i.doc_b FROM pfinter i
         |  JOIN sizes a ON a.doc_id = i.doc_a
         |  JOIN sizes b ON b.doc_id = i.doc_b
         |  WHERE i.i * 1000000 // (a.n + b.n - i.i) >= 800000),
         |agg AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exactp) AS n_exact,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_verified,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs p
         |            JOIN exactp e ON e.doc_a = p.doc_a
         |              AND e.doc_b = p.doc_b) AS n_hits)
         |SELECT n_exact, n_candidates, n_verified, n_hits,
         |       CAST(n_hits * 1000000 // n_exact AS BIGINT) AS recall_ppm,
         |       CAST(n_verified * 1000000 // n_candidates AS BIGINT)
         |         AS cand_precision_ppm
         |FROM agg WHERE n_exact > 0 AND n_candidates > 0""".stripMargin,
    // q244: identical md5 fold hash; expectation and deviation in exact
    // integer milli/ppm.
    "q244_kfold_balance" ->
      """WITH folded AS (
        |  SELECT source,
        |         CAST('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 5 AS fold
        |  FROM documents),
        |cells AS (
        |  SELECT fold, source, COUNT(*) AS n_docs
        |  FROM folded GROUP BY 1, 2),
        |rt AS (SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_n
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_n
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cells)
        |SELECT CAST(c.fold AS BIGINT) AS fold, c.source,
        |       CAST(c.n_docs AS BIGINT) AS n_docs,
        |       CAST(r.fold_n * x.src_n * 1000 // t.total AS BIGINT)
        |         AS expected_milli,
        |       CAST(abs(c.n_docs * t.total - r.fold_n * x.src_n) * 1000000
        |         // (r.fold_n * x.src_n) AS BIGINT) AS dev_ppm
        |FROM cells c JOIN rt r USING (fold) JOIN ct x USING (source)
        |CROSS JOIN tot t
        |ORDER BY fold ASC, source ASC""".stripMargin,
    // q245: identical integer Q-term arithmetic (4*m*e_c - d_c^2).
    "q245_brand_modularity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |lab AS (
        |  SELECT p.u, p.v, pa.p_brand AS bu, pb.p_brand AS bv
        |  FROM pairs p
        |  JOIN part pa ON pa.p_partkey = p.u
        |  JOIN part pb ON pb.p_partkey = p.v),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
        |internal AS (
        |  SELECT bu AS brand, CAST(COUNT(*) AS BIGINT) AS e_c
        |  FROM lab WHERE bu = bv GROUP BY 1),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY 1),
        |bb AS (
        |  SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(SUM(d.deg) AS BIGINT) AS d_c
        |  FROM deg d JOIN part p ON p.p_partkey = d.n GROUP BY 1)
        |SELECT b.brand, b.n_nodes,
        |       CAST(COALESCE(i.e_c, 0) AS BIGINT) AS internal_edges,
        |       b.d_c AS degree_sum, m.m,
        |       CAST(4 * m.m * COALESCE(i.e_c, 0) - b.d_c * b.d_c AS BIGINT)
        |         AS q_num
        |FROM bb b LEFT JOIN internal i ON i.brand = b.brand CROSS JOIN m
        |ORDER BY b.brand ASC""".stripMargin,
    // q246: the q33 chain shared via langIdCtes so the two cannot drift.
    "q246_langid_confusion" -> langIdConfusionOracle,
    // q247: identical lag windows over the (type, day) frame; the one
    // division on positive operands.
    "q247_forecast_backtest" ->
      (silverCte +
        """, daily AS (
          |  SELECT event_type, event_date, COUNT(*) AS y
          |  FROM silver GROUP BY 1, 2),
          |lagged AS (
          |  SELECT event_type, event_date, y,
          |         lag(y, 7) OVER w AS snaive,
          |         lag(y, 1) OVER w AS naive1
          |  FROM daily
          |  WINDOW w AS (PARTITION BY event_type ORDER BY event_date ASC)),
          |mx AS (SELECT MAX(event_date) AS maxd FROM daily),
          |t AS (
          |  SELECT event_type, COUNT(*) AS n_days,
          |         CAST(SUM(abs(y - snaive)) AS BIGINT) AS snaive_abs_err,
          |         CAST(SUM(abs(y - naive1)) AS BIGINT) AS naive1_abs_err
          |  FROM lagged CROSS JOIN mx
          |  WHERE date_diff('day', event_date, maxd) < 7
          |    AND snaive IS NOT NULL AND naive1 IS NOT NULL
          |  GROUP BY 1)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
          |       snaive_abs_err, naive1_abs_err,
          |       CAST(snaive_abs_err * 1000000 // naive1_abs_err AS BIGINT)
          |         AS mase_ppm
          |FROM t WHERE naive1_abs_err > 0
          |ORDER BY event_type ASC""".stripMargin),
    // q248: identical md5 sample, equi-depth tags (cum-1)*B // ns, and
    // max-start assignment.
    "q248_range_balance" ->
      """WITH v AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |sample AS (
        |  SELECT * FROM v
        |  WHERE CAST('0x' || substr(md5('rp:' || CAST(k AS VARCHAR)), 1, 15)
        |          AS BIGINT) % 1000 < 20),
        |hist AS (SELECT v, COUNT(*) AS c FROM sample GROUP BY 1),
        |ns AS (SELECT COUNT(*) AS ns FROM sample),
        |tagged AS (
        |  SELECT v, (SUM(c) OVER (ORDER BY v ASC
        |               ROWS UNBOUNDED PRECEDING) - 1) * 32 // ns.ns AS b
        |  FROM hist CROSS JOIN ns),
        |starts AS (SELECT b, MIN(v) AS start_v FROM tagged GROUP BY 1),
        |assigned AS (
        |  SELECT x.k, MAX(s.b) AS bucket
        |  FROM v x JOIN starts s ON s.start_v <= x.v
        |  GROUP BY 1),
        |below AS (
        |  SELECT x.k, CAST(0 AS BIGINT) AS bucket
        |  FROM v x CROSS JOIN (SELECT MIN(start_v) AS m FROM starts) s
        |  WHERE x.v < s.m),
        |counts AS (
        |  SELECT bucket, COUNT(*) AS n_orders FROM (
        |    SELECT * FROM assigned UNION ALL SELECT * FROM below)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM counts)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(n_orders * 1000000 // t.t AS BIGINT) AS share_ppm
        |FROM counts CROSS JOIN tot t
        |ORDER BY bucket ASC""".stripMargin,
    // q249: identical exact-unit revenue, identical rank tiebreaks,
    // integer concordance counts.
    "q249_rank_agreement" ->
      """WITH bp AS (
        |  SELECT l_partkey,
        |         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |           AS BIGINT) AS rev_u,
        |         COUNT(DISTINCT l_orderkey) AS n_orders
        |  FROM lineitem GROUP BY 1),
        |rk AS (
        |  SELECT l_partkey, n_orders,
        |         row_number() OVER (ORDER BY rev_u DESC, l_partkey ASC)
        |           AS r_rev,
        |         row_number() OVER (ORDER BY n_orders DESC, l_partkey ASC)
        |           AS r_freq
        |  FROM bp),
        |top AS (SELECT * FROM rk WHERE r_rev <= 50),
        |cls AS (
        |  SELECT CASE WHEN a.n_orders = b.n_orders THEN 'tie'
        |              WHEN a.r_freq < b.r_freq THEN 'concordant'
        |              ELSE 'discordant' END AS cls
        |  FROM top a JOIN top b ON a.r_rev < b.r_rev)
        |SELECT CAST(50 AS BIGINT) AS k,
        |       CAST(50 * 49 / 2 AS BIGINT) AS n_pairs,
        |       CAST(SUM(CASE WHEN cls = 'concordant' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS concordant,
        |       CAST(SUM(CASE WHEN cls = 'discordant' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS discordant,
        |       CAST(SUM(CASE WHEN cls = 'tie' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS ties,
        |       CAST(SUM(CASE WHEN cls = 'concordant' THEN 1 ELSE 0 END)
        |          - SUM(CASE WHEN cls = 'discordant' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS tau_num
        |FROM cls""".stripMargin,
    // q250: the q78 keep-list, q66 quality/repetition, q52 split and
    // q155 grouped-greedy packing CTEs composed into the one-pipeline
    // funnel — every piece is the already-hash-gated component text, so
    // the composition pins only the interactions (dedup-before-quality,
    // split-on-bronze, pack-after-both-gates). Round 10 swapped the pack
    // stage from the q94 unbounded prefix sum to the q155 bounded-chain
    // recursive walk (verdict what's-wrong 3), in lockstep with the
    // Spark side's greedyGroupedPlacement composition.
    "q250_curation_pipeline" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |keepl AS (
         |  SELECT d.doc_id, COALESCE(l.doc_id = l.cluster_id, TRUE) AS kept
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |nq AS (SELECT doc_id, source, $duckNorm AS norm FROM documents),
         |tq AS (SELECT doc_id, source, norm, str_split(norm, ' ') AS w FROM nq),
         |qual AS (
         |  SELECT doc_id,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0
         |             AS INTEGER) AS quality
         |  FROM tq),
         |words AS (SELECT doc_id, unnest(w) AS wd FROM tq),
         |ws AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |         COUNT(*) AS n_distinct_words
         |  FROM (SELECT doc_id, wd, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
         |  GROUP BY 1),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
         |           array_to_string(w[i:i+1], ' '))) AS b
         |  FROM tq WHERE len(w) >= 2),
         |bs AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |         MAX(cnt) AS top_bigram_cnt
         |  FROM (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
         |  GROUP BY 1),
         |rep AS (
         |  SELECT w.doc_id,
         |         (((w.n_words - w.n_distinct_words) * 1000000) // w.n_words <= 600000
         |          AND (b.top_bigram_cnt * 1000000) // b.n_bigrams <= 180000)
         |           AS keep_repetition
         |  FROM ws w JOIN bs b USING (doc_id)),
         |spl AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |toks AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM tq),
         |base AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, k.kept, q.quality, s.split, t.n_tokens,
         |         (k.kept AND q.quality = 3
         |          AND COALESCE(r.keep_repetition, TRUE)) AS survivor
         |  FROM documents d
         |  JOIN keepl k USING (doc_id)
         |  JOIN qual q USING (doc_id)
         |  LEFT JOIN rep r USING (doc_id)
         |  JOIN spl s USING (doc_id)
         |  JOIN toks t USING (doc_id)),
         |ptoks AS MATERIALIZED (
         |  SELECT source, doc_id, n_tokens,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC)
         |           AS rn_all
         |  FROM base WHERE survivor AND split = 'train'),
         |-- pg MUST be materialized: the recursive pwalk member re-executes
         |-- every un-materialized upstream CTE once PER ITERATION — without
         |-- this the whole minhash keep-list pipeline ran ~100 times and the
         |-- oracle went from seconds to hours at sf0.1.
         |pg AS MATERIALIZED (
         |  SELECT source, doc_id, n_tokens,
         |         CAST((rn_all - 1) // 100 AS BIGINT) AS grp,
         |         CAST((rn_all - 1) % 100 + 1 AS BIGINT) AS rn
         |  FROM ptoks),
         |pwalk AS (
         |  SELECT source, grp, doc_id, n_tokens, rn,
         |         CAST(0 AS BIGINT) AS chunk_local, n_tokens AS fill
         |  FROM pg WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.grp, t.doc_id, t.n_tokens, t.rn,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN w.chunk_local + 1 ELSE w.chunk_local END,
         |         CASE WHEN w.fill + t.n_tokens > 512
         |              THEN t.n_tokens ELSE w.fill + t.n_tokens END
         |  FROM pg t JOIN pwalk w
         |    ON t.source = w.source AND t.grp = w.grp AND t.rn = w.rn + 1),
         |packed AS (
         |  SELECT source,
         |         COUNT(DISTINCT grp * 100 + chunk_local) AS n_chunks
         |  FROM pwalk GROUP BY 1),
         |agg AS (
         |  SELECT source,
         |         COUNT(*) AS n_bronze,
         |         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_dedup_kept,
         |         CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_clean,
         |         CAST(SUM(CASE WHEN survivor AND split = 'train' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_train,
         |         CAST(SUM(CASE WHEN survivor AND split = 'val' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_val,
         |         CAST(SUM(CASE WHEN survivor AND split = 'test' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_test,
         |         CAST(SUM(CASE WHEN survivor AND split = 'train' THEN n_tokens ELSE 0 END)
         |           AS BIGINT) AS train_tokens
         |  FROM base GROUP BY 1)
         |SELECT a.source, a.n_bronze, a.n_dedup_kept, a.n_clean, a.n_train,
         |       a.n_val, a.n_test, a.train_tokens,
         |       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks
         |FROM agg a LEFT JOIN packed p USING (source)
         |ORDER BY a.source ASC""".stripMargin,
    // q251: prefix-slice truncation, then the q34 cosine/ranking contract
    // per dim; recall joins against the full-dim truth.
    "q251_matryoshka_recall" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cosf AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.e, n.e) / (sqrt(list_dot_product(q.e, q.e))
        |      * sqrt(list_dot_product(n.e, n.e))) AS cos
        |  FROM v q JOIN v n ON n.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |    FROM cosf) WHERE rnk <= 5),
        |dims(dim) AS (VALUES (8), (16), (32), (64)),
        |tv AS (SELECT d.dim, vec_id, e[1:d.dim] AS te FROM v, dims d),
        |cost AS (
        |  SELECT q.dim, q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.te, n.te) / (sqrt(list_dot_product(q.te, q.te))
        |      * sqrt(list_dot_product(n.te, n.te))) AS cos
        |  FROM tv q JOIN tv n ON n.dim = q.dim AND n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |trunc AS (
        |  SELECT dim, query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY dim, query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |    FROM cost) WHERE rnk <= 5)
        |SELECT CAST(d.dim AS BIGINT) AS dim, t.query_id AS query_id,
        |       COUNT(*) AS k,
        |       CAST(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS hits,
        |       CAST(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |         * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
        |FROM truth t CROSS JOIN dims d
        |LEFT JOIN trunc tr ON tr.dim = d.dim AND tr.query_id = t.query_id
        |  AND tr.neighbor_id = t.neighbor_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q252: the q35 sign-LSH CTEs, cross-split candidates, exact-cosine
    // decile census.
    "q252_semantic_leakage" ->
      (lshCte +
        s""",
           |cand AS (
           |  SELECT DISTINCT e.vec_id AS eval_id, t.vec_id AS train_id
           |  FROM bands e JOIN bands t ON e.band = t.band AND e.bval = t.bval
           |  WHERE e.vec_id % 7 = 3 AND t.vec_id % 7 <> 3),
           |cos AS (
           |  SELECT c.eval_id, c.train_id, $duckCos AS cos
           |  FROM cand c
           |  JOIN v qv ON qv.vec_id = c.eval_id
           |  JOIN v nv ON nv.vec_id = c.train_id)
           |SELECT CAST(floor(cos * 10) AS BIGINT) AS cos_decile,
           |       COUNT(*) AS n_pairs,
           |       COUNT(DISTINCT train_id) AS n_train_docs,
           |       COUNT(DISTINCT eval_id) AS n_eval_docs
           |FROM cos GROUP BY 1 ORDER BY 1""".stripMargin),
    // q253: the q66 quality CTE bucketed by 64-char length bands; the
    // per-band share is integer ppm over a window.
    "q253_quality_length_calibration" ->
      s"""WITH nq AS (SELECT doc_id, n_chars, $duckNorm AS norm FROM documents),
         |tq AS (SELECT doc_id, n_chars, norm, str_split(norm, ' ') AS w FROM nq),
         |qual AS (
         |  SELECT doc_id, n_chars // 64 AS len_bucket,
         |    CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
         |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
         |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
         |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0
         |             AS INTEGER) AS quality
         |  FROM tq),
         |m AS (
         |  SELECT len_bucket, quality, COUNT(*) AS n_docs
         |  FROM qual GROUP BY 1, 2)
         |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
         |       CAST(quality AS BIGINT) AS quality,
         |       CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_docs * 1000000 // SUM(n_docs) OVER (PARTITION BY len_bucket)
         |         AS BIGINT) AS bucket_share_ppm
         |FROM m ORDER BY len_bucket ASC, quality ASC""".stripMargin,
    // q254: single-node row_number ranks (the Spark side's bucket-offset
    // decomposition reproduces exactly this order: the md5 first byte is
    // a prefix of the full sort key); discrete quartiles at the shared
    // 1-indexed positions.
    "q254_epoch_dispersion" ->
      """WITH epochs(e) AS (VALUES (0), (1), (2)),
        |r AS (
        |  SELECT e, doc_id,
        |    CAST(row_number() OVER (PARTITION BY e
        |      ORDER BY md5('epoch:' || CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) ASC,
        |               doc_id ASC) AS BIGINT) AS rnk
        |  FROM documents, epochs),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |hk AS (SELECT greatest(1, (SELECT n // 100 FROM n)) AS k),
        |d AS (
        |  SELECT a.e AS pair_id, abs(a.rnk - b.rnk) AS disp,
        |         (a.rnk <= (SELECT k FROM hk)
        |          AND b.rnk <= (SELECT k FROM hk)) AS head_both
        |  FROM r a JOIN r b ON b.doc_id = a.doc_id AND b.e = a.e + 1
        |  WHERE a.e < 2),
        |dr AS (
        |  SELECT pair_id, disp, head_both,
        |    CAST(row_number() OVER (PARTITION BY pair_id ORDER BY disp ASC)
        |      AS BIGINT) AS dr
        |  FROM d)
        |SELECT CAST(pair_id AS BIGINT) AS pair_id,
        |  CAST(MAX(CASE WHEN dr = (SELECT (n + 3) // 4 FROM n) THEN disp END)
        |    AS BIGINT) AS p25,
        |  CAST(MAX(CASE WHEN dr = (SELECT (n + 1) // 2 FROM n) THEN disp END)
        |    AS BIGINT) AS p50,
        |  CAST(MAX(CASE WHEN dr = (SELECT (3 * n + 3) // 4 FROM n) THEN disp END)
        |    AS BIGINT) AS p75,
        |  CAST((SELECT k FROM hk) AS BIGINT) AS head_k,
        |  CAST(SUM(CASE WHEN head_both THEN 1 ELSE 0 END) AS BIGINT)
        |    AS head_overlap
        |FROM dr GROUP BY 1 ORDER BY pair_id""".stripMargin,
    // q255: identical md5 shard hash and integer shares.
    "q255_shard_balance" ->
      s"""WITH s AS (
         |  SELECT CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |           AS BIGINT) % 64 AS shard,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT shard, COUNT(*) AS n_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM s GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
         |             CAST(SUM(n_tokens) AS BIGINT) AS tt FROM g)
         |SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
         |       CAST(n_docs * 1000000 // t.td AS BIGINT) AS doc_share_ppm,
         |       CAST(n_tokens * 1000000 // t.tt AS BIGINT) AS token_share_ppm
         |FROM g CROSS JOIN t ORDER BY shard ASC""".stripMargin,
    // q256: exact discrete percentiles at pos = (pct*n + 99) // 100. The
    // gate covers ONLY the exact order statistics (round-9 advice: the
    // oracle has no percentile_approx twin, so its old within_1pct was a
    // hard-coded TRUE literal — the sketch-tolerance verdict now lives in
    // percentileSketchDetail + a DiagnosticsSpec assertion).
    "q256_percentile_audit" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (
        |  SELECT v, CAST(row_number() OVER (ORDER BY v ASC) AS BIGINT) AS rnk
        |  FROM v),
        |p(pct) AS (VALUES (50), (90), (99))
        |SELECT CAST(p.pct AS BIGINT) AS pct,
        |       CAST(MAX(CASE WHEN r.rnk = (p.pct * n.n + 99) // 100 THEN r.v END)
        |         AS BIGINT) AS exact_cents
        |FROM p CROSS JOIN n JOIN r ON r.rnk = (p.pct * n.n + 99) // 100
        |GROUP BY 1 ORDER BY pct ASC""".stripMargin,
    // q257: same z interleave (zValueSql, one source of truth with q96),
    // single-node row_number ranks standing in for the bucket-offset
    // decomposition, identical chunking and probe arithmetic.
    "q257_layout_pruning" ->
      s"""WITH li AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |         l_orderkey * 10 + l_linenumber AS tie
         |  FROM lineitem),
         |zz AS (
         |  SELECT pk, sk, tie,
         |         ${graft.functions.ZOrder.zValueSql("pk", "sk",
              graft.analytics.Layout.CurveBits)} AS z
         |  FROM li),
         |lay AS (
         |  SELECT 'natural' AS part, tie AS v, tie, pk FROM zz
         |  UNION ALL SELECT 'sorted', pk, tie, pk FROM zz
         |  UNION ALL SELECT 'zorder', z, tie, pk FROM zz),
         |r AS (
         |  SELECT part, pk,
         |    CAST(row_number() OVER (PARTITION BY part ORDER BY v ASC, tie ASC)
         |      AS BIGINT) AS rnk
         |  FROM lay),
         |ch AS (
         |  SELECT part, (rnk - 1) // 4096 AS chunk, MIN(pk) AS lo, MAX(pk) AS hi
         |  FROM r GROUP BY 1, 2),
         |m AS (SELECT MAX(l_partkey) AS mx FROM lineitem),
         |ks(k) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
         |pr AS (
         |  SELECT CAST(k AS BIGINT) AS probe_id,
         |         CAST((2 * k + 1) * (m.mx + 1) // 16 AS BIGINT) AS probe_pk
         |  FROM ks CROSS JOIN m),
         |nch AS (SELECT part, COUNT(*) AS n_chunks FROM ch GROUP BY 1)
         |SELECT c.part AS layout, p.probe_id, p.probe_pk,
         |       CAST(n.n_chunks AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN c.lo <= p.probe_pk AND p.probe_pk <= c.hi
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
         |FROM ch c CROSS JOIN pr p JOIN nch n ON n.part = c.part
         |GROUP BY 1, 2, 3, 4
         |ORDER BY layout ASC, probe_id ASC""".stripMargin,
    // q258: the 12 BPE merge rounds UNROLLED as chained CTEs (like
    // q115/q192; SQL forbids aggregates in a recursive member).
    // MATERIALIZED is load-bearing: s{k} is referenced by both p{k+1}
    // and s{k+1}, so without it DuckDB inlines the chain and the corpus
    // scan re-evaluates 2^12 times. Same double-space sequence encoding
    // and replace() merge as the Spark side.
    "q258_bpe_vocab_build" -> bpeVocabOracle(12),
    // q259: the same chain, final round's word-token map joined to the
    // corpus word stream; all-integer fertility/compression ppm.
    "q259_bpe_tokenize" -> bpeTokenizeOracle(12),
    // q261: identical integer-ppm KN pipeline — distinct-bigram counts,
    // successor/predecessor/type recounts, the same floor-div formula.
    "q261_kn_bigram_lm" ->
      s"""WITH t AS (
         |  SELECT lang, str_split($duckNorm, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT lang, w[i] AS w1, w[i+1] AS w2
         |  FROM t CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |counted AS (
         |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bg GROUP BY 1, 2, 3),
         |ctx AS (
         |  SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt,
         |         CAST(COUNT(*) AS BIGINT) AS n1p_w1
         |  FROM counted GROUP BY 1, 2),
         |cont AS (
         |  SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS n1p_right
         |  FROM counted GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1p_total
         |  FROM counted GROUP BY 1),
         |j AS (
         |  SELECT c.lang, c.w1, c.w2, c.cnt, x.ctx_cnt, x.n1p_w1,
         |         n1p_right * 1000000 // n1p_total AS pcont_ppm,
         |         3 * x.n1p_w1 * 1000000 // (4 * x.ctx_cnt) AS lambda_ppm
         |  FROM counted c
         |  JOIN ctx x ON x.lang = c.lang AND x.w1 = c.w1
         |  JOIN cont n ON n.lang = c.lang AND n.w2 = c.w2
         |  JOIN tot g ON g.lang = c.lang),
         |r AS (
         |  SELECT *,
         |    (4 * cnt - 3) * 1000000 // (4 * ctx_cnt)
         |      + (lambda_ppm * pcont_ppm) // 1000000 AS p_kn_ppm,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, w1 ASC, w2 ASC) AS BIGINT) AS "rank"
         |  FROM j)
         |SELECT lang, "rank", w1, w2, cnt, ctx_cnt, n1p_w1, pcont_ppm,
         |       lambda_ppm, p_kn_ppm
         |FROM r WHERE "rank" <= 15
         |ORDER BY lang ASC, "rank" ASC""".stripMargin,
    // q262: same salted-hash Poisson(1) inverse CDF (shared ppm
    // thresholds), one B-way expansion, exact integer means.
    "q262_poisson_bootstrap" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |reps AS (SELECT CAST(r.range AS BIGINT) AS b FROM range(32) r),
         |wts AS (
         |  SELECT b, n_tokens,
         |         CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
         |              WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
         |              WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
         |              ELSE 6 END AS wt
         |  FROM (
         |    SELECT b, n_tokens,
         |           CAST('0x' || substr(md5('boot:' || CAST(b AS VARCHAR)
         |             || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |             % 1000000 AS u
         |    FROM toks CROSS JOIN reps)),
         |g AS (
         |  SELECT b, CAST(SUM(wt) AS BIGINT) AS n_eff,
         |         CAST(SUM(wt * n_tokens) AS BIGINT) AS sum_tokens
         |  FROM wts GROUP BY 1)
         |SELECT b, n_eff, sum_tokens,
         |       sum_tokens * 1000000 // n_eff AS mean_tokens_ppm
         |FROM g ORDER BY b ASC""".stripMargin,
    // q263: q261's KN CTEs restricted to the q52 train carve, then the
    // full bigram stream LEFT-joined with the same unseen-pair rules.
    "q263_heldout_lm_gap" ->
      s"""WITH d AS (
         |  SELECT lang, str_split($duckNorm, ' ') AS w,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |bg AS (
         |  SELECT split, lang, w[i] AS w1, w[i+1] AS w2
         |  FROM d CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |counted AS (
         |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bg WHERE split = 'train' GROUP BY 1, 2, 3),
         |ctx AS (
         |  SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt,
         |         CAST(COUNT(*) AS BIGINT) AS n1p_w1
         |  FROM counted GROUP BY 1, 2),
         |cont AS (
         |  SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS n1p_right
         |  FROM counted GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1p_total
         |  FROM counted GROUP BY 1),
         |scored AS (
         |  SELECT b.split, c.cnt,
         |    COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0) AS pcont_ppm,
         |    CASE
         |      WHEN c.cnt IS NOT NULL THEN
         |        (4 * c.cnt - 3) * 1000000 // (4 * x.ctx_cnt)
         |          + ((3 * x.n1p_w1 * 1000000 // (4 * x.ctx_cnt))
         |             * COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0))
         |            // 1000000
         |      WHEN x.ctx_cnt IS NOT NULL THEN
         |        ((3 * x.n1p_w1 * 1000000 // (4 * x.ctx_cnt))
         |         * COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0))
         |          // 1000000
         |      ELSE COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0)
         |    END AS p_ppm
         |  FROM bg b
         |  LEFT JOIN counted c ON c.lang = b.lang AND c.w1 = b.w1 AND c.w2 = b.w2
         |  LEFT JOIN ctx x ON x.lang = b.lang AND x.w1 = b.w1
         |  LEFT JOIN cont n ON n.lang = b.lang AND n.w2 = b.w2
         |  JOIN tot g ON g.lang = b.lang)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) * 1000000
         |         // COUNT(*) AS BIGINT) AS unseen_ppm,
         |       CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm
         |FROM scored GROUP BY 1 ORDER BY split ASC""".stripMargin,
    // q264: identical Hamilton apportionment — integer base quotas,
    // largest-remainder ranking over the strata census.
    "q264_eval_quotas" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cells),
        |based AS (
        |  SELECT lang, source, n_docs,
        |         n_docs * 500 // total AS base,
        |         (n_docs * 500) % total AS rem
        |  FROM cells CROSS JOIN tot),
        |lo AS (SELECT 500 - CAST(SUM(base) AS BIGINT) AS left_ FROM based),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    ORDER BY rem DESC, lang ASC, source ASC) AS BIGINT) AS rem_rank
        |  FROM based)
        |SELECT lang, source, n_docs,
        |       CAST(base AS BIGINT) AS base_quota,
        |       CAST(CASE WHEN rem_rank <= lo.left_ THEN 1 ELSE 0 END AS BIGINT)
        |         AS extra,
        |       CAST(base + CASE WHEN rem_rank <= lo.left_ THEN 1 ELSE 0 END
        |         AS BIGINT) AS quota
        |FROM ranked CROSS JOIN lo
        |ORDER BY lang ASC, source ASC""".stripMargin,
    // q265: same q150 chunking, suffix trim, ordered list() reassembly;
    // the exact-match rate is DERIVED (md5 equality), never a literal.
    "q265_chunk_rehydration" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, source, norm, str_split(norm, ' ') AS toks FROM d),
         |st AS (
         |  SELECT doc_id, unnest(range(0, len(toks), 48)) AS chunk_start FROM t),
         |ch AS (
         |  SELECT s.doc_id, s.chunk_start,
         |         t.toks[s.chunk_start + 1 : s.chunk_start + 64] AS chunk
         |  FROM st s JOIN t USING (doc_id)),
         |sfx AS (
         |  SELECT doc_id, chunk_start,
         |         CASE WHEN chunk_start = 0 THEN chunk ELSE chunk[17:64] END
         |           AS suffix
         |  FROM ch),
         |rb AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |         array_to_string(
         |           flatten(list(suffix ORDER BY chunk_start ASC)), ' ')
         |           AS rejoined
         |  FROM sfx GROUP BY 1)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN md5(rejoined) = md5(norm) THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_exact,
         |       CAST(SUM(CASE WHEN md5(rejoined) = md5(norm) THEN 1 ELSE 0 END)
         |         * 1000000 // COUNT(*) AS BIGINT) AS exact_ppm
         |FROM t JOIN rb USING (doc_id)
         |GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q266: the same sorted-prefix integer water-fill solve.
    "q266_waterfill_mixture" ->
      s"""WITH census AS (
         |  SELECT source,
         |         CAST(SUM(len(str_split($duckNorm, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY n_tokens ASC, source ASC)
         |           AS BIGINT) AS rnk,
         |         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           AS prefix
         |  FROM census),
         |tot AS (SELECT MAX(rnk) AS m, CAST(SUM(n_tokens) // 3 AS BIGINT) AS budget
         |        FROM ranked),
         |f AS (
         |  SELECT r.*, t.m, t.budget,
         |         (r.prefix - r.n_tokens + (t.m - r.rnk + 1) * r.n_tokens
         |           <= t.budget) AS affordable
         |  FROM ranked r CROSS JOIN tot t),
         |piv AS (SELECT COALESCE(MAX(CASE WHEN affordable THEN rnk END), 0)
         |          AS i_star FROM f),
         |pp AS (SELECT COALESCE(MAX(CASE WHEN rnk = p.i_star THEN prefix END), 0)
         |          AS p_star FROM f CROSS JOIN piv p)
         |SELECT source, n_tokens,
         |       CAST(CASE WHEN rnk <= p.i_star THEN n_tokens
         |            ELSE LEAST(n_tokens, (budget - q.p_star) // (m - p.i_star))
         |            END AS BIGINT) AS cap_tokens,
         |       (CASE WHEN rnk <= p.i_star THEN n_tokens
         |            ELSE LEAST(n_tokens, (budget - q.p_star) // (m - p.i_star))
         |            END) < n_tokens AS is_capped,
         |       CAST(CASE WHEN m = p.i_star THEN -1
         |            ELSE (budget - q.p_star) // (m - p.i_star) END AS BIGINT)
         |         AS level,
         |       budget
         |FROM f CROSS JOIN piv p CROSS JOIN pp q
         |ORDER BY source ASC""".stripMargin,
    // q267: 1-based bigram positions -> (i-1)//8 windows, the q120 MLE
    // join, min-per-doc then per-source integer census.
    "q267_worst_window_lm" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, lang, str_split($duckNorm, ' ') AS w
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, source, lang, (i - 1) // 8 AS win,
         |         w[i] AS w1, w[i+1] AS w2
         |  FROM t CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |lm AS (
         |  SELECT lang, w1, w2,
         |         CAST(COUNT(*) AS BIGINT) AS cnt,
         |         CAST(SUM(COUNT(*)) OVER (PARTITION BY lang, w1) AS BIGINT)
         |           AS ctx_cnt
         |  FROM bg GROUP BY 1, 2, 3),
         |ws AS (
         |  SELECT b.doc_id, b.source, b.win,
         |         CAST(SUM(cnt * 1000000 // ctx_cnt) // COUNT(*) AS BIGINT)
         |           AS win_ppm
         |  FROM bg b JOIN lm USING (lang, w1, w2)
         |  GROUP BY 1, 2, 3),
         |pd AS (
         |  SELECT doc_id, source, MIN(win_ppm) AS worst_ppm,
         |         CAST(COUNT(*) AS BIGINT) AS n_windows
         |  FROM ws GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_windows) AS BIGINT) AS n_windows,
         |       CAST(SUM(worst_ppm) // COUNT(*) AS BIGINT) AS mean_worst_ppm,
         |       CAST(MIN(worst_ppm) AS BIGINT) AS min_worst_ppm,
         |       CAST(SUM(CASE WHEN worst_ppm < 20000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_flagged
         |FROM pd GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q268: identical frequency-table Simpson collision arithmetic.
    "q268_simpson_diversity" ->
      s"""WITH t AS (
         |  SELECT source, str_split($duckNorm, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT source, w[i] || ' ' || w[i+1] AS gram
         |  FROM t CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |f AS (
         |  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM bg GROUP BY 1, 2)
         |SELECT source,
         |       CAST(SUM(f) AS BIGINT) AS n_bigrams,
         |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |       CAST(SUM(f * (f - 1)) * 1000000
         |         // (SUM(f) * (SUM(f) - 1)) AS BIGINT) AS collision_ppm,
         |       CAST(COUNT(*) * 1000000 // SUM(f) AS BIGINT) AS ttr_ppm
         |FROM f GROUP BY 1 HAVING SUM(f) > 1 ORDER BY source ASC""".stripMargin,
    // q270: identical split carve, identical q263 KN p_ppm law scored
    // over validation bigrams per source, identical η=16 linear
    // multiplier and the overflow-safe (Σraw div 1e6) normalization.
    "q270_doremi_reweight" ->
      s"""WITH d AS (
         |  SELECT source, lang, str_split($duckNorm, ' ') AS w,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT split, source, lang, w[i] AS w1, w[i+1] AS w2
         |  FROM d CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |counted AS MATERIALIZED (
         |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bg WHERE split = 'train' GROUP BY 1, 2, 3),
         |ctx AS (
         |  SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt,
         |         CAST(COUNT(*) AS BIGINT) AS n1p_w1
         |  FROM counted GROUP BY 1, 2),
         |cont AS (
         |  SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS n1p_right
         |  FROM counted GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1p_total
         |  FROM counted GROUP BY 1),
         |scored AS (
         |  SELECT b.source,
         |    CASE
         |      WHEN c.cnt IS NOT NULL THEN
         |        (4 * c.cnt - 3) * 1000000 // (4 * x.ctx_cnt)
         |          + ((3 * x.n1p_w1 * 1000000 // (4 * x.ctx_cnt))
         |             * COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0))
         |            // 1000000
         |      WHEN x.ctx_cnt IS NOT NULL THEN
         |        ((3 * x.n1p_w1 * 1000000 // (4 * x.ctx_cnt))
         |         * COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0))
         |          // 1000000
         |      ELSE COALESCE(n.n1p_right * 1000000 // g.n1p_total, 0)
         |    END AS p_ppm
         |  FROM bg b
         |  LEFT JOIN counted c ON c.lang = b.lang AND c.w1 = b.w1 AND c.w2 = b.w2
         |  LEFT JOIN ctx x ON x.lang = b.lang AND x.w1 = b.w1
         |  LEFT JOIN cont n ON n.lang = b.lang AND n.w2 = b.w2
         |  JOIN tot g ON g.lang = b.lang
         |  WHERE b.split = 'val'),
         |heldout AS MATERIALIZED (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_heldout,
         |         CAST(SUM(p_ppm) AS BIGINT) AS sum_p
         |  FROM scored GROUP BY 1),
         |base AS MATERIALIZED (
         |  SELECT source, CAST(SUM(len(w)) AS BIGINT) AS n_train_words
         |  FROM d WHERE split = 'train' GROUP BY 1),
         |raw AS MATERIALIZED (
         |  SELECT b.source,
         |         CAST(b.n_train_words * 1000000
         |           // (SELECT SUM(n_train_words) FROM base) AS BIGINT)
         |           AS base_w_ppm,
         |         CAST(h.sum_p // h.n_heldout AS BIGINT) AS mean_p_ppm,
         |         CAST(GREATEST(0,
         |           (SELECT SUM(sum_p) // SUM(n_heldout) FROM heldout)
         |             - (h.sum_p // h.n_heldout)) AS BIGINT) AS excess_ppm,
         |         CAST((b.n_train_words * 1000000
         |             // (SELECT SUM(n_train_words) FROM base))
         |           * (1000000 + 16 * GREATEST(0,
         |               (SELECT SUM(sum_p) // SUM(n_heldout) FROM heldout)
         |                 - (h.sum_p // h.n_heldout))) AS BIGINT) AS r
         |  FROM base b JOIN heldout h USING (source))
         |SELECT source, base_w_ppm, mean_p_ppm, excess_ppm,
         |       CAST(r // GREATEST(1, (SELECT SUM(r) FROM raw) // 1000000)
         |         AS BIGINT) AS new_w_ppm
         |FROM raw ORDER BY source ASC""".stripMargin,
    // q271: identical grid-completed total-variation (EMD for categorical
    // = L1/2) per QI cell, identical 8-way cohort carve.
    "q271_t_closeness" ->
      (silverCte +
        """,
          |sens AS (
          |  SELECT event_type, hour, user_id % 8 AS cohort FROM silver),
          |cellv AS (
          |  SELECT event_type, hour, cohort, CAST(COUNT(*) AS BIGINT) AS cnt
          |  FROM sens GROUP BY 1, 2, 3),
          |grid AS (
          |  SELECT c.event_type, c.hour, h.cohort, COALESCE(v.cnt, 0) AS cnt
          |  FROM (SELECT DISTINCT event_type, hour FROM sens) c
          |  CROSS JOIN (SELECT DISTINCT cohort FROM sens) h
          |  LEFT JOIN cellv v ON v.event_type = c.event_type
          |    AND v.hour = c.hour AND v.cohort = h.cohort),
          |tots AS (
          |  SELECT *,
          |    SUM(cnt) OVER (PARTITION BY event_type, hour) AS ct,
          |    SUM(cnt) OVER (PARTITION BY cohort) AS gcnt,
          |    SUM(cnt) OVER () AS gt
          |  FROM grid),
          |tpc AS (
          |  SELECT event_type, hour,
          |    CAST(SUM(ABS(cnt * 1000000 // ct - gcnt * 1000000 // gt)) // 2
          |      AS BIGINT) AS t_ppm
          |  FROM tots GROUP BY 1, 2)
          |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
          |       CAST(MAX(t_ppm) AS BIGINT) AS max_t_ppm,
          |       CAST(SUM(t_ppm) // COUNT(*) AS BIGINT) AS mean_t_ppm,
          |       CAST(SUM(CASE WHEN t_ppm > 200000 THEN 1 ELSE 0 END)
          |         AS BIGINT) AS cells_above_t
          |FROM tpc GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // q272: identical total-order ranks (len/doc_id and doc_id), batch =
    // (rank-1)//32, identical pad arithmetic.
    "q272_padding_waste" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS len
         |  FROM documents),
         |ranked AS (
         |  SELECT 'sorted' AS policy, len,
         |         row_number() OVER (ORDER BY len ASC, doc_id ASC) AS rnk FROM d
         |  UNION ALL
         |  SELECT 'arrival' AS policy, len,
         |         row_number() OVER (ORDER BY doc_id ASC) AS rnk FROM d),
         |per_batch AS (
         |  SELECT policy, (rnk - 1) // 32 AS batch, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(MAX(len) AS BIGINT) AS mx, CAST(SUM(len) AS BIGINT) AS s
         |  FROM ranked GROUP BY 1, 2)
         |SELECT policy, CAST(COUNT(*) AS BIGINT) AS n_batches,
         |       CAST(SUM(s) AS BIGINT) AS sum_tokens,
         |       CAST(SUM(n * mx - s) AS BIGINT) AS pad_tokens,
         |       CAST(SUM(n * mx - s) * 1000000 // SUM(n * mx) AS BIGINT) AS pad_ppm
         |FROM per_batch GROUP BY 1 ORDER BY policy ASC""".stripMargin,
    // q273: identical q32 rubric raters, identical integer Fleiss
    // arithmetic; negatives clamped AFTER the division on both sides so
    // truncate-vs-floor never reaches the gate.
    "q273_fleiss_kappa" ->
      s"""WITH n AS (SELECT doc_id, source, $duckNorm AS nrm FROM documents),
         |t AS (SELECT doc_id, source, nrm, str_split(nrm, ' ') AS w FROM n),
         |f AS (
         |  SELECT doc_id, source,
         |    CAST(len(w) AS INTEGER) AS n_tokens,
         |    CAST(len(list_filter(w, x -> x IN ($duckStops))) AS INTEGER) AS stop_cnt,
         |    CAST(length(replace(nrm, ' ', '')) AS DOUBLE) / len(w) AS mean_token_len
         |  FROM t),
         |votes AS (
         |  SELECT source,
         |    CAST(n_tokens >= 20 AND n_tokens <= 1000 AS BIGINT)
         |      + CAST(stop_cnt > 0 AS BIGINT)
         |      + CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS BIGINT) AS k
         |  FROM f),
         |census AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM((k * (k - 1) + (3 - k) * (2 - k)) * 1000000 // 6)
         |      // COUNT(*) AS BIGINT) AS pbar_ppm,
         |    CAST(SUM(k) * 1000000 // (3 * COUNT(*)) AS BIGINT) AS p1_ppm
         |  FROM votes GROUP BY 1),
         |kap AS (
         |  SELECT source, n_docs, pbar_ppm,
         |    (p1_ppm * p1_ppm + (1000000 - p1_ppm) * (1000000 - p1_ppm))
         |      // 1000000 AS pe_ppm
         |  FROM census)
         |SELECT source, n_docs, pbar_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
         |       CAST(GREATEST(0, (pbar_ppm - pe_ppm) * 1000000
         |         // GREATEST(1, 1000000 - pe_ppm)) AS BIGINT) AS kappa_ppm
         |FROM kap ORDER BY source ASC""".stripMargin,
    // q274: the q35/q36 sign-projection band buckets, label joins, exact
    // integer agreement census.
    "q274_label_consistency" ->
      (lshCte +
        """,
          |pairs AS (
          |  SELECT DISTINCT a.vec_id AS vid, b.vec_id AS pid
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
          |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
          |pervec AS (
          |  SELECT p.vid, CAST(COUNT(*) AS BIGINT) AS n_peers,
          |         CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
          |           AS BIGINT) AS n_same
          |  FROM pairs p
          |  JOIN lab la ON la.vec_id = p.vid
          |  JOIN lab lb ON lb.vec_id = p.pid
          |  GROUP BY 1),
          |j AS (
          |  SELECT l.vec_id, l.label, COALESCE(v.n_peers, 0) AS n_peers,
          |         COALESCE(v.n_same, 0) AS n_same
          |  FROM lab l LEFT JOIN pervec v ON v.vid = l.vec_id)
          |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          |       CAST(SUM(CASE WHEN n_peers = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_isolated,
          |       CAST(SUM(n_peers) AS BIGINT) AS n_peer_links,
          |       CAST(CASE WHEN SUM(n_peers) > 0
          |            THEN SUM(n_same) * 1000000 // SUM(n_peers)
          |            ELSE 0 END AS BIGINT) AS agreement_ppm,
          |       CAST(SUM(CASE WHEN n_peers >= 2 AND 2 * n_same < n_peers
          |            THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
          |FROM j GROUP BY 1 ORDER BY label ASC""".stripMargin),
    // q275: identical capacity-level solve (the q266 law on c_i = 2·n_i,
    // budget = 3·total//2), identical prefix/affordability arithmetic.
    "q275_unimax_allocation" ->
      s"""WITH census AS (
         |  SELECT lang, CAST(SUM(len(str_split($duckNorm, ' '))) AS BIGINT)
         |    AS n_tokens
         |  FROM documents GROUP BY 1),
         |caps AS (
         |  SELECT lang, n_tokens, 2 * n_tokens AS cap,
         |         row_number() OVER (ORDER BY 2 * n_tokens ASC, lang ASC) AS rnk,
         |         SUM(2 * n_tokens) OVER (ORDER BY 2 * n_tokens ASC, lang ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
         |  FROM census),
         |tots AS (
         |  SELECT MAX(rnk) AS m,
         |         CAST(SUM(n_tokens) * 3 // 2 AS BIGINT) AS budget
         |  FROM caps),
         |feas AS (
         |  SELECT c.*, t.m, t.budget,
         |         (c.prefix - c.cap + (t.m - c.rnk + 1) * c.cap) <= t.budget
         |           AS affordable
         |  FROM caps c CROSS JOIN tots t),
         |piv AS (
         |  SELECT COALESCE(MAX(CASE WHEN affordable THEN rnk END), 0) AS i_star
         |  FROM feas),
         |pp AS (
         |  SELECT COALESCE(MAX(CASE WHEN rnk = (SELECT i_star FROM piv)
         |    THEN prefix END), 0) AS p_star FROM feas),
         |alloc AS (
         |  SELECT lang, n_tokens, cap, rnk,
         |         CASE WHEN rnk <= (SELECT i_star FROM piv) THEN cap
         |              ELSE LEAST(cap, (budget - (SELECT p_star FROM pp))
         |                   // (m - (SELECT i_star FROM piv))) END AS a
         |  FROM feas)
         |SELECT lang, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
         |       CAST(a AS BIGINT) AS alloc_tokens,
         |       CAST(a * 1000000 // n_tokens AS BIGINT) AS epochs_ppm,
         |       (rnk > (SELECT i_star FROM piv)) AS is_capped
         |FROM alloc ORDER BY lang ASC""".stripMargin,
    // q276: identical user-keyed 7-day touch pairing, identical U-shaped
    // integer credit split over the silver dedup.
    "q276_touch_attribution" ->
      (silverCte +
        """,
          |purch AS (
          |  SELECT event_id AS pid, user_id, ts AS pts
          |  FROM silver WHERE event_type = 'purchase'),
          |touch AS (
          |  SELECT p.pid, e.event_type,
          |         row_number() OVER (PARTITION BY p.pid
          |           ORDER BY e.ts ASC, e.event_id ASC) AS pos,
          |         COUNT(*) OVER (PARTITION BY p.pid) AS n
          |  FROM purch p JOIN silver e
          |    ON e.user_id = p.user_id AND e.ts < p.pts
          |   AND e.ts >= p.pts - INTERVAL 7 DAY
          |   AND e.event_type <> 'purchase'),
          |credit AS (
          |  SELECT pid, event_type,
          |    CASE WHEN n = 1 THEN 1000000
          |         WHEN pos = 1 THEN 400000
          |         WHEN pos = n THEN 400000
          |         ELSE 200000 // (n - 2) END AS c_ppm
          |  FROM touch)
          |SELECT event_type,
          |       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_conversions_touched,
          |       CAST(SUM(c_ppm) AS BIGINT) AS credit_ppm,
          |       CAST(SUM(c_ppm) // 1000000 AS BIGINT) AS whole_conversions
          |FROM credit GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // q277: identical count-of-counts, Turing discount, unseen mass.
    "q277_good_turing" ->
      s"""WITH d AS (SELECT lang, str_split($duckNorm, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT lang, w[i] AS w1, w[i+1] AS w2
         |  FROM d CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |coc AS MATERIALIZED (
         |  SELECT lang, c, CAST(COUNT(*) AS BIGINT) AS n_c FROM (
         |    SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
         |    FROM bg GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT lang, CAST(SUM(c * n_c) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN c = 1 THEN n_c ELSE 0 END) AS BIGINT) AS n1
         |  FROM coc GROUP BY 1)
         |SELECT k.lang, k.c, k.n_c,
         |       CAST(COALESCE((k.c + 1) * nx.n_c * 1000000 // k.n_c, 0)
         |         AS BIGINT) AS cstar_ppm,
         |       CAST(t.n1 * 1000000 // t.n_tokens AS BIGINT) AS p0_ppm
         |FROM coc k
         |LEFT JOIN coc nx ON nx.lang = k.lang AND nx.c = k.c + 1
         |JOIN tot t ON t.lang = k.lang
         |WHERE k.c <= 5
         |ORDER BY k.lang ASC, k.c ASC""".stripMargin,
    // q278: identical lower-median order statistics at (n+1)//2 (the
    // VALUE at a rank is tie-invariant, so ORDER BY cents alone is
    // deterministic), identical 2x MAD flag.
    "q278_robust_outliers" ->
      """WITH o AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cnts AS (SELECT mon, COUNT(*) AS n FROM o GROUP BY 1),
        |r AS (
        |  SELECT o.*, row_number() OVER (PARTITION BY mon ORDER BY cents ASC)
        |    AS rnk FROM o),
        |med AS (
        |  SELECT r.mon, CAST(MAX(CASE WHEN rnk = (n + 1) // 2 THEN cents END)
        |    AS BIGINT) AS med_cents
        |  FROM r JOIN cnts USING (mon) GROUP BY 1),
        |dev AS (
        |  SELECT o.mon, o.cents, m.med_cents,
        |         ABS(o.cents - m.med_cents) AS d
        |  FROM o JOIN med m USING (mon)),
        |rd AS (
        |  SELECT dev.*, row_number() OVER (PARTITION BY mon ORDER BY d ASC)
        |    AS rnk FROM dev),
        |mad AS (
        |  SELECT rd.mon, CAST(MAX(CASE WHEN rnk = (n + 1) // 2 THEN d END)
        |    AS BIGINT) AS mad_cents
        |  FROM rd JOIN cnts USING (mon) GROUP BY 1)
        |SELECT d.mon, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(MAX(d.med_cents) AS BIGINT) AS med_cents,
        |       CAST(MAX(ma.mad_cents) AS BIGINT) AS mad_cents,
        |       CAST(SUM(CASE WHEN d.d > 2 * ma.mad_cents THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad ma USING (mon)
        |GROUP BY 1 ORDER BY d.mon ASC""".stripMargin,
    // q279: identical positional mask hash, identical islands reduction.
    "q279_span_corruption" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, i AS pos,
         |    CAST('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
         |      || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 15
         |      AS masked
         |  FROM (SELECT doc_id, source, str_split($duckNorm, ' ') AS w
         |        FROM documents)
         |  CROSS JOIN unnest(range(1, len(w) + 1)) AS u(i)),
         |isl AS (
         |  SELECT doc_id, source, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id
         |           ORDER BY pos ASC) AS grp
         |  FROM toks WHERE masked),
         |spans AS (
         |  SELECT doc_id, source, grp, CAST(COUNT(*) AS BIGINT) AS span_len
         |  FROM isl GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_masked
         |  FROM toks GROUP BY 1),
         |sp AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |         CAST(MAX(span_len) AS BIGINT) AS max_span
         |  FROM spans GROUP BY 1)
         |SELECT t.source, t.n_tokens, t.n_masked,
         |       CAST(t.n_masked * 1000000 // t.n_tokens AS BIGINT)
         |         AS masked_ppm,
         |       s.n_spans, s.max_span,
         |       CAST(t.n_masked * 1000000 // s.n_spans AS BIGINT)
         |         AS mean_span_ppm
         |FROM tot t JOIN sp s USING (source) ORDER BY t.source ASC""".stripMargin,
    // q280: identical total-order head ranking, identical r·f products.
    "q280_zipf_audit" ->
      s"""WITH wc AS (
         |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT lang, unnest(str_split($duckNorm, ' ')) AS w
         |        FROM documents)
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT lang, w, f,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY f DESC, w ASC) AS rnk
         |  FROM wc)
         |SELECT lang, CAST(rnk AS BIGINT) AS rnk, w, f,
         |       CAST(rnk * f AS BIGINT) AS rf
         |FROM r WHERE rnk <= 20 ORDER BY lang ASC, rnk ASC""".stripMargin,
    // q281: identical per-user span explode over the silver dedup —
    // every day in [first, last] counts the user at risk.
    "q281_churn_hazard" ->
      (silverCte +
        """,
          |span AS (
          |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
          |         MAX(CAST(ts AS DATE)) AS last_d
          |  FROM silver GROUP BY 1),
          |days AS (
          |  SELECT last_d, CAST(u.d AS DATE) AS d
          |  FROM span
          |  CROSS JOIN unnest(generate_series(CAST(first_d AS TIMESTAMP),
          |    CAST(last_d AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)),
          |census AS (
          |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_at_risk,
          |         CAST(SUM(CASE WHEN last_d = d THEN 1 ELSE 0 END)
          |           AS BIGINT) AS n_churned
          |  FROM days GROUP BY 1)
          |SELECT d, n_at_risk, n_churned,
          |       CAST(n_churned * 1000000 // n_at_risk AS BIGINT)
          |         AS hazard_ppm
          |FROM census ORDER BY d ASC""".stripMargin),
    // q282: identical integer-cents first digit, identical published
    // Benford ppm literals.
    "q282_benford_audit" ->
      """WITH b(d, benford_ppm) AS (VALUES (1,301030),(2,176091),(3,124939),
        |  (4,96910),(5,79181),(6,66947),(7,57992),(8,51153),(9,45757)),
        |o AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS d
        |  FROM orders WHERE o_totalprice > 0),
        |obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
        |SELECT b.d, CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
        |       CAST(COALESCE(obs.n, 0) * 1000000 // tot.t AS BIGINT)
        |         AS obs_ppm,
        |       CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |       CAST(ABS(COALESCE(obs.n, 0) * 1000000 // tot.t
        |         - b.benford_ppm) AS BIGINT) AS dev_ppm
        |FROM b LEFT JOIN obs ON obs.d = b.d CROSS JOIN tot
        |ORDER BY b.d ASC""".stripMargin,
    // q283: identical lower-median row/column sweeps over the 7x24 cell
    // matrix; weekday 0=Sunday in both engines (Spark dayofweek - 1).
    "q283_median_polish" ->
      (silverCte +
        """,
          |cells AS (
          |  SELECT dayofweek(ts) AS wd, hour(ts) AS hr,
          |         CAST(COUNT(*) AS BIGINT) AS cnt
          |  FROM silver GROUP BY 1, 2),
          |rmed AS (
          |  SELECT wd, CAST(MAX(CASE WHEN rnk = (n + 1) // 2 THEN cnt END)
          |    AS BIGINT) AS row_med
          |  FROM (SELECT wd, cnt,
          |          row_number() OVER (PARTITION BY wd ORDER BY cnt ASC)
          |            AS rnk,
          |          COUNT(*) OVER (PARTITION BY wd) AS n FROM cells)
          |  GROUP BY 1),
          |res1 AS (
          |  SELECT c.wd, c.hr, c.cnt, r.row_med, c.cnt - r.row_med AS r1
          |  FROM cells c JOIN rmed r USING (wd)),
          |cmed AS (
          |  SELECT hr, CAST(MAX(CASE WHEN rnk = (n + 1) // 2 THEN r1 END)
          |    AS BIGINT) AS col_med
          |  FROM (SELECT hr, r1,
          |          row_number() OVER (PARTITION BY hr ORDER BY r1 ASC)
          |            AS rnk,
          |          COUNT(*) OVER (PARTITION BY hr) AS n FROM res1)
          |  GROUP BY 1)
          |SELECT CAST(r.wd AS BIGINT) AS wd, CAST(r.hr AS BIGINT) AS hr,
          |       r.cnt, r.row_med, c.col_med,
          |       CAST(r.r1 - c.col_med AS BIGINT) AS residual
          |FROM res1 r JOIN cmed c USING (hr)
          |ORDER BY r.wd ASC, r.hr ASC""".stripMargin),
    // q284: identical daily-count moments, identical integer Fano form,
    // identical n >= 5 support floor and 0.5 overdispersion line.
    "q284_fano_burstiness" ->
      (silverCte +
        """,
          |daily AS (
          |  SELECT user_id, event_type, CAST(ts AS DATE) AS d,
          |         CAST(COUNT(*) AS BIGINT) AS x
          |  FROM silver GROUP BY 1, 2, 3),
          |peruser AS (
          |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(SUM(x) AS BIGINT) AS sx,
          |         CAST(SUM(x * x) AS BIGINT) AS sxx
          |  FROM daily GROUP BY 1, 2),
          |fano AS (
          |  SELECT event_type,
          |         (n * sxx - sx * sx) * 1000000 // (n * sx) AS fano_ppm
          |  FROM peruser WHERE n >= 5)
          |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
          |       CAST(SUM(fano_ppm) // COUNT(*) AS BIGINT) AS mean_fano_ppm,
          |       CAST(MAX(fano_ppm) AS BIGINT) AS max_fano_ppm,
          |       CAST(SUM(CASE WHEN fano_ppm > 500000 THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_overdispersed
          |FROM fano GROUP BY 1 ORDER BY event_type ASC""".stripMargin),
    // q285: identical q133 integer-ppm LM, identical per-lang
    // (rnk-1)*3 // n tercile with the doc_id tiebreak.
    "q285_ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, lang, str_split($duckNorm, ' ') AS w
         |           FROM documents),
         |base AS (SELECT doc_id, lang, len(w) AS n_tokens FROM t),
         |idx AS (SELECT doc_id, lang, w,
         |               unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |docbg AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS m
         |          FROM bg GROUP BY 1, 2, 3, 4),
         |c AS (SELECT lang, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM c GROUP BY 1, 2),
         |lm AS (SELECT c.lang, c.w1, c.w2,
         |              c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |       FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
         |s AS (SELECT d.doc_id, CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
         |             CAST(SUM(d.m * lm.p_ppm) AS BIGINT) AS sum_ppm
         |      FROM docbg d JOIN lm ON d.lang = lm.lang
         |        AND d.w1 = lm.w1 AND d.w2 = lm.w2
         |      GROUP BY 1),
         |perdoc AS (SELECT b.doc_id, b.lang, b.n_tokens,
         |                  COALESCE(s.sum_ppm // s.n_bigrams, 0) AS score_ppm
         |           FROM base b LEFT JOIN s ON b.doc_id = s.doc_id),
         |ranked AS (SELECT lang, n_tokens, score_ppm,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY score_ppm DESC, doc_id ASC) AS rnk,
         |  COUNT(*) OVER (PARTITION BY lang) AS n FROM perdoc)
         |SELECT lang, CAST((rnk - 1) * 3 // n AS BIGINT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
         |       CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm
         |FROM ranked GROUP BY 1, 2
         |ORDER BY lang ASC, bucket ASC""".stripMargin,
    // q286: identical (doc, word) count reduction, identical integer rule
    // spellings (10·Σlen band — no division), identical first-fail CASE.
    "q286_gopher_rules" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS nrm FROM documents),
         |w AS (SELECT doc_id, unnest(str_split(nrm, ' ')) AS word FROM n),
         |wc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |       FROM w GROUP BY 1, 2),
         |perdoc AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
         |         CAST(COUNT(*) AS BIGINT) AS u,
         |         CAST(MAX(cnt) AS BIGINT) AS maxc,
         |         CAST(SUM(CASE WHEN word IN ($duckStops) THEN cnt ELSE 0 END)
         |           AS BIGINT) AS stop_cnt,
         |         CAST(SUM(length(word) * cnt) AS BIGINT) AS sumlen
         |  FROM wc GROUP BY 1),
         |flags AS (
         |  SELECT CAST(NOT (n BETWEEN 20 AND 100) AS BIGINT) AS f1,
         |         CAST(sumlen * 10 < n * 30 OR sumlen * 10 > n * 45
         |           AS BIGINT) AS f2,
         |         CAST(stop_cnt < 2 AS BIGINT) AS f3,
         |         CAST(u * 1000000 // n < 400000 AS BIGINT) AS f4,
         |         CAST(maxc * 1000000 // n > 120000 AS BIGINT) AS f5
         |  FROM perdoc),
         |ff AS (SELECT f1, f2, f3, f4, f5,
         |         CASE WHEN f1 = 1 THEN 1 WHEN f2 = 1 THEN 2
         |              WHEN f3 = 1 THEN 3 WHEN f4 = 1 THEN 4
         |              WHEN f5 = 1 THEN 5 ELSE 0 END AS first_fail
         |       FROM flags),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
         |  CAST(SUM(f3) AS BIGINT) AS s3, CAST(SUM(f4) AS BIGINT) AS s4,
         |  CAST(SUM(f5) AS BIGINT) AS s5,
         |  CAST(SUM(CASE WHEN first_fail = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ff1,
         |  CAST(SUM(CASE WHEN first_fail = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ff2,
         |  CAST(SUM(CASE WHEN first_fail = 3 THEN 1 ELSE 0 END) AS BIGINT) AS ff3,
         |  CAST(SUM(CASE WHEN first_fail = 4 THEN 1 ELSE 0 END) AS BIGINT) AS ff4,
         |  CAST(SUM(CASE WHEN first_fail = 5 THEN 1 ELSE 0 END) AS BIGINT) AS ff5,
         |  CAST(SUM(CASE WHEN first_fail > 0 THEN 1 ELSE 0 END) AS BIGINT) AS sany
         |  FROM ff),
         |rules AS (
         |  SELECT 'r1_word_count' AS rule, n_docs, s1 AS n_fail,
         |         ff1 AS n_first_fail FROM agg
         |  UNION ALL SELECT 'r2_mean_word_len', n_docs, s2, ff2 FROM agg
         |  UNION ALL SELECT 'r3_stopword_floor', n_docs, s3, ff3 FROM agg
         |  UNION ALL SELECT 'r4_ttr_floor', n_docs, s4, ff4 FROM agg
         |  UNION ALL SELECT 'r5_dominance_cap', n_docs, s5, ff5 FROM agg
         |  UNION ALL SELECT 'r6_any', n_docs, sany, sany FROM agg)
         |SELECT rule, n_docs, n_fail, n_first_fail,
         |       CAST(n_fail * 1000000 // n_docs AS BIGINT) AS fail_ppm
         |FROM rules ORDER BY rule ASC""".stripMargin,
    // q287: the q273 rubric CTE keyed by lang; floor-ppm rates; the
    // four-fifths comparison on the already-floored ratio in both engines.
    "q287_filter_parity" ->
      s"""WITH n AS (SELECT doc_id, lang, $duckNorm AS nrm FROM documents),
         |t AS (SELECT doc_id, lang, nrm, str_split(nrm, ' ') AS w FROM n),
         |f AS (SELECT lang,
         |        CAST(len(w) AS INTEGER) AS n_tokens,
         |        CAST(len(list_filter(w, x -> x IN ($duckStops)))
         |          AS INTEGER) AS stop_cnt,
         |        CAST(length(replace(nrm, ' ', '')) AS DOUBLE) / len(w)
         |          AS mean_token_len
         |      FROM t),
         |v AS (SELECT lang,
         |        CAST(n_tokens BETWEEN 20 AND 1000 AND stop_cnt > 0
         |          AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
         |          AS BIGINT) AS pass FROM f),
         |census AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                  CAST(SUM(pass) AS BIGINT) AS n_pass
         |           FROM v GROUP BY 1),
         |rates AS (SELECT lang, n_docs, n_pass,
         |        n_pass * 1000000 // n_docs AS pass_ppm,
         |        SUM(n_pass) OVER () * 1000000 // SUM(n_docs) OVER ()
         |          AS overall_ppm
         |      FROM census)
         |SELECT lang, n_docs, n_pass, CAST(pass_ppm AS BIGINT) AS pass_ppm,
         |       CAST(overall_ppm AS BIGINT) AS overall_ppm,
         |       CAST(pass_ppm * 1000000 // overall_ppm AS BIGINT) AS ratio_ppm,
         |       pass_ppm * 1000000 // overall_ppm >= 800000 AS four_fifths_ok
         |FROM rates ORDER BY lang ASC""".stripMargin,
    // q288: identical (source, w1, w2) count reduction; leave-one-out by
    // subtraction (cnt − m, ctx − sctx); floor-ppm, covered-only mean.
    "q288_loso_support" ->
      s"""WITH t AS (SELECT source, str_split($duckNorm, ' ') AS w
         |           FROM documents),
         |idx AS (SELECT source, w,
         |               unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS (SELECT source, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |sc AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
         |       FROM bg GROUP BY 1, 2, 3),
         |cnt AS (SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS cnt
         |        FROM sc GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS ctx
         |        FROM cnt GROUP BY 1),
         |sctx AS (SELECT source, w1, CAST(SUM(m) AS BIGINT) AS sctx
         |         FROM sc GROUP BY 1, 2),
         |j AS (
         |  SELECT sc.source, sc.m,
         |         cnt.cnt - sc.m AS loo_cnt, ctx.ctx - sctx.sctx AS loo_ctx
         |  FROM sc JOIN cnt ON sc.w1 = cnt.w1 AND sc.w2 = cnt.w2
         |          JOIN ctx ON sc.w1 = ctx.w1
         |          JOIN sctx ON sc.source = sctx.source AND sc.w1 = sctx.w1),
         |f AS (
         |  SELECT source, m,
         |         CAST(loo_cnt > 0 AND loo_ctx > 0 AS BIGINT) AS covered,
         |         CASE WHEN loo_cnt > 0 AND loo_ctx > 0
         |              THEN loo_cnt * 1000000 // loo_ctx ELSE 0 END AS p_ppm
         |  FROM j)
         |SELECT source, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(m * covered) AS BIGINT) AS covered_bigrams,
         |       CAST(SUM(m * covered) * 1000000 // SUM(m) AS BIGINT)
         |         AS support_ppm,
         |       CAST(CASE WHEN SUM(m * covered) > 0
         |         THEN SUM(m * p_ppm) // SUM(m * covered) ELSE 0 END
         |         AS BIGINT) AS mean_p_ppm
         |FROM f GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q289: identical cross-multiplied 80%-of-date-range split, identical
    // w DESC / rec ASC top-3, identical anchor and hit definitions.
    "q289_rec_backtest" ->
      """WITH b AS (SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
        |           FROM orders),
        |op AS (
        |  SELECT DISTINCT o.o_orderkey AS ord, l.l_partkey AS part,
        |         date_diff('day', b.lo, o.o_orderdate) * 5
        |           < date_diff('day', b.lo, b.hi) * 4 AS is_train
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  CROSS JOIN b),
        |train AS (SELECT ord, part FROM op WHERE is_train),
        |test AS (SELECT ord, part FROM op WHERE NOT is_train),
        |cow AS (
        |  SELECT a.part AS anchor, c.part AS rec, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM train a JOIN train c ON a.ord = c.ord AND a.part <> c.part
        |  GROUP BY 1, 2),
        |recs AS (
        |  SELECT anchor, rec,
        |         CAST(row_number() OVER (PARTITION BY anchor
        |           ORDER BY w DESC, rec ASC) AS BIGINT) AS rk
        |  FROM cow QUALIFY rk <= 3),
        |anchors AS (
        |  SELECT DISTINCT t.ord, t.part FROM test t
        |  WHERE t.part IN (SELECT DISTINCT anchor FROM recs)),
        |tp AS (SELECT x.ord, x.part AS anchor, y.part AS other
        |       FROM test x JOIN test y ON x.ord = y.ord AND x.part <> y.part),
        |hits AS (SELECT tp.ord, tp.anchor, MIN(r.rk) AS min_rk
        |         FROM tp JOIN recs r ON tp.anchor = r.anchor
        |           AND tp.other = r.rec
        |         GROUP BY 1, 2),
        |agg AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM anchors) AS n_anchors,
        |  CAST(COALESCE(SUM(CASE WHEN min_rk <= 1 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS h1,
        |  CAST(COALESCE(SUM(CASE WHEN min_rk <= 2 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS h2,
        |  CAST(COALESCE(SUM(CASE WHEN min_rk <= 3 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS h3 FROM hits)
        |SELECT CAST(k AS BIGINT) AS k, n_anchors, n_hits,
        |       CAST(n_hits * 1000000 // GREATEST(1, n_anchors) AS BIGINT)
        |         AS hit_ppm
        |FROM (SELECT 1 AS k, n_anchors, h1 AS n_hits FROM agg
        |      UNION ALL SELECT 2, n_anchors, h2 FROM agg
        |      UNION ALL SELECT 3, n_anchors, h3 FROM agg)
        |ORDER BY k ASC""".stripMargin,
    // q290: identical hash split, identical exact-rank median and
    // ⌈0.9(n+1)⌉ conformal quantile (value-at-rank is tie-invariant).
    "q290_conformal_coverage" ->
      (silverCte +
        """,
          |ev AS (
          |  SELECT event_type AS part,
          |         CAST(round(value * 100) AS BIGINT) AS cents,
          |         CAST('0x' || substr(md5('conf:' ||
          |           CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 5
          |           AS is_cal
          |  FROM silver),
          |cal AS (SELECT part, cents AS v FROM ev WHERE is_cal),
          |medr AS (SELECT part, v,
          |           row_number() OVER (PARTITION BY part ORDER BY v ASC)
          |             AS rnk,
          |           COUNT(*) OVER (PARTITION BY part) AS n FROM cal),
          |med AS (SELECT part,
          |          CAST(MAX(CASE WHEN rnk = (n + 1) // 2 THEN v END)
          |            AS BIGINT) AS med_cents,
          |          CAST(MAX(n) AS BIGINT) AS n_cal
          |        FROM medr GROUP BY 1),
          |nc AS (SELECT c.part, ABS(c.v - m.med_cents) AS d
          |       FROM cal c JOIN med m ON c.part = m.part),
          |ncr AS (SELECT part, d,
          |          row_number() OVER (PARTITION BY part ORDER BY d ASC)
          |            AS rnk,
          |          COUNT(*) OVER (PARTITION BY part) AS n FROM nc),
          |qh AS (SELECT part,
          |         CAST(MAX(CASE WHEN rnk =
          |           LEAST((9 * (n + 1) + 9) // 10, n) THEN d END)
          |           AS BIGINT) AS qhat_cents
          |       FROM ncr GROUP BY 1)
          |SELECT t.part AS event_type, m.n_cal,
          |       CAST(COUNT(*) AS BIGINT) AS n_test,
          |       m.med_cents, q.qhat_cents,
          |       CAST(SUM(CASE WHEN ABS(t.cents - m.med_cents)
          |         <= q.qhat_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_cover,
          |       CAST(SUM(CASE WHEN ABS(t.cents - m.med_cents)
          |         <= q.qhat_cents THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
          |         AS BIGINT) AS cover_ppm,
          |       CAST(SUM(CASE WHEN ABS(t.cents - m.med_cents)
          |         <= q.qhat_cents THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
          |         - 900000 AS BIGINT) AS gap_ppm
          |FROM (SELECT part, cents FROM ev WHERE NOT is_cal) t
          |JOIN med m ON t.part = m.part JOIN qh q ON t.part = q.part
          |GROUP BY 1, 2, 4, 5 ORDER BY event_type ASC""".stripMargin),
    // q291: identical integer sufficient statistics; the three ratios are
    // the SAME double expression floored in both engines (FLOOR, not
    // cast: DuckDB's double->int cast rounds, Spark's truncates).
    "q291_cuped_adjustment" ->
      (silverCte +
        """,
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pu AS (
          |  SELECT user_id,
          |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |           AS BIGINT) % 2 AS arm,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             < date_diff('day', b.lo, b.hi)
          |           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS x,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             >= date_diff('day', b.lo, b.hi)
          |           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS y
          |  FROM silver CROSS JOIN b GROUP BY 1, 2),
          |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          |        CAST(SUM(x * x) AS BIGINT) AS sxx,
          |        CAST(SUM(x * y) AS BIGINT) AS sxy,
          |        CAST(SUM(y * y) AS BIGINT) AS syy
          |      FROM pu),
          |g AS (SELECT sx * 1000 // n AS mx_all_milli,
          |        CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
          |          / (n * sxx - sx * sx)) AS BIGINT) AS theta_ppm,
          |        CAST(FLOOR(1000000.0
          |          * (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
          |          * (CAST(n * sxy - sx * sy AS DOUBLE) / (n * syy - sy * sy)))
          |          AS BIGINT) AS var_red_ppm
          |      FROM m
          |      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
          |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
          |           CAST(SUM(x) AS BIGINT) AS sum_x_cents,
          |           CAST(SUM(y) AS BIGINT) AS sum_y_cents
          |         FROM pu GROUP BY 1)
          |SELECT CAST(arm AS BIGINT) AS arm, n_users, sum_x_cents,
          |       sum_y_cents,
          |       CAST(sum_y_cents * 1000 // n_users AS BIGINT)
          |         AS raw_mean_y_milli,
          |       CAST(FLOOR(CAST(sum_y_cents * 1000 // n_users AS DOUBLE)
          |         - CAST(g.theta_ppm AS DOUBLE)
          |           * CAST(sum_x_cents * 1000 // n_users - g.mx_all_milli
          |             AS DOUBLE) / 1000000.0) AS BIGINT) AS adj_mean_y_milli,
          |       g.theta_ppm, g.var_red_ppm
          |FROM arms CROSS JOIN g ORDER BY arm ASC""".stripMargin),
    // q292: identical zero-filled share grid (floor-ppm), identical
    // source_a < source_b pair orientation and Σ|Δ| // 2.
    "q292_source_tv_matrix" ->
      s"""WITH w AS (SELECT source, unnest(str_split($duckNorm, ' ')) AS word
         |           FROM documents),
         |counts AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM w GROUP BY 1, 2),
         |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
         |           FROM counts GROUP BY 1),
         |grid AS (SELECT s.source, v.word
         |         FROM (SELECT DISTINCT source FROM counts) s
         |         CROSS JOIN (SELECT DISTINCT word FROM counts) v),
         |filled AS (
         |  SELECT grid.source, grid.word,
         |         COALESCE(c.c, 0) * 1000000 // t.t AS share_ppm
         |  FROM grid LEFT JOIN counts c
         |    ON grid.source = c.source AND grid.word = c.word
         |  JOIN totals t ON grid.source = t.source)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(COUNT(*) AS BIGINT) AS vocab,
         |       CAST(SUM(ABS(a.share_ppm - b.share_ppm)) // 2 AS BIGINT)
         |         AS tv_ppm
         |FROM filled a JOIN filled b
         |  ON a.word = b.word AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source_a ASC, source_b ASC""".stripMargin,
    // q293: identical doubled-midrank census (2f + c + 1) so ties stay
    // integer; identical 2U = R2 - n1(n1+1) and ppm CLES.
    "q293_mann_whitney" ->
      """WITH vals AS (SELECT lang, n_chars AS v FROM documents),
        |vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY 1),
        |vf AS (SELECT v, c,
        |         CAST(COALESCE(SUM(c) OVER (ORDER BY v ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS f
        |       FROM vc),
        |r AS (SELECT vals.lang, 2 * vf.f + vf.c + 1 AS mr2
        |      FROM vals JOIN vf ON vals.v = vf.v),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM vals),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1,
        |             CAST(SUM(mr2) AS BIGINT) AS r2
        |      FROM r GROUP BY 1)
        |SELECT lang, n1, CAST(n_total - n1 AS BIGINT) AS n2,
        |       CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2,
        |       CAST((r2 - n1 * (n1 + 1)) * 1000000
        |         // (2 * n1 * (n_total - n1)) AS BIGINT) AS cles_ppm
        |FROM g CROSS JOIN tot ORDER BY lang ASC""".stripMargin,
    // q294: identical hash-drawn relabelings (mod-n < n1), identical
    // cross-multiplied extremeness test, add-one p.
    "q294_permutation_test" ->
      """WITH base AS (SELECT doc_id, n_chars,
        |                CAST(lang = 'en' AS BIGINT) AS is_a FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(is_a) AS BIGINT) AS n1,
        |          CAST(SUM(n_chars) AS BIGINT) AS s,
        |          CAST(SUM(is_a * n_chars) AS BIGINT) AS s1 FROM base),
        |t2 AS (SELECT n, n1, n - n1 AS n2, s1, s - s1 AS s2,  s,
        |         ABS(s1 * (n - n1) - (s - s1) * n1) AS obs_num FROM tot),
        |fan AS (SELECT b.doc_id, b.n_chars, t.n, t.n1, i.b
        |        FROM base b CROSS JOIN t2 t
        |        CROSS JOIN (SELECT unnest(range(0, 128)) AS b) i),
        |asg AS (SELECT b, n_chars,
        |          CAST(CAST('0x' || substr(md5('perm:' || CAST(b AS VARCHAR)
        |            || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |            % n < n1 AS BIGINT) AS assign
        |        FROM fan),
        |pb AS (SELECT b, CAST(SUM(assign) AS BIGINT) AS n1b,
        |         CAST(SUM(assign * n_chars) AS BIGINT) AS s1b
        |       FROM asg GROUP BY 1),
        |ext AS (SELECT t.n1, t.n2, t.obs_num,
        |          CAST(ABS(s1b * (t.n - n1b) - (t.s - s1b) * n1b)
        |              * (t.n1 * t.n2)
        |            >= t.obs_num * (n1b * (t.n - n1b)) AS BIGINT) AS extreme
        |        FROM pb CROSS JOIN t2 t)
        |SELECT n1, n2,
        |       CAST(obs_num * 1000 // (n1 * n2) AS BIGINT)
        |         AS obs_absdiff_milli,
        |       CAST(COUNT(*) AS BIGINT) AS n_perms,
        |       CAST(SUM(extreme) AS BIGINT) AS n_extreme,
        |       CAST((1 + SUM(extreme)) * 1000000 // (COUNT(*) + 1)
        |         AS BIGINT) AS p_ppm
        |FROM ext GROUP BY 1, 2, obs_num""".stripMargin,
    // q295: identical gram unions, identical clipped min(c, ct - c)
    // against the rest-of-corpus by subtraction.
    "q295_bleu_overlap" ->
      s"""WITH t AS (SELECT source, str_split($duckNorm, ' ') AS w
         |           FROM documents),
         |g1 AS (SELECT source, CAST(1 AS BIGINT) AS n, unnest(w) AS gram
         |       FROM t),
         |i2 AS (SELECT source, w,
         |              unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |g2 AS (SELECT source, CAST(2 AS BIGINT) AS n,
         |              w[i] || ' ' || w[i+1] AS gram FROM i2),
         |i3 AS (SELECT source, w,
         |              unnest(generate_series(1, len(w)-2)) AS i FROM t),
         |g3 AS (SELECT source, CAST(3 AS BIGINT) AS n,
         |              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |       FROM i3),
         |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |      UNION ALL SELECT * FROM g3),
         |counts AS (SELECT source, n, gram, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM u GROUP BY 1, 2, 3),
         |gtab AS (SELECT n, gram, CAST(SUM(c) AS BIGINT) AS ct
         |         FROM counts GROUP BY 1, 2)
         |SELECT c.source, c.n AS ngram,
         |       CAST(SUM(c.c) AS BIGINT) AS total_grams,
         |       CAST(SUM(LEAST(c.c, g.ct - c.c)) AS BIGINT) AS clipped_grams,
         |       CAST(SUM(LEAST(c.c, g.ct - c.c)) * 1000000 // SUM(c.c)
         |         AS BIGINT) AS precision_ppm
         |FROM counts c JOIN gtab g ON c.n = g.n AND c.gram = g.gram
         |GROUP BY 1, 2 ORDER BY source ASC, ngram ASC""".stripMargin,
    // q296: identical ⌈k·n/10⌉ decile ranks (value-at-rank is
    // tie-invariant) with the '__all__' twin partition for the global.
    "q296_quantile_mapping" ->
      """WITH vals AS (
        |  SELECT source AS part, n_chars AS v FROM documents
        |  UNION ALL SELECT '__all__' AS part, n_chars FROM documents),
        |r AS (SELECT part, v,
        |        row_number() OVER (PARTITION BY part ORDER BY v ASC) AS rnk,
        |        COUNT(*) OVER (PARTITION BY part) AS cn FROM vals),
        |ks AS (SELECT part, unnest(range(1, 10)) AS q
        |       FROM (SELECT DISTINCT part FROM vals)),
        |at AS (SELECT k.part, CAST(k.q AS BIGINT) AS q,
        |         MAX(CASE WHEN r.rnk = (k.q * r.cn + 9) // 10
        |           THEN r.v END) AS v
        |       FROM ks k JOIN r ON k.part = r.part GROUP BY 1, 2),
        |gtab AS (SELECT q, CAST(v AS BIGINT) AS global_chars
        |         FROM at WHERE part = '__all__')
        |SELECT a.part AS source, a.q AS decile, CAST(a.v AS BIGINT)
        |         AS src_chars,
        |       g.global_chars,
        |       CAST(a.v - g.global_chars AS BIGINT) AS shift_chars
        |FROM at a JOIN gtab g ON a.q = g.q WHERE a.part <> '__all__'
        |ORDER BY source ASC, decile ASC""".stripMargin,
    // q297: N_h·S_h = isqrt(N·Σx² − (Σx)²) — one IEEE sqrt (correctly
    // rounded, identical both engines) then floor; q264 largest-remainder
    // apportionment for both allocations.
    "q297_neyman_allocation" ->
      """WITH stats AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS sx,
        |         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY 1),
        |ws AS (SELECT source, n_docs,
        |         CAST(FLOOR(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE)))
        |           AS BIGINT) AS weight
        |       FROM stats),
        |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw,
        |               CAST(SUM(n_docs) AS BIGINT) AS tn FROM ws),
        |based AS (SELECT source, n_docs, weight,
        |            weight * 1000 // tw AS nbase, (weight * 1000) % tw AS nrem,
        |            n_docs * 1000 // tn AS pbase, (n_docs * 1000) % tn AS prem
        |          FROM ws CROSS JOIN tot),
        |lef AS (SELECT 1000 - CAST(SUM(nbase) AS BIGINT) AS nleft,
        |               1000 - CAST(SUM(pbase) AS BIGINT) AS pleft FROM based),
        |ranked AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY nrem DESC, source ASC)
        |      AS BIGINT) AS nrank,
        |    CAST(row_number() OVER (ORDER BY prem DESC, source ASC)
        |      AS BIGINT) AS prank
        |  FROM based)
        |SELECT source, n_docs, weight,
        |       CAST(nbase + CASE WHEN nrank <= lef.nleft THEN 1 ELSE 0 END
        |         AS BIGINT) AS neyman_alloc,
        |       CAST(pbase + CASE WHEN prank <= lef.pleft THEN 1 ELSE 0 END
        |         AS BIGINT) AS prop_alloc,
        |       CAST(nbase + CASE WHEN nrank <= lef.nleft THEN 1 ELSE 0 END
        |         - pbase - CASE WHEN prank <= lef.pleft THEN 1 ELSE 0 END
        |         AS BIGINT) AS delta
        |FROM ranked CROSS JOIN lef ORDER BY source ASC""".stripMargin,
    // q298: identical per-doc-distinct gram sets per width (inclusive
    // slice w[i:i+k-1]), df > 1 sharing, semi-join flagged census.
    "q298_dedup_sweep" ->
      s"""WITH t AS (SELECT doc_id, str_split($duckNorm, ' ') AS w
         |           FROM documents),
         |grams AS (
         |  SELECT DISTINCT 2 AS wsize, doc_id,
         |         array_to_string(w[i:i+1], ' ') AS gram
         |  FROM t, unnest(generate_series(1, len(w) - 1)) AS s(i)
         |  UNION
         |  SELECT DISTINCT 3, doc_id, array_to_string(w[i:i+2], ' ')
         |  FROM t, unnest(generate_series(1, len(w) - 2)) AS s(i)
         |  UNION
         |  SELECT DISTINCT 4, doc_id, array_to_string(w[i:i+3], ' ')
         |  FROM t, unnest(generate_series(1, len(w) - 3)) AS s(i)
         |  UNION
         |  SELECT DISTINCT 5, doc_id, array_to_string(w[i:i+4], ' ')
         |  FROM t, unnest(generate_series(1, len(w) - 4)) AS s(i)),
         |dfc AS (SELECT wsize, gram, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM grams GROUP BY 1, 2),
         |perw AS (SELECT wsize, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |           CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |             AS n_shared_grams
         |         FROM dfc GROUP BY 1),
         |flagged AS (
         |  SELECT g.wsize, CAST(COUNT(DISTINCT g.doc_id) AS BIGINT)
         |           AS docs_flagged
         |  FROM grams g JOIN dfc ON g.wsize = dfc.wsize AND g.gram = dfc.gram
         |  WHERE dfc.df > 1 GROUP BY 1),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT CAST(p.wsize AS BIGINT) AS wsize, p.n_grams,
         |       p.n_shared_grams,
         |       CAST(COALESCE(f.docs_flagged, 0) AS BIGINT) AS docs_flagged,
         |       CAST(COALESCE(f.docs_flagged, 0) * 1000000 // nd.n_docs
         |         AS BIGINT) AS flagged_ppm
         |FROM perw p LEFT JOIN flagged f ON p.wsize = f.wsize
         |CROSS JOIN nd ORDER BY wsize ASC""".stripMargin,
    // q299: identical daily census, identical integer μ/k/h, identical
    // prefix-sum-minus-running-min CUSUM closed form.
    "q299_cusum_changepoint" ->
      (silverCte +
        """,
          |daily AS (SELECT event_date AS d, CAST(COUNT(*) AS BIGINT) AS x
          |          FROM silver GROUP BY 1),
          |tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tx,
          |               CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
          |base AS (SELECT d, x, tx // nd AS mu, (tx // nd) // 20 AS k,
          |                (tx // nd) // 2 AS h
          |         FROM daily CROSS JOIN tot),
          |pref AS (SELECT d, x, h,
          |           SUM(x - mu - k) OVER (ORDER BY d ASC
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |             AS p,
          |           SUM(mu - k - x) OVER (ORDER BY d ASC
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |             AS q
          |         FROM base),
          |cs AS (SELECT d, x, h,
          |         p - LEAST(0, MIN(p) OVER (ORDER BY d ASC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |           AS s_pos,
          |         q - LEAST(0, MIN(q) OVER (ORDER BY d ASC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |           AS s_neg
          |       FROM pref)
          |SELECT d, x, CAST(s_pos AS BIGINT) AS s_pos,
          |       CAST(s_neg AS BIGINT) AS s_neg, h,
          |       s_pos > h OR s_neg > h AS breach
          |FROM cs ORDER BY d ASC""".stripMargin),
    // q300: the q27/q178 minhash chain, per-pair 32-slot agreement, and
    // the identical candidate-restricted P/R/F1 sweep.
    "q300_threshold_sweep" -> thresholdSweepOracle,
    // q301: identical (source, lang) census; every leave-one-out stat by
    // sufficient-statistic subtraction; signed delta is a subtraction.
    "q301_loo_corpus_influence" ->
      """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nc,
        |                 CAST(SUM(n_chars) AS BIGINT) AS sc
        |               FROM documents GROUP BY 1, 2),
        |ps AS (SELECT source, CAST(SUM(nc) AS BIGINT) AS n_s,
        |              CAST(SUM(sc) AS BIGINT) AS s_s FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
        |               CAST(SUM(s_s) AS BIGINT) AS s FROM ps),
        |lt AS (SELECT lang, CAST(SUM(nc) AS BIGINT) AS nl
        |       FROM cells GROUP BY 1),
        |grid AS (SELECT ps.source, ps.n_s, lt.lang, lt.nl
        |         FROM ps CROSS JOIN lt),
        |shift AS (
        |  SELECT g.source,
        |         CAST(SUM(ABS(g.nl * 1000000 // t.n
        |           - (g.nl - COALESCE(c.nc, 0)) * 1000000 // (t.n - g.n_s)))
        |           // 2 AS BIGINT) AS langmix_shift_ppm
        |  FROM grid g LEFT JOIN cells c
        |    ON g.source = c.source AND g.lang = c.lang
        |  CROSS JOIN tot t GROUP BY 1)
        |SELECT ps.source, ps.n_s AS n_docs,
        |       CAST(t.s * 1000 // t.n AS BIGINT) AS mean_all_milli,
        |       CAST((t.s - ps.s_s) * 1000 // (t.n - ps.n_s) AS BIGINT)
        |         AS mean_wo_milli,
        |       CAST((t.s - ps.s_s) * 1000 // (t.n - ps.n_s)
        |         - t.s * 1000 // t.n AS BIGINT) AS delta_milli,
        |       sh.langmix_shift_ppm
        |FROM ps CROSS JOIN tot t JOIN shift sh ON ps.source = sh.source
        |ORDER BY ps.source ASC""".stripMargin,
    // q302: identical trigram gain model (c−1)(len−2), identical
    // savings DESC / gram ASC top-20.
    "q302_dict_mining" ->
      s"""WITH t AS (SELECT str_split($duckNorm, ' ') AS w FROM documents),
         |i AS (SELECT w, unnest(generate_series(1, len(w)-2)) AS i FROM t),
         |g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram FROM i),
         |c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1),
         |s AS (SELECT gram, c,
         |        CAST((c - 1) * (length(gram) - 2) AS BIGINT) AS savings
         |      FROM c),
         |r AS (SELECT CAST(row_number() OVER (
         |        ORDER BY savings DESC, gram ASC) AS BIGINT) AS rank,
         |        gram, c AS occurrences, savings AS savings_bytes FROM s)
         |SELECT rank, gram, occurrences, savings_bytes FROM r
         |WHERE rank <= 20 ORDER BY rank ASC""".stripMargin,
    // q303: ε spelled as the SAME double chain (one division, one IEEE
    // sqrt, two multiplies, floor); ln(2/0.05) as a fixed literal.
    "q303_hoeffding_screen" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |               CAST(SUM(n_chars) AS BIGINT) AS sx
        |             FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS s,
        |               CAST(COUNT(*) AS BIGINT) AS nt,
        |               CAST(MIN(n_chars) AS BIGINT) AS lo,
        |               CAST(MAX(n_chars) AS BIGINT) AS hi FROM documents)
        |SELECT source, n AS n_docs,
        |       CAST(sx * 1000 // n AS BIGINT) AS mean_milli,
        |       CAST(s * 1000 // nt AS BIGINT) AS corpus_mean_milli,
        |       CAST(FLOOR(CAST(hi - lo AS DOUBLE)
        |         * SQRT(3.6888794541139363 / (2.0 * n)) * 1000.0)
        |         AS BIGINT) AS eps_milli,
        |       ABS(sx * 1000 // n - s * 1000 // nt)
        |         <= CAST(FLOOR(CAST(hi - lo AS DOUBLE)
        |           * SQRT(3.6888794541139363 / (2.0 * n)) * 1000.0)
        |           AS BIGINT) AS within_bound
        |FROM per CROSS JOIN tot ORDER BY source ASC""".stripMargin,
    // q304: the q287 rubric census + Wilson bounds with z²/2 and z²/4 as
    // exact binary halvings of the same literal; identical double order.
    "q304_wilson_bounds" ->
      s"""WITH n AS (SELECT doc_id, lang, $duckNorm AS nrm FROM documents),
         |t AS (SELECT doc_id, lang, nrm, str_split(nrm, ' ') AS w FROM n),
         |f AS (SELECT lang,
         |        CAST(len(w) AS INTEGER) AS n_tokens,
         |        CAST(len(list_filter(w, x -> x IN ($duckStops)))
         |          AS INTEGER) AS stop_cnt,
         |        CAST(length(replace(nrm, ' ', '')) AS DOUBLE) / len(w)
         |          AS mean_token_len
         |      FROM t),
         |v AS (SELECT lang,
         |        CAST(n_tokens BETWEEN 20 AND 1000 AND stop_cnt > 0
         |          AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
         |          AS BIGINT) AS pass FROM f),
         |census AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                  CAST(SUM(pass) AS BIGINT) AS n_pass
         |           FROM v GROUP BY 1),
         |w2 AS (SELECT lang, n_docs, n_pass,
         |         SUM(n_pass) OVER () * 1000000 // SUM(n_docs) OVER ()
         |           AS overall_ppm,
         |         1.959963984540054 * SQRT(CAST(n_pass AS DOUBLE)
         |           * CAST(n_docs - n_pass AS DOUBLE) / n_docs
         |           + 3.841458820694124 / 4) AS rad
         |       FROM census),
         |b AS (SELECT lang, n_docs, n_pass,
         |        CAST(n_pass * 1000000 // n_docs AS BIGINT) AS pass_ppm,
         |        CAST(FLOOR(1000000.0 * (CAST(n_pass AS DOUBLE)
         |          + 3.841458820694124 / 2 - rad)
         |          / (n_docs + 3.841458820694124)) AS BIGINT) AS lo_ppm,
         |        CAST(FLOOR(1000000.0 * (CAST(n_pass AS DOUBLE)
         |          + 3.841458820694124 / 2 + rad)
         |          / (n_docs + 3.841458820694124)) AS BIGINT) AS hi_ppm,
         |        CAST(overall_ppm AS BIGINT) AS overall_ppm
         |      FROM w2)
         |SELECT lang, n_docs, n_pass, pass_ppm, lo_ppm, hi_ppm, overall_ppm,
         |       overall_ppm >= lo_ppm AND overall_ppm <= hi_ppm
         |         AS covers_overall
         |FROM b ORDER BY lang ASC""".stripMargin,
    // q305: the q27 pair set as the edge list; wedges from the degree
    // census, triangles via the ordered a<b<c three-way join.
    "q305_dup_transitivity" ->
      s"""$minhashPairSql,
         |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs),
         |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
         |wg AS (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)
         |         AS n_wedges FROM deg),
         |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |        FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
         |        JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
         |SELECT ne.n_edges, wg.n_wedges, tri.n_triangles,
         |       CAST(3 * tri.n_triangles * 1000000
         |         // GREATEST(1, wg.n_wedges) AS BIGINT) AS transitivity_ppm
         |FROM ne CROSS JOIN wg CROSS JOIN tri""".stripMargin,
    // q306: the q274 band pairs + the q252 floor-cosine; signed mean via
    // the shift trick (margins ≥ −2·10⁶ by construction).
    "q306_label_margin" ->
      (lshCte +
        """,
          |nv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
          |       FROM v),
          |pairs AS (
          |  SELECT DISTINCT a.vec_id AS vid, b.vec_id AS pid
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
          |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
          |        FROM embeddings),
          |sc AS (
          |  SELECT p.vid, la.label AS la, lb.label AS lb,
          |         CAST(FLOOR(list_dot_product(qv.e, xv.e)
          |           / (qv.nrm * xv.nrm) * 1000000) AS BIGINT) AS cos_ppm
          |  FROM pairs p JOIN nv qv ON p.vid = qv.vec_id
          |               JOIN nv xv ON p.pid = xv.vec_id
          |               JOIN lab la ON p.vid = la.vec_id
          |               JOIN lab lb ON p.pid = lb.vec_id),
          |pv AS (SELECT vid, la,
          |         MAX(CASE WHEN la = lb THEN cos_ppm END) AS pos,
          |         MAX(CASE WHEN la <> lb THEN cos_ppm END) AS neg
          |       FROM sc GROUP BY 1, 2),
          |m AS (SELECT la AS label, pos - neg AS margin FROM pv
          |      WHERE pos IS NOT NULL AND neg IS NOT NULL)
          |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_scored,
          |       CAST((SUM(margin) + COUNT(*) * 2000000) // COUNT(*)
          |         - 2000000 AS BIGINT) AS mean_margin_ppm,
          |       CAST(MIN(margin) AS BIGINT) AS min_margin_ppm,
          |       CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_negative_margin
          |FROM m GROUP BY 1 ORDER BY label ASC""".stripMargin),
    // q307: the q291 sufficient statistics; z constants summed as the
    // same literals; one identically-ordered double chain under CEIL.
    "q307_power_analysis" ->
      (silverCte +
        """,
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pu AS (
          |  SELECT user_id,
          |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |           AS BIGINT) % 2 AS arm,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             < date_diff('day', b.lo, b.hi)
          |           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS x,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             >= date_diff('day', b.lo, b.hi)
          |           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS y
          |  FROM silver CROSS JOIN b GROUP BY 1, 2),
          |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          |        CAST(SUM(x * x) AS BIGINT) AS sxx,
          |        CAST(SUM(x * y) AS BIGINT) AS sxy,
          |        CAST(SUM(y * y) AS BIGINT) AS syy
          |      FROM pu),
          |mm AS (SELECT * FROM m
          |       WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
          |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS na,
          |                CAST(SUM(y) AS BIGINT) AS sya FROM pu GROUP BY 1),
          |a0 AS (SELECT na AS n0, sya AS sy0 FROM arms WHERE arm = 0),
          |a1 AS (SELECT na AS n1, sya AS sy1 FROM arms WHERE arm = 1),
          |zz AS (SELECT (1.959963984540054 + 0.8416212335729143) AS z),
          |f AS (
          |  SELECT
          |    CAST(mm.n * mm.syy - mm.sy * mm.sy AS DOUBLE)
          |      / (CAST(mm.n AS DOUBLE) * CAST(mm.n AS DOUBLE)) AS sigma2,
          |    (CAST(mm.n * mm.sxy - mm.sx * mm.sy AS DOUBLE)
          |      / CAST(mm.n * mm.sxx - mm.sx * mm.sx AS DOUBLE))
          |      * (CAST(mm.n * mm.sxy - mm.sx * mm.sy AS DOUBLE)
          |        / CAST(mm.n * mm.syy - mm.sy * mm.sy AS DOUBLE)) AS rho2,
          |    CAST(a1.sy1 AS DOUBLE) / a1.n1
          |      - CAST(a0.sy0 AS DOUBLE) / a0.n0 AS d,
          |    zz.z AS z
          |  FROM mm CROSS JOIN a0 CROSS JOIN a1 CROSS JOIN zz)
          |SELECT CAST(FLOOR(d * 1000.0) AS BIGINT) AS obs_gap_milli,
          |       CAST(CEIL(z * z * 2.0 * sigma2 / (d * d)) AS BIGINT)
          |         AS n_per_arm_raw,
          |       CAST(CEIL(z * z * 2.0 * sigma2 * (1.0 - rho2) / (d * d))
          |         AS BIGINT) AS n_per_arm_cuped,
          |       CAST(FLOOR(rho2 * 1000000.0) AS BIGINT) AS rho2_ppm
          |FROM f WHERE d <> 0""".stripMargin),
    // q308: the q300 chain with 8/16/32-slot prefix agreements; abs
    // error vs exact Jaccard, nonnegative floor-div census.
    "q308_minhash_k_sweep" -> minhashKSweepOracle,
    // q309: identical hash buckets, per-gram MIN bucket, nested cutoffs.
    "q309_sample_curve" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST('0x' || substr(md5('curve:' || CAST(doc_id AS VARCHAR)),
         |      1, 15) AS BIGINT) % 100 AS b,
         |    str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT b, unnest(w) AS gram, 'word' AS kind FROM t),
         |i3 AS (SELECT b, w, unnest(generate_series(1, len(w)-2)) AS i
         |       FROM t),
         |tris AS (SELECT b, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram,
         |                'trigram' AS kind FROM i3),
         |minb AS (SELECT kind, gram, CAST(MIN(b) AS BIGINT) AS min_b
         |         FROM (SELECT * FROM words UNION ALL SELECT * FROM tris)
         |         GROUP BY 1, 2),
         |f(sample_pct) AS (VALUES (10), (25), (50), (100))
         |SELECT m.kind, CAST(f.sample_pct AS BIGINT) AS sample_pct,
         |       CAST(COUNT(*) AS BIGINT) AS n_types
         |FROM minb m JOIN f ON m.min_b < f.sample_pct
         |GROUP BY 1, 2 ORDER BY kind ASC, sample_pct ASC""".stripMargin,
    // q310: identical daily census; each slope is ONE floored double
    // division (sign-safe); median = value at rank ⌈n/2⌉.
    "q310_theil_sen" ->
      (silverCte +
        """,
          |daily AS (SELECT event_date AS d, CAST(COUNT(*) AS BIGINT) AS y
          |          FROM silver GROUP BY 1),
          |d0 AS (SELECT MIN(d) AS d0 FROM daily),
          |pts AS (SELECT CAST(date_diff('day', d0.d0, d) AS BIGINT) AS t, y
          |        FROM daily CROSS JOIN d0),
          |slopes AS (
          |  SELECT CAST(FLOOR(CAST(p2.y - p1.y AS DOUBLE) * 1000.0
          |    / (p2.t - p1.t)) AS BIGINT) AS slope_milli
          |  FROM pts p1 JOIN pts p2 ON p2.t > p1.t),
          |ranked AS (SELECT slope_milli,
          |             row_number() OVER (ORDER BY slope_milli ASC) AS rnk,
          |             COUNT(*) OVER () AS n FROM slopes),
          |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
          |SELECT nd.n_days, CAST(r.n AS BIGINT) AS n_pairs, r.slope_milli,
          |       r.slope_milli > 0 AS trending_up
          |FROM ranked r CROSS JOIN nd
          |WHERE r.rnk = (r.n + 1) // 2""".stripMargin),
    // q311: identical token census; the SAME precomputed decay-ppm table
    // (generated from one Scala recurrence) spelled as VALUES.
    "q311_data_constrained" -> dataConstrainedOracle,
    // q312: the q192 transition matrix, T = 24 unrolled milli-step
    // rounds (1000 + Σ q·m // 10⁶); dead-end successors drop to 0 via
    // the missing join row in both spellings.
    "q312_absorbing_markov" -> absorbingMarkovOracle(24),
    // q313: identical per-look user sums; z and the OBF boundary are the
    // same double chains floored to milli.
    "q313_group_sequential" ->
      (silverCte +
        """,
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pul AS (
          |  SELECT l.look,
          |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |      AS BIGINT) % 2 AS arm,
          |    user_id,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM silver CROSS JOIN b
          |  CROSS JOIN (SELECT unnest(range(1, 5)) AS look) l
          |  WHERE date_diff('day', b.lo, event_date) * 4
          |      < date_diff('day', b.lo, b.hi) * l.look
          |     OR l.look = 4
          |  GROUP BY 1, 2, 3),
          |mom AS (SELECT look, arm, CAST(COUNT(*) AS BIGINT) AS n,
          |               CAST(SUM(y) AS BIGINT) AS sy,
          |               CAST(SUM(y * y) AS BIGINT) AS syy
          |        FROM pul GROUP BY 1, 2),
          |ma AS (SELECT look, n AS n0, sy AS sy0, syy AS syy0 FROM mom
          |       WHERE arm = 0),
          |mb AS (SELECT look AS look1, n AS n1, sy AS sy1, syy AS syy1
          |       FROM mom WHERE arm = 1),
          |f AS (
          |  SELECT ma.look, n0, n1,
          |    (CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * sy0 / n0)
          |      + (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n1)
          |      AS ss,
          |    CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 AS d
          |  FROM ma JOIN mb ON ma.look = mb.look1
          |  WHERE n0 > 1 AND n1 > 1),
          |g AS (SELECT look, n0, n1, d, ss / (n0 + n1 - 2) AS s2p FROM f),
          |h AS (SELECT look, n0, n1, d,
          |        d / sqrt(s2p * (1.0 / n0 + 1.0 / n1)) AS z,
          |        2.024 * sqrt(4.0 / look) AS boundary FROM g)
          |SELECT CAST(look AS BIGINT) AS look, n0, n1,
          |       CAST(FLOOR(d * 1000.0) AS BIGINT) AS gap_milli,
          |       CAST(FLOOR(z * 1000.0) AS BIGINT) AS z_milli,
          |       CAST(FLOOR(boundary * 1000.0) AS BIGINT) AS boundary_milli,
          |       ABS(CAST(FLOOR(z * 1000.0) AS BIGINT))
          |         > CAST(FLOOR(boundary * 1000.0) AS BIGINT) AS crossed
          |FROM h ORDER BY look ASC""".stripMargin),
    // q314: gaps ≡ q193's date_diff('second'); deciles by exact rank;
    // the −ln(1−p) table is the SAME JVM-printed literal list.
    "q314_exponential_qq" -> exponentialQqOracle,
    // q315: identical data-relative strata; pooled effect as an exact
    // num/den pair (signed gaps never divide — the q193 discipline).
    "q315_stratified_ate" ->
      (silverCte +
        """,
          |pu AS (
          |  SELECT user_id,
          |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |      AS BIGINT) % 2 AS arm,
          |    CAST(COUNT(*) AS BIGINT) AS ne,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM silver GROUP BY 1, 2),
          |av AS (SELECT CAST(SUM(ne) // COUNT(*) AS BIGINT) AS avg_ne
          |       FROM pu),
          |cells AS (
          |  SELECT LEAST(3, ne * 2 // GREATEST(1, av.avg_ne)) AS stratum,
          |         arm, CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(SUM(y) AS BIGINT) AS sy
          |  FROM pu CROSS JOIN av GROUP BY 1, 2),
          |s0 AS (SELECT stratum, n AS n0, sy AS sy0 FROM cells
          |       WHERE arm = 0),
          |s1 AS (SELECT stratum AS st1, n AS n1, sy AS sy1 FROM cells
          |       WHERE arm = 1),
          |strata AS (
          |  SELECT s0.stratum, n0, n1,
          |         sy0 * 1000 // n0 AS mean0_milli,
          |         sy1 * 1000 // n1 AS mean1_milli,
          |         sy1 * 1000 // n1 - sy0 * 1000 // n0 AS gap_milli
          |  FROM s0 JOIN s1 ON s0.stratum = s1.st1)
          |SELECT CAST(stratum AS BIGINT) AS stratum, n0, n1,
          |       CAST(mean0_milli AS BIGINT) AS mean0_milli,
          |       CAST(mean1_milli AS BIGINT) AS mean1_milli,
          |       CAST(gap_milli AS BIGINT) AS gap_milli,
          |       CAST(SUM((n0 + n1) * gap_milli) OVER () AS BIGINT)
          |         AS pooled_num,
          |       CAST(SUM(n0 + n1) OVER () AS BIGINT) AS pooled_den
          |FROM strata ORDER BY stratum ASC""".stripMargin),
    // q316: identical prefix-fingerprint census;
    // E = B(B−1)/2·Σc(c−1)/N(N−1) in exact milli-pairs.
    "q316_inbatch_collisions" ->
      s"""WITH g AS (SELECT md5(substr($duckNorm, 1, 64)) AS h, COUNT(*) AS c
         |           FROM documents GROUP BY 1),
         |m AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |             CAST(SUM(c * (c - 1)) AS BIGINT) AS pnum FROM g),
         |bs(b) AS (VALUES (16), (64), (256), (1024))
         |SELECT CAST(b AS BIGINT) AS batch_size, n AS n_docs,
         |       pnum AS dup_ordered_pairs,
         |       CAST(pnum * 1000000 // (n * (n - 1)) AS BIGINT)
         |         AS p_pair_ppm,
         |       CAST(b * (b - 1) // 2 * pnum * 1000 // (n * (n - 1))
         |         AS BIGINT) AS exp_pairs_milli
         |FROM bs CROSS JOIN m WHERE b <= n
         |ORDER BY batch_size ASC""".stripMargin,
    // q317: the q27 pair set × the q30 fingerprint shards; exact pairs
    // validate the wiring (fingerprint-equal ⇒ same shard).
    "q317_shard_locality" ->
      s"""$minhashPairSql,
         |shards AS (SELECT doc_id,
         |             CAST('0x' || substr(md5($duckNorm), 1, 15) AS BIGINT)
         |               % 64 AS shard
         |           FROM documents),
         |k AS (SELECT CASE WHEN p.jaccard >= 0.999999 THEN 'exact'
         |               ELSE 'near' END AS kind,
         |             CAST(sa.shard = sb.shard AS BIGINT) AS same
         |      FROM pairs p JOIN shards sa ON p.doc_a = sa.doc_id
         |                   JOIN shards sb ON p.doc_b = sb.doc_id)
         |SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(same) AS BIGINT) AS n_same_shard,
         |       CAST(SUM(same) * 1000000 // COUNT(*) AS BIGINT)
         |         AS same_shard_ppm
         |FROM k GROUP BY 1 ORDER BY kind ASC""".stripMargin,
    // q318: the q60 MinHash closure as the SYSTEM clustering, the q28
    // SimHash pairs at hamming <= 1 (the bounded high-confidence subset;
    // see DupClusters.simClustersFor) as the REFERENCE closure;
    // element-level B³ averaged as the cell-weighted sum (the per-doc
    // ratio is constant within a cell).
    "q318_bcubed_cluster_eval" ->
      s"""WITH RECURSIVE mpairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |spairs AS MATERIALIZED (
         |$simhashOracle
         |),
         |spairs1 AS (
         |  SELECT doc_a, doc_b FROM spairs WHERE hamming <= 1),
         |${closureCtes("mpairs", "m")},
         |${closureCtes("spairs1", "s")},
         |assign AS (
         |  SELECT d.doc_id,
         |         COALESCE(m.cluster_id, d.doc_id) AS sys_id,
         |         COALESCE(s.cluster_id, d.doc_id) AS gold_id
         |  FROM documents d
         |  LEFT JOIN mlab m USING (doc_id)
         |  LEFT JOIN slab s USING (doc_id)),
         |cells AS MATERIALIZED (
         |  SELECT sys_id, gold_id, CAST(COUNT(*) AS BIGINT) AS i_cnt
         |  FROM assign GROUP BY 1, 2),
         |cs AS (SELECT sys_id, CAST(SUM(i_cnt) AS BIGINT) AS c_cnt
         |       FROM cells GROUP BY 1),
         |gs AS (SELECT gold_id, CAST(SUM(i_cnt) AS BIGINT) AS g_cnt
         |       FROM cells GROUP BY 1),
         |m AS (
         |  SELECT c.i_cnt, c.sys_id, c.gold_id,
         |         c.i_cnt * (c.i_cnt * 1000000 // cs.c_cnt) AS p_mass,
         |         c.i_cnt * (c.i_cnt * 1000000 // gs.g_cnt) AS r_mass
         |  FROM cells c JOIN cs USING (sys_id) JOIN gs USING (gold_id)),
         |t AS (
         |  SELECT CAST(SUM(i_cnt) AS BIGINT) AS n_docs,
         |         CAST(COUNT(DISTINCT sys_id) AS BIGINT) AS n_sys_clusters,
         |         CAST(COUNT(DISTINCT gold_id) AS BIGINT) AS n_gold_clusters,
         |         CAST(SUM(p_mass) AS BIGINT) AS pm,
         |         CAST(SUM(r_mass) AS BIGINT) AS rm
         |  FROM m)
         |SELECT n_docs, n_sys_clusters, n_gold_clusters,
         |       CAST(pm // n_docs AS BIGINT) AS b3_precision_ppm,
         |       CAST(rm // n_docs AS BIGINT) AS b3_recall_ppm,
         |       CAST(2 * (pm // n_docs) * (rm // n_docs)
         |         // ((pm // n_docs) + (rm // n_docs)) AS BIGINT) AS b3_f1_ppm
         |FROM t""".stripMargin,
    // q326: same two closures as q318, scored by pair-counting; the
    // final ratio is the q291 exact-BIGINT-operands /
    // one-double-division / FLOOR discipline.
    "q326_adjusted_rand" ->
      s"""WITH RECURSIVE mpairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |spairs AS MATERIALIZED (
         |$simhashOracle
         |),
         |spairs1 AS (
         |  SELECT doc_a, doc_b FROM spairs WHERE hamming <= 1),
         |${closureCtes("mpairs", "m")},
         |${closureCtes("spairs1", "s")},
         |assign AS (
         |  SELECT d.doc_id,
         |         COALESCE(m.cluster_id, d.doc_id) AS sys_id,
         |         COALESCE(s.cluster_id, d.doc_id) AS gold_id
         |  FROM documents d
         |  LEFT JOIN mlab m USING (doc_id)
         |  LEFT JOIN slab s USING (doc_id)),
         |cells AS MATERIALIZED (
         |  SELECT sys_id, gold_id, CAST(COUNT(*) AS BIGINT) AS i_cnt
         |  FROM assign GROUP BY 1, 2),
         |i AS (SELECT CAST(SUM(i_cnt * (i_cnt - 1) // 2) AS BIGINT)
         |        AS pairs_both FROM cells),
         |a AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS pairs_sys
         |      FROM (SELECT CAST(SUM(i_cnt) AS BIGINT) AS c
         |            FROM cells GROUP BY sys_id)),
         |b AS (SELECT CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS pairs_gold
         |      FROM (SELECT CAST(SUM(i_cnt) AS BIGINT) AS g
         |            FROM cells GROUP BY gold_id)),
         |t AS (SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS pairs_total
         |      FROM (SELECT CAST(SUM(i_cnt) AS BIGINT) AS n FROM cells))
         |SELECT pairs_both, pairs_sys, pairs_gold, pairs_total,
         |       CAST(FLOOR(1000000.0
         |         * (2.0 * CAST(pairs_total * pairs_both
         |             - pairs_sys * pairs_gold AS DOUBLE))
         |         / CAST(pairs_total * (pairs_sys + pairs_gold)
         |             - 2 * pairs_sys * pairs_gold AS DOUBLE)) AS BIGINT)
         |         AS ari_ppm
         |FROM i, a, b, t
         |WHERE pairs_total * (pairs_sys + pairs_gold)
         |  - 2 * pairs_sys * pairs_gold > 0""".stripMargin,
    // q319: the q34 exact ranking and the q48 IVF ranking verbatim, then
    // AP@5 (cumulative-hit window) and truncated RBO (p = 0.9 as exact
    // 9^d/10^d BIGINT weights) per query.
    "q319_rank_quality" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |exq AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < $rankAuditQ),
         |excos AS (
         |  SELECT qv.query_id, nv.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM exq qv, v nv WHERE nv.vec_id <> qv.query_id),
         |exact AS (
         |  SELECT query_id, neighbor_id, er FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |      AS er
         |    FROM excos)
         |  WHERE er <= $rankAuditK),
         |n AS (SELECT vec_id, label, e,
         |        sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid
         |          FROM v GROUP BY 1),
         |sv AS (
         |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
         |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
         |ranks AS (
         |  SELECT nn.vec_id, sv.slabel,
         |         row_number() OVER (
         |           PARTITION BY nn.vec_id
         |           ORDER BY list_dot_product(nn.e, sv.se)
         |             / (nn.nrm * sv.snrm) DESC, sv.slabel ASC) AS rn
         |  FROM n nn, sv),
         |assigned AS (SELECT vec_id, slabel FROM ranks WHERE rn = 1),
         |probeset AS (
         |  SELECT vec_id AS query_id, slabel FROM ranks
         |  WHERE rn <= $rankAuditP AND vec_id < $rankAuditQ),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probeset p JOIN assigned a ON a.slabel = p.slabel
         |  WHERE a.vec_id <> p.query_id),
         |acos AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.e, nv.e) / (qv.nrm * nv.nrm) AS cos
         |  FROM cand c
         |  JOIN n qv ON qv.vec_id = c.query_id
         |  JOIN n nv ON nv.vec_id = c.neighbor_id),
         |approx AS (
         |  SELECT query_id, neighbor_id, ar FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |      AS ar
         |    FROM acos)
         |  WHERE ar <= $rankAuditK),
         |hits AS (
         |  SELECT a.query_id, a.ar,
         |         CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
         |           AS hit
         |  FROM approx a LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
         |apq AS (
         |  SELECT query_id,
         |         CAST(SUM(hit * (cum * 1000000 // ar)) // $rankAuditK AS BIGINT)
         |           AS ap_ppm
         |  FROM (SELECT query_id, ar, hit,
         |          SUM(hit) OVER (PARTITION BY query_id ORDER BY ar ASC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum
         |        FROM hits)
         |  GROUP BY 1),
         |mt AS (
         |  SELECT a.query_id, GREATEST(a.ar, e.er) AS md
         |  FROM approx a JOIN exact e
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
         |grid AS (
         |  SELECT DISTINCT e.query_id, d.d
         |  FROM exact e CROSS JOIN (SELECT unnest(range(1, $rankAuditK + 1)) AS d) d),
         |ov AS (
         |  SELECT g.query_id, g.d,
         |         CAST(SUM(CASE WHEN mt.md IS NOT NULL AND mt.md <= g.d
         |           THEN 1 ELSE 0 END) AS BIGINT) AS ov
         |  FROM grid g LEFT JOIN mt ON mt.query_id = g.query_id
         |  GROUP BY 1, 2),
         |rboq AS (
         |  SELECT query_id,
         |         CAST(SUM(ov * 1000000 * CAST(power(9, d - 1) AS BIGINT)
         |           // (d * CAST(power(10, d - 1) AS BIGINT))) // 10
         |           AS BIGINT) AS rbo_ppm
         |  FROM ov GROUP BY 1)
         |SELECT 'ivf' AS method, a.query_id, CAST($rankAuditK AS BIGINT) AS k,
         |       a.ap_ppm, r.rbo_ppm
         |FROM apq a JOIN rboq r USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // q320: q291's midpoint split and cents conventions; forecast fit on
    // the train half per activity octile, scored on the test half;
    // Murphy decomposition in exact integer ppm.
    "q320_brier_decomposition" ->
      (silverCte +
        """,
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pu AS (
          |  SELECT user_id,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             < date_diff('day', b.lo, b.hi)
          |           THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             < date_diff('day', b.lo, b.hi)
          |             AND event_type = 'purchase'
          |           THEN CAST(round(value * 100) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS train_cents,
          |         CAST(SUM(CASE WHEN date_diff('day', b.lo, event_date) * 2
          |             >= date_diff('day', b.lo, b.hi)
          |             AND event_type = 'purchase'
          |           THEN CAST(round(value * 100) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS test_cents
          |  FROM silver CROSS JOIN b GROUP BY 1),
          |pop AS (SELECT * FROM pu WHERE n_train >= 1),
          |avgs AS (SELECT CAST(SUM(n_train) // COUNT(*) AS BIGINT)
          |            AS avg_n,
          |          CAST(SUM(train_cents) // COUNT(*) AS BIGINT)
          |            AS avg_train_cents,
          |          CAST(SUM(test_cents) // COUNT(*) AS BIGINT)
          |            AS avg_test_cents
          |         FROM pop),
          |bk AS (
          |  SELECT LEAST(7, p.n_train * 4 // GREATEST(1, a.avg_n))
          |           AS bucket,
          |         CAST(p.train_cents > a.avg_train_cents AS BIGINT)
          |           AS train_hi,
          |         CAST(p.test_cents > a.avg_test_cents AS BIGINT)
          |           AS test_hi
          |  FROM pop p CROSS JOIN avgs a),
          |cells AS (
          |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_k,
          |         CAST(SUM(train_hi) * 1000000 // COUNT(*) AS BIGINT)
          |           AS f_ppm,
          |         CAST(SUM(test_hi) * 1000000 // COUNT(*) AS BIGINT)
          |           AS o_ppm,
          |         CAST(SUM(test_hi) AS BIGINT) AS ob
          |  FROM bk GROUP BY 1),
          |tot AS (
          |  SELECT CAST(SUM(n_k) AS BIGINT) AS n_users,
          |         CAST(COUNT(*) AS BIGINT) AS n_buckets,
          |         CAST(SUM(ob) * 1000000 // SUM(n_k) AS BIGINT)
          |           AS obar_ppm
          |  FROM cells),
          |s AS (
          |  SELECT t.n_users, t.n_buckets, t.obar_ppm,
          |         CAST(SUM(c.n_k * (c.f_ppm - c.o_ppm)
          |           * (c.f_ppm - c.o_ppm)) AS BIGINT) AS rel_sum,
          |         CAST(SUM(c.n_k * (c.o_ppm - t.obar_ppm)
          |           * (c.o_ppm - t.obar_ppm)) AS BIGINT) AS res_sum
          |  FROM cells c CROSS JOIN tot t GROUP BY 1, 2, 3)
          |SELECT n_users, n_buckets, obar_ppm,
          |       CAST(rel_sum // (n_users * 1000000) AS BIGINT) AS rel_ppm,
          |       CAST(res_sum // (n_users * 1000000) AS BIGINT) AS res_ppm,
          |       CAST(obar_ppm * (1000000 - obar_ppm) // 1000000 AS BIGINT)
          |         AS unc_ppm,
          |       CAST(rel_sum // (n_users * 1000000)
          |         - res_sum // (n_users * 1000000)
          |         + obar_ppm * (1000000 - obar_ppm) // 1000000 AS BIGINT)
          |         AS brier_ppm
          |FROM s""".stripMargin),
    // q325: per-stratum estimated propensity (HAVING = the positivity
    // guard), 10^9-scaled integer weights, Hájek self-normalized means.
    "q325_ipw_effect" ->
      (silverCte +
        """,
          |pu AS (
          |  SELECT user_id, COUNT(*) AS ne,
          |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1
          |           ELSE 0 END) AS BIGINT) AS nerr,
          |         CAST(SUM(CASE WHEN event_type = 'purchase'
          |           THEN CAST(round(value * 100) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS y
          |  FROM silver GROUP BY 1),
          |a AS (SELECT CAST(SUM(ne) // COUNT(*) AS BIGINT) AS avg_ne,
          |             CAST(SUM(nerr) * 1000000 // SUM(ne) AS BIGINT)
          |               AS rate_ppm
          |      FROM pu),
          |st AS (
          |  SELECT p.*, LEAST(3, p.ne * 2 // GREATEST(1, a.avg_ne))
          |    AS stratum,
          |         CAST(p.nerr * 1000000 // p.ne > a.rate_ppm AS BIGINT)
          |           AS t
          |  FROM pu p CROSS JOIN a),
          |prop AS (
          |  SELECT stratum,
          |         CAST(SUM(t) * 1000000 // COUNT(*) AS BIGINT) AS e_ppm
          |  FROM st GROUP BY 1
          |  HAVING SUM(t) * 1000000 // COUNT(*) > 0
          |     AND SUM(t) * 1000000 // COUNT(*) < 1000000),
          |wt AS (
          |  SELECT s.t, s.y,
          |         CASE WHEN s.t = 1 THEN 1000000000 // e.e_ppm
          |              ELSE 1000000000 // (1000000 - e.e_ppm) END AS w
          |  FROM st s JOIN prop e USING (stratum))
          |SELECT CAST(t AS BIGINT) AS treated,
          |       CAST(COUNT(*) AS BIGINT) AS n_users,
          |       CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT)
          |         AS raw_mean_milli,
          |       CAST(SUM(w * y) * 1000 // SUM(w) AS BIGINT)
          |         AS ipw_mean_milli
          |FROM wt GROUP BY 1 ORDER BY treated ASC""".stripMargin),
    // q328: per-bucket reduce + leave-one-out composed from totals; one
    // deterministic double sqrt at the end (q291 discipline).
    "q328_jackknife_ratio" ->
      (silverCte +
        """,
          |uy AS (
          |  SELECT user_id,
          |         CAST(SUM(CASE WHEN event_type = 'purchase'
          |           THEN CAST(round(value * 100) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS y
          |  FROM silver GROUP BY 1),
          |bk AS (
          |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
          |           AS BIGINT) % 20 AS bucket,
          |         COUNT(*) AS u_b, CAST(SUM(y) AS BIGINT) AS c_b
          |  FROM uy GROUP BY 1),
          |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
          |               CAST(SUM(u_b) AS BIGINT) AS u,
          |               CAST(SUM(c_b) AS BIGINT) AS c FROM bk),
          |loo AS (
          |  SELECT t.nb, t.u, t.c,
          |         (t.c - b.c_b) * 1000 // (t.u - b.u_b) AS r_loo
          |  FROM bk b CROSS JOIN tot t WHERE t.u > b.u_b),
          |rb AS (SELECT nb, u, c,
          |              CAST(SUM(r_loo) // COUNT(*) AS BIGINT) AS rbar
          |       FROM loo GROUP BY 1, 2, 3),
          |sq AS (
          |  SELECT l.nb, l.u, l.c,
          |         CAST(SUM((l.r_loo - r.rbar) * (l.r_loo - r.rbar))
          |           AS BIGINT) AS ssq
          |  FROM loo l JOIN rb r
          |    ON l.nb = r.nb AND l.u = r.u AND l.c = r.c
          |  GROUP BY 1, 2, 3)
          |SELECT nb AS n_buckets, u AS n_users, c AS total_cents,
          |       CAST(c * 1000 // u AS BIGINT) AS ratio_milli,
          |       CAST((nb - 1) * ssq // nb AS BIGINT) AS jk_var_milli2,
          |       CAST(FLOOR(SQRT(CAST((nb - 1) * ssq // nb AS DOUBLE)))
          |         AS BIGINT) AS jk_se_milli
          |FROM sq""".stripMargin),
    // q329: the q60 closure + cluster sizes, 1/|cluster| weights in
    // exact ppm, per-source mass census.
    "q329_dup_weighted_mass" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |sizes AS (SELECT cluster_id, COUNT(*) AS csize
         |          FROM lab GROUP BY 1),
         |wdoc AS (
         |  SELECT d.source, d.n_chars,
         |         1000000 // COALESCE(s.csize, 1) AS w_ppm
         |  FROM documents d
         |  LEFT JOIN lab l ON l.doc_id = d.doc_id
         |  LEFT JOIN sizes s ON s.cluster_id = l.cluster_id)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS raw_chars,
         |       CAST(SUM(n_chars * w_ppm) AS BIGINT)
         |         AS weighted_chars_ppm,
         |       CAST(SUM(n_chars * w_ppm) // SUM(n_chars) AS BIGINT)
         |         AS retention_ppm
         |FROM wdoc GROUP BY 1 ORDER BY source ASC""".stripMargin,
    // q330: the q133 fluency chain + the q60 closure membership label,
    // scored with the q293 doubled-midrank rank sum.
    "q330_dup_score_auc" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, lang, str_split($duckNorm, ' ') AS w
         |  FROM documents),
         |idx AS (SELECT doc_id, lang, w,
         |          unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS MATERIALIZED (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |docbg AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS m
         |          FROM bg GROUP BY 1, 2, 3, 4),
         |c AS MATERIALIZED (SELECT lang, w1, w2, COUNT(*) AS cnt FROM bg
         |      GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM c GROUP BY 1, 2),
         |lm AS (SELECT c.lang, c.w1, c.w2,
         |              c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |       FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
         |s AS (SELECT d.doc_id, CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
         |             CAST(SUM(d.m * lm.p_ppm) AS BIGINT) AS sum_ppm
         |      FROM docbg d JOIN lm ON d.lang = lm.lang
         |        AND d.w1 = lm.w1 AND d.w2 = lm.w2
         |      GROUP BY 1),
         |sc AS (
         |  SELECT docs.doc_id,
         |         COALESCE(s.sum_ppm // s.n_bigrams, 0) AS v
         |  FROM (SELECT doc_id FROM documents) docs
         |  LEFT JOIN s ON docs.doc_id = s.doc_id),
         |pairs AS MATERIALIZED (
         |$minhashOracle
         |),
         |${closureCtes("pairs")},
         |labeled AS MATERIALIZED (
         |  SELECT sc.v,
         |         CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS pos
         |  FROM sc LEFT JOIN (SELECT DISTINCT doc_id FROM lab) l
         |    ON l.doc_id = sc.doc_id),
         |vc AS (SELECT v, COUNT(*) AS c FROM labeled GROUP BY 1),
         |mr AS (
         |  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 AS mr2
         |  FROM vc),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |               CAST(SUM(pos) AS BIGINT) AS n1 FROM labeled),
         |r AS (SELECT CAST(SUM(m.mr2) AS BIGINT) AS r2
         |      FROM labeled lb JOIN mr m USING (v) WHERE lb.pos = 1)
         |SELECT t.n1 AS n_dup, t.n - t.n1 AS n_unique,
         |       CAST(r.r2 - t.n1 * (t.n1 + 1) AS BIGINT) AS u2,
         |       CAST((r.r2 - t.n1 * (t.n1 + 1)) * 1000000
         |         // (2 * t.n1 * (t.n - t.n1)) AS BIGINT) AS auc_ppm
         |FROM r, tot t
         |WHERE t.n1 > 0 AND t.n1 < t.n""".stripMargin,
    // q331: the q133 per-doc score + the q286 per-doc gate as label,
    // three unrolled halving rounds (25% -> 50% -> 100% hash slices),
    // survivors by (F1 DESC, t ASC) LIMIT n/2.
    "q331_successive_halving" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, str_split($duckNorm, ' ') AS w
         |  FROM documents),
         |idx AS (SELECT doc_id, lang, w,
         |          unnest(generate_series(1, len(w)-1)) AS i FROM t),
         |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |docbg AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS m
         |          FROM bg GROUP BY 1, 2, 3, 4),
         |c AS (SELECT lang, w1, w2, COUNT(*) AS cnt FROM bg
         |      GROUP BY 1, 2, 3),
         |ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM c GROUP BY 1, 2),
         |lm AS (SELECT c.lang, c.w1, c.w2,
         |              c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |       FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
         |s AS (SELECT d.doc_id, CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
         |             CAST(SUM(d.m * lm.p_ppm) AS BIGINT) AS sum_ppm
         |      FROM docbg d JOIN lm ON d.lang = lm.lang
         |        AND d.w1 = lm.w1 AND d.w2 = lm.w2
         |      GROUP BY 1),
         |sc AS (
         |  SELECT docs.doc_id,
         |         COALESCE(s.sum_ppm // s.n_bigrams, 0) AS v
         |  FROM (SELECT doc_id FROM documents) docs
         |  LEFT JOIN s ON docs.doc_id = s.doc_id),
         |gw AS (SELECT doc_id, unnest(str_split($duckNorm, ' ')) AS word
         |       FROM documents),
         |gwc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM gw GROUP BY 1, 2),
         |gp AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
         |              CAST(COUNT(*) AS BIGINT) AS u,
         |              CAST(MAX(cnt) AS BIGINT) AS maxc,
         |              CAST(SUM(CASE WHEN word IN ($duckStops)
         |                THEN cnt ELSE 0 END) AS BIGINT) AS stop_cnt,
         |              CAST(SUM(length(word) * cnt) AS BIGINT) AS sumlen
         |       FROM gwc GROUP BY 1),
         |gl AS (SELECT doc_id,
         |         CAST((n BETWEEN 20 AND 100)
         |           AND NOT (sumlen * 10 < n * 30 OR sumlen * 10 > n * 45)
         |           AND stop_cnt >= 2
         |           AND u * 1000000 // n >= 400000
         |           AND maxc * 1000000 // n <= 120000 AS BIGINT) AS label
         |       FROM gp),
         |base AS (SELECT sc.doc_id, sc.v, gl.label
         |         FROM sc JOIN gl ON gl.doc_id = sc.doc_id),
         |arms1(t) AS (VALUES (30000), (32000), (34000), (36000),
         |                    (38000), (40000), (42000), (44000)),
         |r1 AS (
         |  SELECT CAST(a.t AS BIGINT) AS t,
         |         CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN b.v < a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM base b CROSS JOIN arms1 a
         |  WHERE b.doc_id % 4 = 0 GROUP BY 1),
         |r1f AS (SELECT *, CAST(2 * tp * 1000000
         |          // GREATEST(1, 2 * tp + fp + fn) AS BIGINT) AS f1_ppm
         |        FROM r1),
         |k1 AS (SELECT t FROM r1f ORDER BY f1_ppm DESC, t ASC LIMIT 4),
         |r2 AS (
         |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN b.v < a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM base b CROSS JOIN k1 a
         |  WHERE b.doc_id % 2 = 0 GROUP BY 1),
         |r2f AS (SELECT *, CAST(2 * tp * 1000000
         |          // GREATEST(1, 2 * tp + fp + fn) AS BIGINT) AS f1_ppm
         |        FROM r2),
         |k2 AS (SELECT t FROM r2f ORDER BY f1_ppm DESC, t ASC LIMIT 2),
         |r3 AS (
         |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN b.v < a.t AND b.label = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM base b CROSS JOIN k2 a GROUP BY 1),
         |r3f AS (SELECT *, CAST(2 * tp * 1000000
         |          // GREATEST(1, 2 * tp + fp + fn) AS BIGINT) AS f1_ppm
         |        FROM r3),
         |k3 AS (SELECT t FROM r3f ORDER BY f1_ppm DESC, t ASC LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS round, t AS threshold_ppm, n_docs,
         |       tp, fp, fn, f1_ppm, t IN (SELECT t FROM k1) AS survived
         |FROM r1f
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), t, n_docs, tp, fp, fn, f1_ppm,
         |       t IN (SELECT t FROM k2)
         |FROM r2f
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), t, n_docs, tp, fp, fn, f1_ppm,
         |       t IN (SELECT t FROM k3)
         |FROM r3f
         |ORDER BY round ASC, threshold_ppm ASC""".stripMargin,
    // q332: the value-domain order-statistic trick (q293/q330 midranks)
    // — per-(lang, len) census, cumulative window over len DESC, rank
    // rₖ lands in the length whose [f, f+c) range covers it; one
    // integer div closes it out. Degenerate-gap langs drop via WHERE.
    "q332_tail_index" ->
      s"""WITH t AS (
         |  SELECT lang, CAST(len(str_split($duckNorm, ' ')) AS BIGINT) AS l
         |  FROM documents),
         |vc AS (SELECT lang, l, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM t GROUP BY 1, 2),
         |n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY 1),
         |cum AS (
         |  SELECT vc.lang, vc.l, vc.c,
         |         COALESCE(SUM(vc.c) OVER (PARTITION BY vc.lang
         |           ORDER BY vc.l DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS f,
         |         (n.n + 63) // 64 AS r1, (n.n + 31) // 32 AS r2,
         |         (n.n + 15) // 16 AS r4, n.n AS n
         |  FROM vc JOIN n USING (lang)),
         |q AS (
         |  SELECT lang, n,
         |         MAX(CASE WHEN f < r1 AND r1 <= f + c THEN l END) AS x1,
         |         MAX(CASE WHEN f < r2 AND r2 <= f + c THEN l END) AS x2,
         |         MAX(CASE WHEN f < r4 AND r4 <= f + c THEN l END) AS x4
         |  FROM cum GROUP BY 1, 2)
         |SELECT lang, CAST(n AS BIGINT) AS n_docs,
         |       CAST(x1 AS BIGINT) AS tail_q64_len,
         |       CAST(x2 AS BIGINT) AS tail_q32_len,
         |       CAST(x4 AS BIGINT) AS tail_q16_len,
         |       CAST((x1 - x2) * 1000000 // (x2 - x4) AS BIGINT)
         |         AS pickands_ratio_ppm
         |FROM q WHERE x1 > x2 AND x2 > x4 ORDER BY lang ASC""".stripMargin,
    // q333: the q270 bigram/split machinery per train source — MLE
    // p_ppm (q133 law), unseen val bigrams score 0 but stay in the
    // denominator (q330 COALESCE convention), |S|² grid via CROSS JOIN.
    "q333_lm_transfer_matrix" ->
      s"""WITH d AS (
         |  SELECT source, lang, str_split($duckNorm, ' ') AS w,
         |    CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |idx AS (SELECT split, source, lang, w,
         |          unnest(generate_series(1, len(w)-1)) AS i FROM d),
         |bg AS MATERIALIZED (
         |  SELECT split, source, lang, w[i] AS w1, w[i+1] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS m
         |  FROM idx GROUP BY 1, 2, 3, 4, 5),
         |counts AS (SELECT source AS train_source, lang, w1, w2, m AS cnt
         |           FROM bg WHERE split = 'train'),
         |ctx AS (SELECT train_source, lang, w1,
         |          CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
         |        FROM counts GROUP BY 1, 2, 3),
         |lm AS MATERIALIZED (
         |  SELECT c.train_source, c.lang, c.w1, c.w2,
         |         c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
         |  FROM counts c JOIN ctx ON ctx.train_source = c.train_source
         |    AND ctx.lang = c.lang AND ctx.w1 = c.w1),
         |ev AS MATERIALIZED (SELECT source AS eval_source, lang, w1, w2, m
         |      FROM bg WHERE split = 'val'),
         |evtot AS (SELECT eval_source, CAST(SUM(m) AS BIGINT) AS n_bigrams
         |          FROM ev GROUP BY 1),
         |scored AS (
         |  SELECT lm.train_source, ev.eval_source,
         |         CAST(SUM(ev.m) AS BIGINT) AS m_cov,
         |         CAST(SUM(ev.m * lm.p_ppm) AS BIGINT) AS sp
         |  FROM ev JOIN lm ON lm.lang = ev.lang AND lm.w1 = ev.w1
         |    AND lm.w2 = ev.w2
         |  GROUP BY 1, 2)
         |SELECT g.train_source, g.eval_source, g.n_bigrams,
         |       CAST(COALESCE(s.m_cov, 0) * 1000000 // g.n_bigrams
         |         AS BIGINT) AS covered_ppm,
         |       CAST(COALESCE(s.sp, 0) // g.n_bigrams AS BIGINT)
         |         AS mean_p_ppm
         |FROM (SELECT t.train_source, e.eval_source, e.n_bigrams
         |      FROM (SELECT DISTINCT train_source FROM lm) t
         |      CROSS JOIN evtot e) g
         |LEFT JOIN scored s ON s.train_source = g.train_source
         |  AND s.eval_source = g.eval_source
         |ORDER BY g.train_source ASC, g.eval_source ASC""".stripMargin,
    // q334: the q27 pair chain + a 5-word re-shingle of PAIR MEMBERS
    // only (semi-join before unnest), exact j5 ppm, 10-bucket census.
    "q334_dedup_precision_strict" ->
      s"""$minhashPairSql,
         |mem AS (SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs)),
         |nd5 AS (SELECT d.doc_id, str_split($duckNorm, ' ') AS w
         |        FROM documents d JOIN mem USING (doc_id)),
         |sh5 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 3),
         |                i -> array_to_string(w[i:i+4], ' '))) AS shingle
         |  FROM nd5 WHERE len(w) >= 5),
         |sz5 AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM sh5 GROUP BY 1),
         |i5 AS (
         |  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS i5
         |  FROM pairs p
         |  JOIN sh5 sa ON sa.doc_id = p.doc_a
         |  JOIN sh5 sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT p.doc_a, p.doc_b,
         |         COALESCE(i.i5, 0) * 1000000
         |           // (sa.n + sb.n - COALESCE(i.i5, 0)) AS j5_ppm
         |  FROM pairs p
         |  LEFT JOIN i5 i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sz5 sa ON sa.doc_id = p.doc_a
         |  JOIN sz5 sb ON sb.doc_id = p.doc_b)
         |SELECT CAST(LEAST(9, j5_ppm // 100000) AS BIGINT) AS j5_decile,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CASE WHEN j5_ppm >= 800000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_strict,
         |       CAST(SUM(j5_ppm) // COUNT(*) AS BIGINT) AS mean_j5_ppm
         |FROM j GROUP BY 1 ORDER BY j5_decile ASC""".stripMargin,
    // q335: q32 rubric + q286 Gopher flags per doc, 36 sums in ONE
    // aggregate (MATERIALIZED — the UNION rows reference it 28 times),
    // pair rows generated from the same FilterFlagNames list as the
    // Spark side.
    "q335_filter_overlap" -> filterOverlapOracle,
    // q336: the q161 exact/IVF machinery with the probeset unrolled per
    // nprobe in Similarity.ProbeSweep; recall joins top-k sets
    // (bit-identical cos ⇒ identical rankings ⇒ exact integers).
    "q336_ivf_probe_sweep" -> ivfProbeSweepOracle,
    // q337: k unrolled greedy MMR rounds — cand/sims floored to ppm
    // once, integer scores, id-ascending tie-break, ANTI JOIN remaining.
    "q337_mmr_rerank" -> mmrRerankOracle,
    // q321: per-(user, type) activity spans in exact epoch micros; the
    // CASE ladder is the same fixed branch order as the Spark side.
    "q321_allen_relations" ->
      (silverCte +
        """,
          |spans AS (
          |  SELECT user_id, event_type,
          |         MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
          |  FROM silver GROUP BY 1, 2),
          |cls AS (
          |  SELECT CASE
          |      WHEN a.e < b.s THEN 'precedes'
          |      WHEN a.s > b.e THEN 'preceded_by'
          |      WHEN a.e = b.s THEN 'meets'
          |      WHEN a.s = b.e THEN 'met_by'
          |      WHEN a.s = b.s AND a.e = b.e THEN 'equals'
          |      WHEN a.s = b.s AND a.e < b.e THEN 'starts'
          |      WHEN a.s = b.s THEN 'started_by'
          |      WHEN a.e = b.e AND a.s < b.s THEN 'finished_by'
          |      WHEN a.e = b.e THEN 'finishes'
          |      WHEN a.s < b.s AND a.e > b.e THEN 'contains'
          |      WHEN a.s > b.s AND a.e < b.e THEN 'during'
          |      WHEN a.s < b.s THEN 'overlaps'
          |      ELSE 'overlapped_by' END AS relation
          |  FROM spans a JOIN spans b
          |    ON a.user_id = b.user_id AND a.event_type < b.event_type),
          |c AS (SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
          |      FROM cls GROUP BY 1),
          |t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM c)
          |SELECT relation, n_pairs,
          |       CAST(n_pairs * 1000000 // total AS BIGINT) AS share_ppm
          |FROM c CROSS JOIN t ORDER BY relation ASC""".stripMargin),
    // q322: SNM candidates from the blocked prefix sort; verification is
    // the q27 3-word-shingle Jaccard; the LSH pair set is the q27 chain
    // nested verbatim.
    "q322_snm_dedup" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, substr($duckNorm, 1, ${TextDedup.SnmPrefixLen}) AS k,
         |         substr($duckNorm, 1, ${TextDedup.SnmBlockLen}) AS blk
         |  FROM documents),
         |rn AS (
         |  SELECT doc_id, blk, row_number() OVER (
         |    PARTITION BY blk ORDER BY k ASC, doc_id ASC) AS rn
         |  FROM keyed),
         |cand AS (
         |  SELECT LEAST(x.doc_id, y.doc_id) AS doc_a,
         |         GREATEST(x.doc_id, y.doc_id) AS doc_b
         |  FROM rn x JOIN rn y
         |    ON x.blk = y.blk AND y.rn > x.rn
         |   AND y.rn <= x.rn + ${TextDedup.SnmWindow - 1}),
         |snd AS (SELECT doc_id, str_split($duckNorm, ' ') AS w
         |        FROM documents),
         |ssh AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
         |  FROM snd WHERE len(w) >= 3),
         |ssizes AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
         |  FROM cand c
         |  JOIN ssh sa ON sa.doc_id = c.doc_a
         |  JOIN ssh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |verified AS (
         |  SELECT it.doc_a, it.doc_b
         |  FROM inter it
         |  JOIN ssizes sa ON sa.doc_id = it.doc_a
         |  JOIN ssizes sb ON sb.doc_id = it.doc_b
         |  WHERE CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) >= 0.8),
         |lshp AS (
         |$minhashOracle
         |),
         |common AS (
         |  SELECT v.doc_a FROM verified v
         |  JOIN lshp l ON l.doc_a = v.doc_a AND l.doc_b = v.doc_b),
         |counts AS (
         |  SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |           AS n_docs,
         |         CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
         |           AS n_candidates,
         |         CAST((SELECT COUNT(*) FROM verified) AS BIGINT)
         |           AS n_verified,
         |         CAST((SELECT COUNT(*) FROM lshp) AS BIGINT)
         |           AS n_lsh_pairs,
         |         CAST((SELECT COUNT(*) FROM common) AS BIGINT)
         |           AS n_common)
         |SELECT n_docs, n_candidates, n_verified, n_lsh_pairs, n_common,
         |       CAST(n_common * 1000000 // GREATEST(1, n_lsh_pairs)
         |         AS BIGINT) AS completeness_ppm,
         |       CAST(1000000 - n_candidates * 1000000
         |         // (n_docs * (n_docs - 1) // 2) AS BIGINT)
         |         AS reduction_ppm
         |FROM counts""".stripMargin,
    // q323: (lang, length band) blocking capped by Shard.duckCapped — the
    // q29 contract — then exact prefix-window Levenshtein.
    "q323_edit_distance_dups" ->
      s"""WITH meta AS (
         |  SELECT doc_id, lang, n_chars // 64 AS band,
         |         substr($duckNorm, 1, 64) AS p
         |  FROM documents),
         |${Shard.duckCapped("meta", Seq("lang", "band"))}
         |SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
         |FROM keyed a JOIN keyed b
         |  ON a.lang = b.lang AND a.band = b.band
         | AND a.subshard = b.subshard AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.p, b.p) <= 8
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // q324: CDF identity on the merged length support; every term is a
    // floor-div/abs on exact counts.
    "q324_wasserstein_matrix" ->
      """WITH counts AS (
        |  SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
        |           FROM counts GROUP BY 1),
        |grid AS (
        |  SELECT s.source, v.n_chars
        |  FROM (SELECT DISTINCT source FROM counts) s
        |  CROSS JOIN (SELECT DISTINCT n_chars FROM counts) v),
        |cdfs AS (
        |  SELECT g.source, g.n_chars,
        |         CAST(SUM(COALESCE(c.c, 0)) OVER (
        |           PARTITION BY g.source ORDER BY g.n_chars ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           * 1000000 // t.t AS BIGINT) AS cdf_ppm,
        |         COALESCE(lead(g.n_chars, 1) OVER (
        |           PARTITION BY g.source ORDER BY g.n_chars ASC)
        |           - g.n_chars, 0) AS gap
        |  FROM grid g LEFT JOIN counts c USING (source, n_chars)
        |  JOIN totals t ON t.source = g.source)
        |SELECT fa.source AS source_a, fb.source AS source_b,
        |       CAST(SUM(abs(fa.cdf_ppm - fb.cdf_ppm) * fa.gap) AS BIGINT)
        |         AS w1_ppm_chars
        |FROM cdfs fa JOIN cdfs fb
        |  ON fa.n_chars = fb.n_chars AND fa.source < fb.source
        |GROUP BY 1, 2 ORDER BY source_a ASC, source_b ASC""".stripMargin,
    // q327: the Hilbert state machine unrolled as one CTE per bit level
    // (graft.functions.Hilbert emits the identical chain) + the q96
    // Z-value bit interleave; locality scored on neighbor equi-joins.
    "q327_hilbert_locality" -> curveLocalityOracleSql,
    // q269: same 2-gram set, same (a*h+b) mod p permutation minima as
    // the doc-level q27 sketch, slot-agreement estimate vs the q84 exact
    // join in integer ppm.
    "q269_source_minhash" ->
      s"""WITH toks AS (
         |  SELECT source, string_split($duckNorm, ' ') AS w FROM documents),
         |grams AS (
         |  SELECT DISTINCT source, array_to_string(w[i:i+1], ' ') AS gram
         |  FROM toks, unnest(range(1, len(w) - 0)) AS t(i)
         |  WHERE len(w) >= 2),
         |based AS (
         |  SELECT source, gram,
         |         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 1000000007
         |           AS hb
         |  FROM grams),
         |sigs AS (
         |  SELECT source,
         |           CAST(MIN((101 * hb + 17) % 1000000007) AS BIGINT) AS h0,
         |           CAST(MIN((138 * hb + 108) % 1000000007) AS BIGINT) AS h1,
         |           CAST(MIN((175 * hb + 199) % 1000000007) AS BIGINT) AS h2,
         |           CAST(MIN((212 * hb + 290) % 1000000007) AS BIGINT) AS h3,
         |           CAST(MIN((249 * hb + 381) % 1000000007) AS BIGINT) AS h4,
         |           CAST(MIN((286 * hb + 472) % 1000000007) AS BIGINT) AS h5,
         |           CAST(MIN((323 * hb + 563) % 1000000007) AS BIGINT) AS h6,
         |           CAST(MIN((360 * hb + 654) % 1000000007) AS BIGINT) AS h7,
         |           CAST(MIN((397 * hb + 745) % 1000000007) AS BIGINT) AS h8,
         |           CAST(MIN((434 * hb + 836) % 1000000007) AS BIGINT) AS h9,
         |           CAST(MIN((471 * hb + 927) % 1000000007) AS BIGINT) AS h10,
         |           CAST(MIN((508 * hb + 1018) % 1000000007) AS BIGINT) AS h11,
         |           CAST(MIN((545 * hb + 1109) % 1000000007) AS BIGINT) AS h12,
         |           CAST(MIN((582 * hb + 1200) % 1000000007) AS BIGINT) AS h13,
         |           CAST(MIN((619 * hb + 1291) % 1000000007) AS BIGINT) AS h14,
         |           CAST(MIN((656 * hb + 1382) % 1000000007) AS BIGINT) AS h15,
         |           CAST(MIN((693 * hb + 1473) % 1000000007) AS BIGINT) AS h16,
         |           CAST(MIN((730 * hb + 1564) % 1000000007) AS BIGINT) AS h17,
         |           CAST(MIN((767 * hb + 1655) % 1000000007) AS BIGINT) AS h18,
         |           CAST(MIN((804 * hb + 1746) % 1000000007) AS BIGINT) AS h19,
         |           CAST(MIN((841 * hb + 1837) % 1000000007) AS BIGINT) AS h20,
         |           CAST(MIN((878 * hb + 1928) % 1000000007) AS BIGINT) AS h21,
         |           CAST(MIN((915 * hb + 2019) % 1000000007) AS BIGINT) AS h22,
         |           CAST(MIN((952 * hb + 2110) % 1000000007) AS BIGINT) AS h23,
         |           CAST(MIN((989 * hb + 2201) % 1000000007) AS BIGINT) AS h24,
         |           CAST(MIN((1026 * hb + 2292) % 1000000007) AS BIGINT) AS h25,
         |           CAST(MIN((1063 * hb + 2383) % 1000000007) AS BIGINT) AS h26,
         |           CAST(MIN((1100 * hb + 2474) % 1000000007) AS BIGINT) AS h27,
         |           CAST(MIN((1137 * hb + 2565) % 1000000007) AS BIGINT) AS h28,
         |           CAST(MIN((1174 * hb + 2656) % 1000000007) AS BIGINT) AS h29,
         |           CAST(MIN((1211 * hb + 2747) % 1000000007) AS BIGINT) AS h30,
         |           CAST(MIN((1248 * hb + 2838) % 1000000007) AS BIGINT) AS h31,
         |           CAST(MIN((1285 * hb + 2929) % 1000000007) AS BIGINT) AS h32,
         |           CAST(MIN((1322 * hb + 3020) % 1000000007) AS BIGINT) AS h33,
         |           CAST(MIN((1359 * hb + 3111) % 1000000007) AS BIGINT) AS h34,
         |           CAST(MIN((1396 * hb + 3202) % 1000000007) AS BIGINT) AS h35,
         |           CAST(MIN((1433 * hb + 3293) % 1000000007) AS BIGINT) AS h36,
         |           CAST(MIN((1470 * hb + 3384) % 1000000007) AS BIGINT) AS h37,
         |           CAST(MIN((1507 * hb + 3475) % 1000000007) AS BIGINT) AS h38,
         |           CAST(MIN((1544 * hb + 3566) % 1000000007) AS BIGINT) AS h39,
         |           CAST(MIN((1581 * hb + 3657) % 1000000007) AS BIGINT) AS h40,
         |           CAST(MIN((1618 * hb + 3748) % 1000000007) AS BIGINT) AS h41,
         |           CAST(MIN((1655 * hb + 3839) % 1000000007) AS BIGINT) AS h42,
         |           CAST(MIN((1692 * hb + 3930) % 1000000007) AS BIGINT) AS h43,
         |           CAST(MIN((1729 * hb + 4021) % 1000000007) AS BIGINT) AS h44,
         |           CAST(MIN((1766 * hb + 4112) % 1000000007) AS BIGINT) AS h45,
         |           CAST(MIN((1803 * hb + 4203) % 1000000007) AS BIGINT) AS h46,
         |           CAST(MIN((1840 * hb + 4294) % 1000000007) AS BIGINT) AS h47,
         |           CAST(MIN((1877 * hb + 4385) % 1000000007) AS BIGINT) AS h48,
         |           CAST(MIN((1914 * hb + 4476) % 1000000007) AS BIGINT) AS h49,
         |           CAST(MIN((1951 * hb + 4567) % 1000000007) AS BIGINT) AS h50,
         |           CAST(MIN((1988 * hb + 4658) % 1000000007) AS BIGINT) AS h51,
         |           CAST(MIN((2025 * hb + 4749) % 1000000007) AS BIGINT) AS h52,
         |           CAST(MIN((2062 * hb + 4840) % 1000000007) AS BIGINT) AS h53,
         |           CAST(MIN((2099 * hb + 4931) % 1000000007) AS BIGINT) AS h54,
         |           CAST(MIN((2136 * hb + 5022) % 1000000007) AS BIGINT) AS h55,
         |           CAST(MIN((2173 * hb + 5113) % 1000000007) AS BIGINT) AS h56,
         |           CAST(MIN((2210 * hb + 5204) % 1000000007) AS BIGINT) AS h57,
         |           CAST(MIN((2247 * hb + 5295) % 1000000007) AS BIGINT) AS h58,
         |           CAST(MIN((2284 * hb + 5386) % 1000000007) AS BIGINT) AS h59,
         |           CAST(MIN((2321 * hb + 5477) % 1000000007) AS BIGINT) AS h60,
         |           CAST(MIN((2358 * hb + 5568) % 1000000007) AS BIGINT) AS h61,
         |           CAST(MIN((2395 * hb + 5659) % 1000000007) AS BIGINT) AS h62,
         |           CAST(MIN((2432 * hb + 5750) % 1000000007) AS BIGINT) AS h63
         |  FROM based GROUP BY 1),
         |est AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h8 = b.h8 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h9 = b.h9 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h10 = b.h10 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h11 = b.h11 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h12 = b.h12 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h13 = b.h13 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h14 = b.h14 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h15 = b.h15 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h16 = b.h16 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h17 = b.h17 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h18 = b.h18 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h19 = b.h19 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h20 = b.h20 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h21 = b.h21 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h22 = b.h22 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h23 = b.h23 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h24 = b.h24 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h25 = b.h25 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h26 = b.h26 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h27 = b.h27 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h28 = b.h28 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h29 = b.h29 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h30 = b.h30 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h31 = b.h31 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h32 = b.h32 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h33 = b.h33 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h34 = b.h34 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h35 = b.h35 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h36 = b.h36 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h37 = b.h37 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h38 = b.h38 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h39 = b.h39 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h40 = b.h40 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h41 = b.h41 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h42 = b.h42 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h43 = b.h43 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h44 = b.h44 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h45 = b.h45 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h46 = b.h46 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h47 = b.h47 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h48 = b.h48 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h49 = b.h49 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h50 = b.h50 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h51 = b.h51 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h52 = b.h52 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h53 = b.h53 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h54 = b.h54 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h55 = b.h55 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h56 = b.h56 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h57 = b.h57 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h58 = b.h58 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h59 = b.h59 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h60 = b.h60 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h61 = b.h61 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h62 = b.h62 THEN 1 ELSE 0 END
         |         + CASE WHEN a.h63 = b.h63 THEN 1 ELSE 0 END
         |           AS BIGINT) AS slot_matches
         |  FROM sigs a JOIN sigs b ON a.source < b.source),
         |sizes AS (SELECT source, COUNT(*) AS ns FROM grams GROUP BY 1),
         |exact AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         COUNT(*) AS shared
         |  FROM grams a JOIN grams b
         |    ON a.gram = b.gram AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT e.source_a, e.source_b, e.slot_matches,
         |       CAST(e.slot_matches * 1000000 // 64 AS BIGINT) AS est_ppm,
         |       CAST(x.shared * 1000000 // (sa.ns + sb.ns - x.shared) AS BIGINT)
         |         AS exact_ppm,
         |       CAST(abs(e.slot_matches * 1000000 // 64
         |         - x.shared * 1000000 // (sa.ns + sb.ns - x.shared)) AS BIGINT)
         |         AS err_ppm
         |FROM est e
         |JOIN exact x ON x.source_a = e.source_a AND x.source_b = e.source_b
         |JOIN sizes sa ON sa.source = e.source_a
         |JOIN sizes sb ON sb.source = e.source_b
         |ORDER BY e.source_a ASC, e.source_b ASC""".stripMargin,
    // q260: the q35/q36 LSH CTE prefix, DIRECTED candidates, one
    // negatives-first per-anchor rank; mean rides a shifted integer
    // floor-div (cos sums go negative on the isotropic corpus).
    "q260_contrastive_mining" ->
      (lshCte.replace(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings",
        "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings") +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS other
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
           |  WHERE a.vec_id <> b.vec_id),
           |cos AS (
           |  SELECT c.anchor, c.other, qv.label AS la, nv.label AS lb,
           |         $duckCos AS cos
           |  FROM cand c
           |  JOIN v qv ON qv.vec_id = c.anchor
           |  JOIN v nv ON nv.vec_id = c.other),
           |ranked AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY anchor
           |    ORDER BY (CASE WHEN la <> lb THEN 0 ELSE 1 END) ASC,
           |             cos DESC, other ASC) AS neg_rank
           |  FROM cos),
           |roled AS (
           |  SELECT CASE WHEN la = lb THEN 'positive'
           |              WHEN neg_rank <= 8 THEN 'hard_negative'
           |              ELSE 'easy_negative' END AS role,
           |         anchor, cos
           |  FROM ranked),
           |g AS (
           |  SELECT role, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |         CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchors,
           |         CAST(SUM(CAST(FLOOR(cos * 1000000) AS BIGINT)) AS BIGINT)
           |           AS sum_cos_ppm,
           |         MIN(cos) AS min_cos, MAX(cos) AS max_cos
           |  FROM roled GROUP BY 1)
           |SELECT role, n_pairs, n_anchors,
           |       (sum_cos_ppm + n_pairs * 1000000) // n_pairs - 1000000
           |         AS mean_cos_ppm,
           |       min_cos, max_cos
           |FROM g ORDER BY role ASC""".stripMargin),
  )

  /** Shared oracle chain for q258/q259: `merges` unrolled BPE rounds.
    * Round k computes the weighted adjacent-pair census over the
    * previous round's symbol sequences (double-space encoding, one
    * unnest per symbol position), takes the (cnt DESC, l ASC, r ASC)
    * argmax, and applies it with the same boundary-owning replace() the
    * Spark side uses. Every CTE is MATERIALIZED — s{k} fans out to two
    * consumers per round and the chain is `merges` deep, so inlining
    * would re-evaluate the corpus scan exponentially. Exhaustion-safe:
    * when pair merges run out before round `merges`, b{k} is empty —
    * `LEFT JOIN b{k} ON TRUE` + COALESCE carries s{k-1} forward
    * unchanged (mirroring the Spark loop's early stop) instead of the
    * CROSS JOIN collapsing the vocabulary to zero rows. */
  private def bpeChainCtes(merges: Int): String = {
    val head =
      s"""words AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
         |    SELECT unnest(str_split($duckNorm, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |s0 AS MATERIALIZED (
         |  SELECT w, wc,
         |         ' ' || array_to_string(
         |           [w[i] for i in range(1, length(w) + 1)], '  ') || ' '
         |           AS seq
         |  FROM words)""".stripMargin
    val rounds = (1 to merges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT sym[i] AS l, sym[i+1] AS r, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, str_split(trim(seq), '  ') AS sym FROM s${k - 1})
         |  CROSS JOIN unnest(range(1, len(sym))) AS t(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT w, wc, COALESCE(
         |           replace(seq, ' ' || b.l || '  ' || b.r || ' ',
         |                   ' ' || b.l || b.r || ' '), seq) AS seq
         |  FROM s${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Oracle for q258: the merge table off the shared BPE chain. */
  private def bpeVocabOracle(merges: Int): String = {
    val unions = (1 to merges)
      .map(k => s"SELECT $k AS step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt AS pair_count FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeChainCtes(merges)}
       |SELECT CAST(step AS BIGINT) AS step, left_sym, right_sym, merged,
       |       pair_count
       |FROM (
       |  $unions)
       |ORDER BY step ASC""".stripMargin
  }

  /** Oracle for q259: the final round's word→sequence map joined back to
    * the corpus word stream — per-source fertility/compression census,
    * exact integer ppm. */
  private def bpeTokenizeOracle(merges: Int): String =
    s"""WITH ${bpeChainCtes(merges)},
       |tok AS MATERIALIZED (
       |  SELECT w, CAST(len(str_split(trim(seq), '  ')) AS BIGINT) AS n_sym
       |  FROM s$merges),
       |corpus AS (
       |  SELECT source, unnest(str_split($duckNorm, ' ')) AS w
       |  FROM documents),
       |agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |         CAST(SUM(length(c.w)) AS BIGINT) AS n_chars,
       |         CAST(SUM(t.n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM corpus c JOIN tok t USING (w)
       |  GROUP BY 1)
       |SELECT source, n_words, n_chars, n_bpe_tokens,
       |       n_bpe_tokens * 1000000 // n_words AS tokens_per_word_ppm,
       |       n_chars * 1000000 // n_bpe_tokens AS chars_per_token_ppm
       |FROM agg ORDER BY source ASC""".stripMargin

  /** Oracle SQL for q199: the q27 candidate CTEs (shared text via
    * [[minhashCtes]]) + word-tf weighted-Jaccard verification. */
  private def weightedJaccardOracle: String = {
    import graft.llm.TextDedup.MinhashP
    val (mins, bands) = minhashCtes
    s"""WITH nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3),
       |based AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |tf AS (
       |  SELECT doc_id, wd, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(w) AS wd FROM nd) GROUP BY 1, 2),
       |tsz AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
       |wint AS (
       |  SELECT c.doc_a, c.doc_b, CAST(SUM(LEAST(ta.c, tb.c)) AS BIGINT) AS wmin
       |  FROM cand c
       |  JOIN tf ta ON ta.doc_id = c.doc_a
       |  JOIN tf tb ON tb.doc_id = c.doc_b AND tb.wd = ta.wd
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b,
       |       CAST(COALESCE(wi.wmin, 0) AS BIGINT) AS w_inter,
       |       CAST(COALESCE(wi.wmin, 0) * 1000000
       |         // (sa.n + sb.n - COALESCE(wi.wmin, 0)) AS BIGINT) AS wj_ppm
       |FROM cand c
       |LEFT JOIN wint wi ON wi.doc_a = c.doc_a AND wi.doc_b = c.doc_b
       |JOIN tsz sa ON sa.doc_id = c.doc_a
       |JOIN tsz sb ON sb.doc_id = c.doc_b
       |ORDER BY c.doc_a ASC, c.doc_b ASC""".stripMargin
  }

  /** Oracle SQL for q195: the q93 edge CTEs + `rounds` unrolled peel
    * rounds (degree recount → keep-list → double semi-join), closing
    * with the node/edge census of the surviving subgraph. */
  /** Oracle for q227: `iters` unrolled pagerank rounds. The Spark side
    * iterates to the exact integer FIXPOINT (35 rounds at sf0.01, 46 at
    * sf0.1, block-checked so it stops by 40/52); because rounds past the
    * fixpoint are identities, any unroll count ≥ the convergence point +
    * check-block slack yields the identical relation — 64 carries that
    * margin. MATERIALIZED keeps DuckDB from inlining each round into the
    * next three times over. */
  /** q327: cells grid + Hilbert CTE chain + Z interleave + neighbor
    * locality census — every constant derived from the same Layout /
    * ZOrder / Hilbert definitions the Spark side evaluates. */
  private def curveLocalityOracleSql: String = {
    val bits = graft.analytics.Layout.LocalityBits
    val n = 1L << bits
    val shards = graft.analytics.Layout.LocalityShards
    val shardsM1 = shards - 1
    val z = graft.functions.ZOrder.zValueSql("x", "y", bits)
    val (hctes, hFinal) =
      graft.functions.Hilbert.hilbertCtesSql(bits, "cells", Seq("x", "y"))
    s"""WITH cells AS (
       |  SELECT DISTINCT o_custkey % $n AS x,
       |         date_diff('day', DATE '1970-01-01', o_orderdate) % $n AS y
       |  FROM orders)
       |$hctes
       |,vbase AS (
       |  SELECT x, y, $z AS zv, hd, COUNT(*) OVER () AS nc
       |  FROM $hFinal),
       |valued AS (
       |  SELECT x, y,
       |         (row_number() OVER (ORDER BY zv ASC) - 1)
       |           // ((nc + $shardsM1) // $shards) AS zshard,
       |         (row_number() OVER (ORDER BY hd ASC) - 1)
       |           // ((nc + $shardsM1) // $shards) AS hshard
       |  FROM vbase),
       |pairs AS (
       |  SELECT a.zshard = b.zshard AS zs, a.hshard = b.hshard AS hs
       |  FROM valued a JOIN valued b ON a.x + 1 = b.x AND a.y = b.y
       |  UNION ALL
       |  SELECT a.zshard = b.zshard, a.hshard = b.hshard
       |  FROM valued a JOIN valued b ON a.x = b.x AND a.y + 1 = b.y),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |         CAST(SUM(CASE WHEN zs THEN 1 ELSE 0 END) AS BIGINT)
       |           AS z_same,
       |         CAST(SUM(CASE WHEN hs THEN 1 ELSE 0 END) AS BIGINT)
       |           AS h_same
       |  FROM pairs),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM valued)
       |SELECT 'hilbert' AS method, n_cells, n_pairs AS n_neighbor_pairs,
       |       h_same AS n_same_shard,
       |       CAST(h_same * 1000000 // GREATEST(1, n_pairs) AS BIGINT)
       |         AS same_shard_ppm
       |FROM nc CROSS JOIN stats
       |UNION ALL
       |SELECT 'zorder', n_cells, n_pairs, z_same,
       |       CAST(z_same * 1000000 // GREATEST(1, n_pairs) AS BIGINT)
       |FROM nc CROSS JOIN stats
       |ORDER BY method ASC""".stripMargin
  }

  private def pagerankConvergedOracleSql(iters: Int): String = {
    val head =
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |dir AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        |deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM dir GROUP BY 1),
        |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.v AS node, 150000 + (SUM(p.r // g.deg) * 17) // 20 AS r
         |  FROM r${i - 1} p JOIN deg g ON g.u = p.node JOIN dir d ON d.u = p.node
         |  GROUP BY d.v)""".stripMargin
    }.mkString(",\n", ",\n", ",\n")
    head + rounds +
      s"""top AS (SELECT node, CAST(r AS BIGINT) AS rank_ppm,
         |               row_number() OVER (ORDER BY r DESC, node ASC) AS rank
         |        FROM r$iters ORDER BY r DESC, node ASC LIMIT 10)
         |SELECT rank, node, rank_ppm FROM top ORDER BY rank ASC""".stripMargin
  }

  /** Oracle for q233: `rounds` unrolled Bellman-Ford relaxations from the
    * minimum node id. Distances only decrease, so rounds past the
    * fixpoint (3-4 on this graph) are identities and the Spark side's
    * early exit lands on the same relation. */
  private def bellmanFordOracleSql(rounds: Int): String = {
    val head =
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT u, v, 1000000 // w AS c FROM pairs
        |  UNION ALL SELECT v, u, 1000000 // w FROM pairs),
        |src AS (SELECT MIN(u) AS s FROM e),
        |d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS d FROM src)""".stripMargin
    val relax = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT node, MIN(d) AS d FROM (
         |    SELECT e.v AS node, p.d + e.c AS d
         |    FROM d${r - 1} p JOIN e ON e.u = p.node
         |    UNION ALL SELECT node, d FROM d${r - 1})
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    head + relax +
      s"""SELECT CAST(d AS BIGINT) AS dist_ppm,
         |       CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM d$rounds GROUP BY 1 ORDER BY dist_ppm ASC""".stripMargin
  }

  /** Oracle for q228: `rounds` unrolled peel rounds, each emitting its
    * removal count; post-fixpoint rounds remove 0 nodes and are filtered,
    * so any unroll count ≥ the cascade length (9 at sf0.01, 38 at sf0.1)
    * yields the identical census. */
  private def kCorePeelCensusOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
         |  GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT n FROM d$r WHERE d < $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  ANTI JOIN b$r a ON a.n = e.u ANTI JOIN b$r b ON b.n = e.v)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val census = (1 to rounds)
      .map(r => s"SELECT $r AS round, (SELECT COUNT(*) FROM b$r) AS n_removed")
      .mkString(",\ncensus AS (", " UNION ALL ", ")\n")
    head + peels + census +
      """SELECT CAST(round AS BIGINT) AS round, CAST(n_removed AS BIGINT) AS n_removed
        |FROM census WHERE n_removed > 0 ORDER BY round ASC""".stripMargin
  }

  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // every e_r is AS MATERIALIZED: DuckDB inlines plain CTEs at each
    // reference, and each round references its predecessor three times —
    // unmaterialized, the plan (and the parquet open count) grows 3^r
    val head =
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
         |  GROUP BY 1),
         |k$r AS (SELECT n FROM d$r WHERE d >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON a.n = e.u JOIN k$r b ON b.n = e.v)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    head + peels +
      s"""SELECT CAST($k AS BIGINT) AS core_k,
         |       (SELECT COUNT(DISTINCT n) FROM (
         |          SELECT u AS n FROM e$rounds
         |          UNION ALL SELECT v FROM e$rounds)) AS n_nodes,
         |       (SELECT COUNT(*) FROM e$rounds) AS n_edges""".stripMargin
  }

  /** Oracle tail for q192: transition-ppm matrix + `iters` unrolled
    * power-iteration CTEs + the state-complete final projection. */
  private def markovOracleTail(iters: Int): String = {
    val head =
      """, pairs AS (
        |  SELECT event_type AS prev_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |           AS next_type
        |  FROM silver),
        |t AS (
        |  SELECT prev_type, next_type, COUNT(*) AS c
        |  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |p AS MATERIALIZED (
        |  SELECT prev_type, next_type,
        |         CAST(c * 1000000
        |           // SUM(c) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |  FROM t),
        |states AS MATERIALIZED (
        |  SELECT DISTINCT prev_type AS st FROM p
        |  UNION SELECT DISTINCT next_type FROM p),
        |it0 AS (
        |  SELECT st AS cur,
        |         CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS v
        |  FROM states)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""it$k AS (
         |  SELECT p.next_type AS cur,
         |         CAST(SUM(it${k - 1}.v * p.p_ppm // 1000000) AS BIGINT) AS v
         |  FROM it${k - 1} JOIN p ON p.prev_type = it${k - 1}.cur
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val tail =
      s"""SELECT s.st AS event_type,
         |       CAST(COALESCE(it$iters.v, 0) AS BIGINT) AS stationary_ppm
         |FROM states s LEFT JOIN it$iters ON it$iters.cur = s.st
         |ORDER BY event_type ASC""".stripMargin
    head + rounds + tail
  }

  /** Oracle SQL for q217: the greedy max-coverage loop unrolled — round
    * K counts each unpicked source's shingles outside c(K−1), picks the
    * (m desc, source asc) max, and extends the cover. A round with no
    * candidate rows yields an empty pick CTE and its output row (and
    * all later ones) vanish — the same early stop as the engine loop. */
  private def coverageGreedyOracle(rounds: Int): String = {
    val head =
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, len(w) - 1),
         |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
         |  FROM nd WHERE len(w) >= 3),
         |m AS MATERIALIZED (
         |  SELECT DISTINCT d.source, s.shingle
         |  FROM sh s JOIN documents d USING (doc_id)),
         |r1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS m
         |       FROM m GROUP BY 1),
         |p1 AS MATERIALIZED (SELECT source, m FROM r1
         |       ORDER BY m DESC, source ASC LIMIT 1),
         |c1 AS MATERIALIZED (SELECT DISTINCT m.shingle FROM m JOIN p1 USING (source))"""
        .stripMargin
    val later = (2 to rounds).map { k =>
      val prevPicks = (1 until k)
        .map(i => s"SELECT source FROM p$i").mkString(" UNION ALL ")
      s"""r$k AS (
         |  SELECT m.source, CAST(COUNT(*) AS BIGINT) AS m
         |  FROM m ANTI JOIN c${k - 1} USING (shingle)
         |  WHERE m.source NOT IN ($prevPicks)
         |  GROUP BY 1),
         |p$k AS MATERIALIZED (SELECT source, m FROM r$k
         |        ORDER BY m DESC, source ASC LIMIT 1),
         |c$k AS MATERIALIZED (SELECT shingle FROM c${k - 1}
         |        UNION
         |        SELECT m.shingle FROM m JOIN p$k USING (source))"""
        .stripMargin
    }.mkString(",\n", ",\n", "\n")
    val rows = (1 to rounds).map { k =>
      val froms = (1 to k).map(i => s"p$i").mkString(", ")
      val cum = (1 to k).map(i => s"p$i.m").mkString(" + ")
      s"""SELECT CAST($k AS INTEGER) AS "round", p$k.source,
         |       p$k.m AS marginal_new, CAST($cum AS BIGINT) AS cum_covered
         |FROM $froms""".stripMargin
    }.mkString("\nUNION ALL\n")
    head + later + rows + "\nORDER BY \"round\" ASC"
  }
}
