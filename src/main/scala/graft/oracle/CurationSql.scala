package graft.oracle

import graft.core.Shard
import graft.core.Shard.duckMd5Prefix
import graft.llm.Curation.duckSplitOf

import Duck._

/** DuckDB oracle SQL for the curation queries of `graft.llm`:
  * `Curation`, `Datasheet`, `Coverage`, `Multimodal` and `Scrub`. */
object CurationSql {

  /** q158: the q27 pair machinery wrapped in a split census — pairs CTE
    * text shared via [[minhashPairSql]] so the two oracles cannot drift. */
  private def splitLeakageOracle: String =
    s"""$minhashPairSql,
       |sp AS (
       |  SELECT doc_id,
       |    ${duckSplitOf("doc_id")} AS split
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

  /** Oracle SQL for q217: the greedy max-coverage loop unrolled — round
    * K counts each unpicked source's shingles outside c(K−1), picks the
    * (m desc, source asc) max, and extends the cover. A round with no
    * candidate rows yields an empty pick CTE and its output row (and
    * all later ones) vanish — the same early stop as the engine loop. */
  private def coverageGreedyOracle(rounds: Int): String = {
    val head =
      s"""WITH $shingleCtes,
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

  /** q331's confusion counts of threshold `a.t` over scored docs `b(v,
    * label)`: true positives, false positives and false negatives. */
  private val thresholdConfusion =
    """CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 1
      |           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |         CAST(SUM(CASE WHEN b.v >= a.t AND b.label = 0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |         CAST(SUM(CASE WHEN b.v < a.t AND b.label = 1
      |           THEN 1 ELSE 0 END) AS BIGINT) AS fn""".stripMargin

  val sql: Map[String, String] = Map(
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
         |         ${packStep("chunk_id")}
         |  FROM toks t JOIN walk w ON t.source = w.source AND t.rn = w.rn + 1)
         |SELECT source, chunk_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |       CAST(GREATEST(0, 512 - SUM(n_tokens)) AS BIGINT) AS padding
         |FROM walk GROUP BY 1, 2
         |ORDER BY source ASC, chunk_id ASC""".stripMargin,
    "q37_media_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST('0x' || md5(text)[1:2] AS INTEGER) / 255.0 AS f0,
        |  CAST('0x' || md5(text)[3:4] AS INTEGER) / 255.0 AS f1,
        |  CAST('0x' || md5(text)[5:6] AS INTEGER) / 255.0 AS f2,
        |  CAST('0x' || md5(text)[7:8] AS INTEGER) / 255.0 AS f3
        |FROM documents ORDER BY media_id""".stripMargin,
    // q127: same level-census + boundary-prefix-sum algorithm, spelled in
    // SQL — keep_all / boundary decisions are identical by construction.
    "q127_budget_allocation" ->
      s"""WITH n AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |t AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM n),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS toks,
         |    $qualitySum AS quality
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
    // q137: md5 is the cross-engine pseudo-random rank; shard from the
    // rank's top 32 bits.
    "q137_training_order" ->
      """WITH t AS (
        |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents)
        |SELECT doc_id, ord,
        |       CAST(('0x' || substr(ord, 1, 8))::BIGINT % 4 AS INTEGER) AS shard
        |FROM t ORDER BY shard ASC, ord ASC, doc_id ASC""".stripMargin,
    "q52_train_split" ->
      s"""WITH s AS (
        |  SELECT lang, n_chars,
        |    ${duckSplitOf("doc_id")} AS split
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
      s"""WITH k AS (
        |  SELECT source,
        |    CASE WHEN ${duckMd5Prefix("'mix:' || CAST(doc_id AS VARCHAR)", 15)} % 10000
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
    // q75: floor(sqrt) weights are engine-exact (IEEE sqrt + floor);
    // everything after is integer div, same keep-hash family as q54.
    "q75_temperature_mixture" ->
      s"""WITH counts AS (
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
        |         CASE WHEN ${duckMd5Prefix("'temp:' || CAST(d.doc_id AS VARCHAR)", 15)} % 1000000
        |                   < r.keep_ppm THEN 1 ELSE 0 END AS k
        |  FROM documents d JOIN rates r USING (source))
        |SELECT source, n_docs, weight, keep_ppm,
        |       CAST(SUM(k) AS BIGINT) AS n_kept,
        |       CAST(SUM(k) AS BIGINT) * 1000000 // n_docs AS realized_ppm
        |FROM kept GROUP BY source, n_docs, weight, keep_ppm
        |ORDER BY source ASC""".stripMargin,
    // The composed pipeline: q32 quality ∧ q62 repetition ∧ q26
    // canonicality, with the q52 split stamped on every doc.
    "q66_curation_verdicts" ->
      s"""WITH nq AS (SELECT doc_id, $duckNorm AS norm FROM documents),
         |tq AS (SELECT doc_id, norm, str_split(norm, ' ') AS w FROM nq),
         |qual AS (
         |  SELECT doc_id,
         |    $qualitySum AS quality
         |  FROM tq),
         |${repetitionCtes("tq")},
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
         |    ${duckSplitOf("doc_id")} AS split
         |  FROM documents)
         |SELECT q.doc_id, q.quality, r.keep_repetition, d.is_duplicate,
         |       (q.quality = 3 AND r.keep_repetition AND NOT d.is_duplicate) AS kept,
         |       s.split
         |FROM qual q JOIN rep r USING (doc_id) JOIN ded d USING (doc_id)
         |JOIN spl s USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
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
         |         ${packStep("chunk_local")}
         |  FROM g t JOIN walk w
         |    ON t.source = w.source AND t.grp = w.grp AND t.rn = w.rn + 1)
         |SELECT source, CAST(grp * 100 + chunk_local AS BIGINT) AS chunk_id,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |       CAST(GREATEST(0, 512 - SUM(n_tokens)) AS BIGINT) AS padding
         |FROM walk GROUP BY 1, 2
         |ORDER BY source ASC, chunk_id ASC""".stripMargin,
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
         |    ${duckSplitOf("ckey")} AS split
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
         |         ${duckMd5Prefix("CAST(q.query_id AS VARCHAR) || ':' || CAST(c.neg_id AS VARCHAR)", 15)}
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
    // q234: identical 48-bit md5 uniform, integer priority, DLT
    // max(w, tau) estimator.
    "q234_priority_sample" ->
      s"""WITH pri AS (
        |  SELECT doc_id, n_chars,
        |         least(n_chars, 32767) * 281474976710656 //
        |           (${duckMd5Prefix("'prio:' || CAST(doc_id AS VARCHAR)", 12)} + 1) AS priority
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
    // q244: identical md5 fold hash; expectation and deviation in exact
    // integer milli/ppm.
    "q244_kfold_balance" ->
      s"""WITH folded AS (
        |  SELECT source,
        |         ${duckMd5Prefix("'fold:' || CAST(doc_id AS VARCHAR)", 15)} % 5 AS fold
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
         |    $qualitySum AS quality
         |  FROM tq),
         |${repetitionCtes("tq")},
         |rep AS (
         |  SELECT w.doc_id,
         |         (((w.n_words - w.n_distinct_words) * 1000000) // w.n_words <= 600000
         |          AND (b.top_bigram_cnt * 1000000) // b.n_bigrams <= 180000)
         |           AS keep_repetition
         |  FROM ws w JOIN bs b USING (doc_id)),
         |spl AS (
         |  SELECT doc_id,
         |    ${duckSplitOf("doc_id")} AS split
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
         |         ${packStep("chunk_local")}
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
         |  SELECT ${duckMd5Prefix("'shard:' || CAST(doc_id AS VARCHAR)", 15)} % 64 AS shard,
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
    // q270: identical split carve, identical q263 KN p_ppm law scored
    // over validation bigrams per source, identical η=16 linear
    // multiplier and the overflow-safe (Σraw div 1e6) normalization.
    "q270_doremi_reweight" ->
      s"""WITH d AS (
         |  SELECT source, lang, str_split($duckNorm, ' ') AS w,
         |    ${duckSplitOf("doc_id")} AS split
         |  FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT split, source, lang, w[i] AS w1, w[i+1] AS w2
         |  FROM d CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |counted AS MATERIALIZED (
         |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bg WHERE split = 'train' GROUP BY 1, 2, 3),
         |$kneserNeyCtes,
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
    // q279: identical positional mask hash, identical islands reduction.
    "q279_span_corruption" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, i AS pos,
         |    ${duckMd5Prefix("'mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 15)} % 100 < 15
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
    // q311: identical token census; the SAME precomputed decay-ppm table
    // (generated from one Scala recurrence) spelled as VALUES.
    "q311_data_constrained" -> dataConstrainedOracle,
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
         |$bigramLmCtes,
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
         |         $thresholdConfusion
         |  FROM base b CROSS JOIN arms1 a
         |  WHERE b.doc_id % 4 = 0 GROUP BY 1),
         |r1f AS (SELECT *, CAST(2 * tp * 1000000
         |          // GREATEST(1, 2 * tp + fp + fn) AS BIGINT) AS f1_ppm
         |        FROM r1),
         |k1 AS (SELECT t FROM r1f ORDER BY f1_ppm DESC, t ASC LIMIT 4),
         |r2 AS (
         |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         $thresholdConfusion
         |  FROM base b CROSS JOIN k1 a
         |  WHERE b.doc_id % 2 = 0 GROUP BY 1),
         |r2f AS (SELECT *, CAST(2 * tp * 1000000
         |          // GREATEST(1, 2 * tp + fp + fn) AS BIGINT) AS f1_ppm
         |        FROM r2),
         |k2 AS (SELECT t FROM r2f ORDER BY f1_ppm DESC, t ASC LIMIT 2),
         |r3 AS (
         |  SELECT a.t, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         $thresholdConfusion
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
    // q333: the q270 bigram/split machinery per train source — MLE
    // p_ppm (q133 law), unseen val bigrams score 0 but stay in the
    // denominator (q330 COALESCE convention), |S|² grid via CROSS JOIN.
    "q333_lm_transfer_matrix" ->
      s"""WITH d AS (
         |  SELECT source, lang, str_split($duckNorm, ' ') AS w,
         |    ${duckSplitOf("doc_id")} AS split
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
         |ORDER BY g.train_source ASC, g.eval_source ASC""".stripMargin
  )
}
