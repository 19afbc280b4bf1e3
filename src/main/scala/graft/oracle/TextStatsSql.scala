package graft.oracle

import graft.core.Shard.duckMd5Prefix
import graft.llm.Curation.duckSplitOf
import graft.llm.TextStats

import Duck._

/** DuckDB oracle SQL for `graft.llm.TextStats`: text features, quality,
  * language id and tokenization. */
object TextStatsSql {

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

  val sql: Map[String, String] = Map(
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
         |  ${duckMd5Prefix("norm", 15)} % 64 AS shard
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
         |$bigramLmCtes
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
         |${repetitionCtes("nd")}
         |SELECT w.doc_id, w.n_words, w.n_distinct_words,
         |       ((w.n_words - w.n_distinct_words) * 1000000) // w.n_words AS dup_word_ppm,
         |       (b.top_bigram_cnt * 1000000) // b.n_bigrams AS top_bigram_ppm,
         |       (((w.n_words - w.n_distinct_words) * 1000000) // w.n_words <= 600000
         |        AND (b.top_bigram_cnt * 1000000) // b.n_bigrams <= 180000) AS keep
         |FROM ws w JOIN bs b USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
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
    // q170: corpus-wide first holder per 3-shingle (same shingle CTE as
    // the minhash family), per-doc novel fraction as integer ppm.
    "q170_novelty_curve" ->
      s"""WITH $shingleCtes,
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
         |    $qualitySum AS quality
         |  FROM qt)
         |SELECT q.quality, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN c.dup_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(SUM(c.dup_ppm) // COUNT(*) AS BIGINT) AS mean_dup_ppm
         |FROM q JOIN cov c USING (doc_id)
         |GROUP BY 1 ORDER BY q.quality ASC""".stripMargin,
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
    // q246: the q33 chain shared via langIdCtes so the two cannot drift.
    "q246_langid_confusion" -> langIdConfusionOracle,
    // q253: the q66 quality CTE bucketed by 64-char length bands; the
    // per-band share is integer ppm over a window.
    "q253_quality_length_calibration" ->
      s"""WITH nq AS (SELECT doc_id, n_chars, $duckNorm AS norm FROM documents),
         |tq AS (SELECT doc_id, n_chars, norm, str_split(norm, ' ') AS w FROM nq),
         |qual AS (
         |  SELECT doc_id, n_chars // 64 AS len_bucket,
         |    $qualitySum AS quality
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
         |$kneserNeyCtes,
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
    // q263: q261's KN CTEs restricted to the q52 train carve, then the
    // full bigram stream LEFT-joined with the same unseen-pair rules.
    "q263_heldout_lm_gap" ->
      s"""WITH d AS (
         |  SELECT lang, str_split($duckNorm, ' ') AS w,
         |    ${duckSplitOf("doc_id")} AS split
         |  FROM documents),
         |bg AS (
         |  SELECT split, lang, w[i] AS w1, w[i+1] AS w2
         |  FROM d CROSS JOIN unnest(range(1, len(w))) AS u(i)
         |  WHERE len(w) >= 2),
         |counted AS (
         |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM bg WHERE split = 'train' GROUP BY 1, 2, 3),
         |$kneserNeyCtes,
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
         |$bigramLmCtes,
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
      s"""WITH base AS (SELECT doc_id, n_chars,
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
        |          CAST(${duckMd5Prefix("'perm:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 15)}
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
    // q309: identical hash buckets, per-gram MIN bucket, nested cutoffs.
    "q309_sample_curve" ->
      s"""WITH t AS (SELECT doc_id,
         |    ${duckMd5Prefix("'curve:' || CAST(doc_id AS VARCHAR)", 15)} % 100 AS b,
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
    // q335: q32 rubric + q286 Gopher flags per doc, 36 sums in ONE
    // aggregate (MATERIALIZED — the UNION rows reference it 28 times),
    // pair rows generated from the same FilterFlagNames list as the
    // Spark side.
    "q335_filter_overlap" -> filterOverlapOracle,
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
        |GROUP BY 1, 2 ORDER BY source_a ASC, source_b ASC""".stripMargin
  )
}
