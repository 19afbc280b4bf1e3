package graft.oracle

import graft.core.Shard
import graft.core.Shard.duckMd5Prefix
import graft.llm.{DupClusters, TextDedup}

import Duck._

/** DuckDB oracle SQL for the dedup queries of `graft.llm`: `TextDedup`,
  * `DupClusters`, `EmbedDedup`, `FuzzyMatch` and `Decontaminate`. */
object DedupSql {

  /** q178: the q27 CTE chain up to `bands`, then a band-count candidate
    * aggregation and an UNFILTERED integer-ppm Jaccard census per
    * shared-band tier (left join keeps pure-collision pairs at 0). */
  private def lshCalibrationOracle: String = {
    s"""WITH $minhashCtes,
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(COUNT(*) AS BIGINT) AS shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |$shingleInter,
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
    import graft.llm.TextDedup.NumHashes
    val agree = (0 until NumHashes)
      .map(s => s"CAST(a.h$s = b.h$s AS BIGINT)").mkString(" + ")
    s"""WITH $minhashCtes,
       |$bandCand,
       |est AS (
       |  SELECT c.doc_a, c.doc_b, $agree AS est32
       |  FROM cand c JOIN sig a ON c.doc_a = a.doc_id
       |              JOIN sig b ON c.doc_b = b.doc_id),
       |$shingleInter,
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
    def agree(k: Int): String =
      (0 until k).map(s => s"CAST(a.h$s = b.h$s AS BIGINT)").mkString(" + ")
    s"""WITH $minhashCtes,
       |$bandCand,
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |         ${agree(8)} AS agree8,
       |         ${agree(16)} AS agree16,
       |         ${agree(32)} AS agree32
       |  FROM cand c JOIN sig a ON c.doc_a = a.doc_id
       |              JOIN sig b ON c.doc_b = b.doc_id),
       |$shingleInter,
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

  /** q76: same minhash family, ONE-SIDED candidate join (incoming % 5 = 0
    * vs existing), per-incoming verdict. */
  private def incrementalDedupOracle: String = {
    s"""WITH $minhashCtes,
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
       |         ${duckMd5Prefix("word", 8)} AS h
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
       |         ${duckMd5Prefix("word", 15)} % $NumBuckets AS bucket,
       |         COUNT(*) AS cnt
       |  FROM words GROUP BY 1, 2),
       |norms AS (
       |  SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm FROM tf GROUP BY 1),
       |proj AS (
       |  SELECT tf.doc_id, p.p AS plane,
       |         SUM(cnt * ((${duckMd5Prefix("CAST(p.p AS VARCHAR) || ':' || CAST(bucket AS VARCHAR)", 15)} % $WeightMod) - 1000)) AS pr
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

  /** Oracle SQL for q199: the q27 candidate CTEs (shared text via
    * [[minhashCtes]]) + word-tf weighted-Jaccard verification. */
  private def weightedJaccardOracle: String = {
    s"""WITH $minhashCtes,
       |$bandCand,
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

  val sql: Map[String, String] = Map(
    "q26_exact_dedup" ->
      s"""WITH n AS (
         |  SELECT doc_id, md5($duckNorm) AS fingerprint FROM documents)
         |SELECT doc_id, fingerprint,
         |       MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
         |       doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
         |FROM n ORDER BY doc_id""".stripMargin,
    "q27_minhash_neardups" -> minhashOracle,
    "q76_incremental_dedup" -> incrementalDedupOracle,
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
         |    $qualitySum AS quality
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
    "q51_embedding_neardups" -> embedDedupOracle,
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
    // q157: same 3-word shingles as the minhash family; candidates from
    // shared shingles with df in [2, 64], gated at >= 8 shared rare
    // shingles (support gate mirrors TextDedup.ContainMinShared); exact
    // intersection count via a shingle-keyed join; direction = smaller
    // set (tie → lower id). All COUNT-derived BIGINTs — no HUGEINT.
    "q157_containment_dups" ->
      s"""WITH $shingleCtes,
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
    // q162: SemDeDup census — q51's exact integer-TF cosine verify,
    // restricted to (lang, source) cells, at the 0.9 semantic threshold;
    // per-cell docs / pairs / removed(lower-id survivor rule) / kept.
    "q162_semantic_dedup" ->
      s"""WITH nd AS (
         |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
         |words AS (SELECT doc_id, unnest(w) AS word FROM nd),
         |tf AS (
         |  SELECT doc_id,
         |         ${duckMd5Prefix("word", 15)} % 64 AS bucket,
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
    // q178: the q27 band machinery with the candidate DISTINCT replaced
    // by a shared-band COUNT; Jaccard unfiltered, collisions kept at 0.
    "q178_lsh_calibration" -> lshCalibrationOracle,
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
    "q199_weighted_jaccard" -> weightedJaccardOracle,
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
    // q232: same integer ceil ((n*8+999999*?)…) — prefix length
    // n - (n*800000 + 999999)//1000000 + 1; identical df-asc/shingle-asc
    // rank; jaccard in exact int ppm.
    "q232_prefix_filter_dups" ->
      s"""WITH $shingleCtes,
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
    // q300: the q27/q178 minhash chain, per-pair 32-slot agreement, and
    // the identical candidate-restricted P/R/F1 sweep.
    "q300_threshold_sweep" -> thresholdSweepOracle,
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
    // q308: the q300 chain with 8/16/32-slot prefix agreements; abs
    // error vs exact Jaccard, nonnegative floor-div census.
    "q308_minhash_k_sweep" -> minhashKSweepOracle,
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
         |             ${duckMd5Prefix(s"$duckNorm", 15)}
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
         |$bigramLmCtes,
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
         |         ${duckMd5Prefix("gram", 15)} % 1000000007
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
         |ORDER BY e.source_a ASC, e.source_b ASC""".stripMargin
  )
}
