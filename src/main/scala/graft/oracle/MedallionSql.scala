package graft.oracle

import Duck._

/** DuckDB oracle SQL for the medallion queries: ingest (`graft.ingest`),
  * the events pipeline (`graft.pipeline`), the SQL surface (`graft.sql`)
  * and the DSv2 document source (`graft.sources`). */
object MedallionSql {

  /** q12's oracle; the format round trips (q118, q119, q149) must give
    * back the same relation. */
  private val goldDailySql =
    silverCte + s"\n$goldDaily ORDER BY user_id, event_date"

  val sql: Map[String, String] = Map(
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
      goldDailySql,
    "q13_gold_top3_days" ->
      (silverCte +
        s""", gold AS (
          |$goldDaily),
          |$goldRanked
          |SELECT user_id, event_date, listen_count, unique_types
          |FROM ranked WHERE rnk <= 3 ORDER BY user_id, event_date""".stripMargin),
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
    // q108: same rows as the q13 window spelling, with the rank emitted;
    // the oracle is the row_number formulation.
    "q108_topk_aggregator" ->
      (silverCte +
        s""", gold AS (
          |  SELECT user_id, event_date, COUNT(*) AS listen_count
          |  FROM silver GROUP BY 1, 2),
          |$goldRanked
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
    // q118/q119: format round trips are gated by q12's oracle — any
    // type or value loss through ORC/CSV io breaks the hash.
    "q118_orc_roundtrip" ->
      goldDailySql,
    "q119_csv_roundtrip" ->
      goldDailySql,
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
    // q149: the XML trip is gated by q12's oracle — any type or value
    // loss through element-text serialization breaks the hash.
    "q149_xml_roundtrip" ->
      goldDailySql,
    // q179: the engine verifies bytes through a real write→binaryFile
    // scan; the oracle states the invariant census directly (ASCII text
    // ⇒ n_verified = n_files, byte length via encoded octets).
    "q179_binary_ingest" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       CAST(COUNT(*) AS BIGINT) AS n_verified
        |FROM documents WHERE doc_id % 7 = 0
        |GROUP BY 1 ORDER BY source ASC""".stripMargin
  )
}
