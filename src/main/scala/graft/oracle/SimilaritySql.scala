package graft.oracle

import graft.llm.Similarity

import Duck._

/** DuckDB oracle SQL for the vector and retrieval queries of `graft.llm`:
  * `Similarity` and `Search`. */
object SimilaritySql {

  // q319's eval frame, single-sourced from Similarity so the oracle SQL
  // and the Spark defaults cannot drift (round-11 advice item 3).
  private val rankAuditQ = graft.llm.Similarity.RankAuditQueries

  private val rankAuditP = graft.llm.Similarity.RankAuditProbes

  private val rankAuditK = graft.llm.Similarity.RankAuditK

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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")}
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
       |    SELECT query_id, neighbor_id, ${knnRank("cos")}
       |      AS rn
       |    FROM ecos) WHERE rn <= $rankAuditK),
       |${ivfAssignCtes(materialized = true)},
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
       |    SELECT query_id, neighbor_id, cos, ${knnRank("cos")}
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

  /** IVF cell assignment over `v(vec_id, label, …)` and `n(vec_id, e,
    * nrm)`: `seeds` (each label's lowest vec_id), `sv` (the seed vectors)
    * and `assigned(vec_id, slabel)`, each vector's most cosine-similar
    * seed, ties to the lower label. */
  private def ivfAssignCtes(materialized: Boolean): String = {
    val as = if (materialized) "AS MATERIALIZED" else "AS"
    s"""seeds AS (SELECT label AS slabel0, MIN(vec_id) AS svid FROM v GROUP BY 1),
       |sv AS (
       |  SELECT s.slabel0 AS slabel, nn.e AS se, nn.nrm AS snrm
       |  FROM seeds s JOIN n nn ON nn.vec_id = s.svid),
       |ranks $as (
       |  SELECT nn.vec_id, sv.slabel,
       |         row_number() OVER (
       |           PARTITION BY nn.vec_id
       |           ORDER BY list_dot_product(nn.e, sv.se) / (nn.nrm * sv.snrm) DESC,
       |                    sv.slabel ASC) AS rn
       |  FROM n nn, sv),
       |assigned $as (SELECT vec_id, slabel FROM ranks WHERE rn = 1)""".stripMargin
  }

  val sql: Map[String, String] = Map(
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
    "q34_knn_exact" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
         |cos AS (
         |  SELECT qv.query_id, nv.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM q qv, v nv WHERE nv.vec_id <> qv.query_id),
         |r AS (
         |  SELECT *, CAST(${knnRank("cos")} AS INTEGER) AS "rank"
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
           |  SELECT *, CAST(${knnRank("cos")} AS INTEGER) AS "rank"
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
    // q126: per-vector symmetric int8 quantization; every number derives
    // from exact integer-valued arithmetic, so the ranking hash-matches.
    "q126_knn_quantized" ->
      s"""WITH v AS (
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
        |  SELECT *, CAST(${knnRank("qcos")} AS INTEGER) AS "rank"
        |  FROM cos)
        |SELECT query_id, "rank", neighbor_id, qcos FROM r
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
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
    "q48_knn_ivf" ->
      s"""WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |${ivfAssignCtes(materialized = false)},
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
        |  SELECT *, CAST(${knnRank("cos")} AS INTEGER) AS "rank"
        |  FROM cos)
        |SELECT query_id, "rank", neighbor_id, cos FROM r
        |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
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
    // q156: q73's seed quantizer assignment joined with q32's integer
    // quality score; per-cell top-k on the exact integer triple
    // (quality desc, n_tokens desc, doc_id asc) — no doubles survive
    // into the output.
    "q156_cluster_sample" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |${ivfAssignCtes(materialized = false)},
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")} AS rn
         |    FROM ecos) WHERE rn <= 5),
         |${ivfAssignCtes(materialized = false)},
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")} AS rn
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")} AS rn
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")} AS rn
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
         |  SELECT query_id, neighbor_id, CAST(${knnRank("cos")}
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
         |  SELECT query_id, neighbor_id, CAST(${knnRank("qcos")}
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
    // q251: prefix-slice truncation, then the q34 cosine/ranking contract
    // per dim; recall joins against the full-dim truth.
    "q251_matryoshka_recall" ->
      s"""WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cosf AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.e, n.e) / (sqrt(list_dot_product(q.e, q.e))
        |      * sqrt(list_dot_product(n.e, n.e))) AS cos
        |  FROM v q JOIN v n ON n.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ${knnRank("cos")} AS rnk
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
        |    SELECT *, ${knnRank("cos", "dim, query_id")} AS rnk
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")}
         |      AS er
         |    FROM excos)
         |  WHERE er <= $rankAuditK),
         |n AS (SELECT vec_id, label, e,
         |        sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |${ivfAssignCtes(materialized = false)},
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
         |    SELECT query_id, neighbor_id, ${knnRank("cos")}
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
    // q336: the q161 exact/IVF machinery with the probeset unrolled per
    // nprobe in Similarity.ProbeSweep; recall joins top-k sets
    // (bit-identical cos ⇒ identical rankings ⇒ exact integers).
    "q336_ivf_probe_sweep" -> ivfProbeSweepOracle,
    // q337: k unrolled greedy MMR rounds — cand/sims floored to ppm
    // once, integer scores, id-ascending tie-break, ANTI JOIN remaining.
    "q337_mmr_rerank" -> mmrRerankOracle,
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
           |FROM g ORDER BY role ASC""".stripMargin)
  )
}
