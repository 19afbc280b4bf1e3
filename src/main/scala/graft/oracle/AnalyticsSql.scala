package graft.oracle

import graft.core.Shard.duckMd5Prefix

import Duck._

/** DuckDB oracle SQL for the rest of `graft.analytics`: the star schema,
  * diagnostics, graphs, sketches, bitmaps and layout queries. */
object AnalyticsSql {

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

  /** Oracle for q227: `iters` unrolled pagerank rounds. The Spark side
    * iterates to the exact integer FIXPOINT (35 rounds at sf0.01, 46 at
    * sf0.1, block-checked so it stops by 40/52); because rounds past the
    * fixpoint are identities, any unroll count ≥ the convergence point +
    * check-block slack yields the identical relation — 64 carries that
    * margin. MATERIALIZED keeps DuckDB from inlining each round into the
    * next three times over. */
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

  /** Oracle SQL for q195: the q93 edge CTEs + `rounds` unrolled peel
    * rounds (degree recount → keep-list → double semi-join), closing
    * with the node/edge census of the surviving subgraph. */
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

  val sql: Map[String, String] = Map(
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
    "q49_orders_cube" ->
      """SELECT year(o_orderdate) AS o_year, o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |GROUP BY CUBE (o_year, o_orderpriority)
        |ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
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
    // q184: same 60-bit md5 row digest, xor-folded per id bucket —
    // order/partition independent in both engines.
    "q184_merkle_buckets" ->
      s"""SELECT CAST(doc_id % 64 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(bit_xor(${duckMd5Prefix("concat_ws('|', doc_id, text, lang, source)", 15)})
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
    "q195_kcore_census" -> kCoreOracleSql(80, 8),
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
      s"""WITH el AS (
        |  SELECT event_type,
        |         CAST(user_id AS VARCHAR) || '#' ||
        |           CAST(CAST(ts AS DATE) AS VARCHAR) AS elem
        |  FROM events),
        |pt AS (
        |  SELECT DISTINCT event_type, elem,
        |         ${duckMd5Prefix("elem", 12)} AS h
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
         |         ${duckMd5Prefix("CAST(r.r AS VARCHAR) || '#' || word", 12)} % 16 AS bucket
         |  FROM wf CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r),
         |sketch AS (
         |  SELECT cms_row, bucket, COUNT(*) AS c FROM rws GROUP BY 1, 2),
         |top AS (
         |  SELECT word, n_true FROM counts
         |  ORDER BY n_true DESC, word ASC LIMIT 10),
         |probes AS (
         |  SELECT word, n_true, r.r AS cms_row,
         |         ${duckMd5Prefix("CAST(r.r AS VARCHAR) || '#' || word", 12)} % 16 AS bucket
         |  FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r)
         |SELECT p.word, CAST(p.n_true AS BIGINT) AS n_true,
         |       CAST(MIN(s.c) AS BIGINT) AS cms_est,
         |       CAST((MIN(s.c) - p.n_true) * 1000000 // p.n_true AS BIGINT)
         |         AS over_ppm
         |FROM probes p JOIN sketch s USING (cms_row, bucket)
         |GROUP BY p.word, p.n_true
         |ORDER BY n_true DESC, word ASC""".stripMargin,
    // q233: 8 unrolled relaxations (fixpoint at 3-4 on this graph; later
    // rounds are identities because distances only decrease).
    "q233_cheapest_paths" -> bellmanFordOracleSql(8),
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
    // q248: identical md5 sample, equi-depth tags (cum-1)*B // ns, and
    // max-start assignment.
    "q248_range_balance" ->
      s"""WITH v AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |sample AS (
        |  SELECT * FROM v
        |  WHERE ${duckMd5Prefix("'rp:' || CAST(k AS VARCHAR)", 15)} % 1000 < 20),
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
         |           ${duckMd5Prefix("'boot:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 15)}
         |             % 1000000 AS u
         |    FROM toks CROSS JOIN reps)),
         |g AS (
         |  SELECT b, CAST(SUM(wt) AS BIGINT) AS n_eff,
         |         CAST(SUM(wt * n_tokens) AS BIGINT) AS sum_tokens
         |  FROM wts GROUP BY 1)
         |SELECT b, n_eff, sum_tokens,
         |       sum_tokens * 1000000 // n_eff AS mean_tokens_ppm
         |FROM g ORDER BY b ASC""".stripMargin,
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
        s""",
          |ev AS (
          |  SELECT event_type AS part,
          |         CAST(round(value * 100) AS BIGINT) AS cents,
          |         ${duckMd5Prefix("'conf:' || CAST(event_id AS VARCHAR)", 15)} % 10 < 5
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
    // q327: the Hilbert state machine unrolled as one CTE per bit level
    // (graft.functions.Hilbert emits the identical chain) + the q96
    // Z-value bit interleave; locality scored on neighbor equi-joins.
    "q327_hilbert_locality" -> curveLocalityOracleSql
  )
}
