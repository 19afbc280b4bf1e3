package graft.oracle

import graft.analytics.{Reports, TemporalOps}
import graft.core.Shard.duckMd5Prefix

import Duck._

/** DuckDB oracle SQL for the event-stream analytics over silver:
  * `Reports`, `TemporalOps` and `Funnels` in `graft.analytics`. */
object EventReportsSql {

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

  /** 1 on a user's first event and on each event over 30 minutes after
    * the previous one (window `w`: per user, by time). */
  private val newSession =
    """CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
      |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
      |         ELSE 0 END AS new_session""".stripMargin

  val sql: Map[String, String] = Map(
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
    // q87: islands SQL with the native operator's boundary (the session
    // end is INCLUSIVE: an event at exactly last+gap still extends, so
    // only diff > gap opens a new session — same rule as q47).
    "q87_session_windows" ->
      (silverCte +
        s""", flagged AS (
          |  SELECT user_id, event_id, ts,
          |    $newSession
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
    "q47_sessions" ->
      (silverCte +
        s""", flagged AS (
          |  SELECT user_id, event_id, ts,
          |    $newSession
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
    // q222: identical md5 parity and integer share arithmetic.
    "q222_aa_balance" ->
      (silverCte +
        s""", tagged AS (
          |  SELECT event_type,
          |         ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 2 AS arm
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
    // q224: the q47 session CTEs carrying event_type; first/last per
    // session via symmetric row_numbers, handoff via per-user lead.
    "q224_session_handoffs" ->
      (silverCte +
        s""", flagged AS (
          |  SELECT user_id, event_id, ts, event_type,
          |    $newSession
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
    // q291: identical integer sufficient statistics; the three ratios are
    // the SAME double expression floored in both engines (FLOOR, not
    // cast: DuckDB's double->int cast rounds, Spark's truncates).
    "q291_cuped_adjustment" ->
      (silverCte +
        s""",
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pu AS (
          |  SELECT user_id,
          |         ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 2 AS arm,
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
    // q307: the q291 sufficient statistics; z constants summed as the
    // same literals; one identically-ordered double chain under CEIL.
    "q307_power_analysis" ->
      (silverCte +
        s""",
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pu AS (
          |  SELECT user_id,
          |         ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 2 AS arm,
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
    // q312: the q192 transition matrix, T = 24 unrolled milli-step
    // rounds (1000 + Σ q·m // 10⁶); dead-end successors drop to 0 via
    // the missing join row in both spellings.
    "q312_absorbing_markov" -> absorbingMarkovOracle(24),
    // q313: identical per-look user sums; z and the OBF boundary are the
    // same double chains floored to milli.
    "q313_group_sequential" ->
      (silverCte +
        s""",
          |b AS (SELECT MIN(event_date) AS lo, MAX(event_date) AS hi
          |      FROM silver),
          |pul AS (
          |  SELECT l.look,
          |    ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 2 AS arm,
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
        s""",
          |pu AS (
          |  SELECT user_id,
          |    ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 2 AS arm,
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
        s""",
          |uy AS (
          |  SELECT user_id,
          |         CAST(SUM(CASE WHEN event_type = 'purchase'
          |           THEN CAST(round(value * 100) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS y
          |  FROM silver GROUP BY 1),
          |bk AS (
          |  SELECT ${duckMd5Prefix("CAST(user_id AS VARCHAR)", 15)} % 20 AS bucket,
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
          |FROM c CROSS JOIN t ORDER BY relation ASC""".stripMargin)
  )
}
