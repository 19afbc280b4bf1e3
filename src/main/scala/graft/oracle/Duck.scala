package graft.oracle

import graft.core.Shard.duckMd5Prefix

/** The DuckDB fragments the oracle families share, each written once.
  *
  * Every fragment is kept in lockstep with the Spark operator it mirrors:
  * same normalization, same md5-derived hashes (the builders in
  * [[graft.core.Shard]]), same fixed-order double arithmetic. DuckDB's
  * `regexp_replace` needs the 'g' flag (it replaces the first match only
  * by default) to mirror Spark's replace-all. */
private[oracle] object Duck {

  /** Shared oracle CTE: the events medallion (bronze flatten + silver
    * enrichment/dedup) as DuckDB SQL, kept in lockstep with
    * [[graft.pipeline.EventsPipeline.bronzeOf]] and
    * [[graft.pipeline.Tiers.events]]' silver. */
  val silverCte: String =
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

  /** The gold-daily aggregate over `silver`, as in
    * [[graft.pipeline.Tiers.events]]' gold: events and distinct event
    * types per user and day. */
  val goldDaily: String =
    """SELECT user_id, event_date, COUNT(*) AS listen_count,
      |       COUNT(DISTINCT event_type) AS unique_types
      |FROM silver GROUP BY 1, 2""".stripMargin

  /** The `ranked` CTE over `gold`, as in [[graft.pipeline.Tiers.events]]'
    * top-3: the top 3 days of each user are `rnk <= 3`. */
  val goldRanked: String =
    """ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id
      |    ORDER BY listen_count DESC, event_date ASC) AS rnk
      |  FROM gold)""".stripMargin

  val duckNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Shared CDC-chunking CTE chain (q58 polynomial rolling hash, cut where
    * hash ≡ 0 mod 64) ending in `chunks(doc_id, chunk)` — used by the q65
    * chunk census and the q160 per-doc duplication coverage. */
  lazy val cdcChunksOracle =
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

  def duckStops: String =
    graft.llm.TextStats.Stopwords.map(s => s"'$s'").mkString(", ")

  /** The word-trigram shingle CTEs: `nd(doc_id, w)`, the normalized words
    * of every doc, and `sh(doc_id, shingle)`, the distinct shingles of
    * every doc with at least 3 words. */
  val shingleCtes: String =
    s"""nd AS (
       |  SELECT doc_id, str_split($duckNorm, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(w) - 1),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM nd WHERE len(w) >= 3)""".stripMargin

  /** The CTE chain every minhash-family oracle starts from: [[shingleCtes]],
    * then `based` (one md5 base hash per shingle), `sig` (the min-hash
    * signature per doc) and `bands` (one md5 key per band). */
  def minhashCtes: String = {
    import graft.llm.TextDedup.{NumHashes, NumBands, RowsPerBand, MinhashP, minhashA, minhashB}
    val mins = (0 until NumHashes).map { s =>
      s"MIN((${minhashA(s)} * hb + ${minhashB(s)}) % $MinhashP) AS h$s"
    }.mkString(",\n    ")
    val bands = (0 until NumBands).map { b =>
      val slots = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slots) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$shingleCtes,
       |based AS (
       |  SELECT doc_id,
       |         ${duckMd5Prefix("shingle", 15)} % $MinhashP AS hb
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM based GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bands)""".stripMargin
  }

  /** The q32 quality rubric as one integer over a doc's normalized text
    * `norm` and its words `w`: one point each for a length of 20..1000
    * words, any stopword, and a mean word length of 2..12. */
  def qualitySum: String =
    s"""CAST(len(w) >= 20 AND len(w) <= 1000 AS INTEGER)
       |      + CAST(len(list_filter(w, x -> x IN ($duckStops))) > 0 AS INTEGER)
       |      + CAST(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) >= 2.0
       |             AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(w) <= 12.0 AS INTEGER)""".stripMargin

  /** The bigram-LM scoring CTEs over `c(lang, w1, w2, cnt)`, the corpus
    * bigram counts, and `docbg(doc_id, lang, w1, w2, m)`, each doc's
    * bigram multiplicities: `ctx` (context counts), `lm` (the integer-ppm
    * probability of w2 after w1) and `s(doc_id, n_bigrams, sum_ppm)`. */
  val bigramLmCtes: String =
    """ctx AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt
      |        FROM c GROUP BY 1, 2),
      |lm AS (SELECT c.lang, c.w1, c.w2,
      |              c.cnt * 1000000 // ctx.ctx_cnt AS p_ppm
      |       FROM c JOIN ctx ON c.lang = ctx.lang AND c.w1 = ctx.w1),
      |s AS (SELECT d.doc_id, CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
      |             CAST(SUM(d.m * lm.p_ppm) AS BIGINT) AS sum_ppm
      |      FROM docbg d JOIN lm ON d.lang = lm.lang
      |        AND d.w1 = lm.w1 AND d.w2 = lm.w2
      |      GROUP BY 1)""".stripMargin

  /** The two columns one step of a greedy 512-token packing walk adds: the
    * next doc `t` opens a new chunk when it would overflow the walk `w`'s
    * chunk, so this yields the chunk column `chunk`, then the new fill. */
  def packStep(chunk: String): String =
    s"""CASE WHEN w.fill + t.n_tokens > 512
       |              THEN w.$chunk + 1 ELSE w.$chunk END,
       |         CASE WHEN w.fill + t.n_tokens > 512
       |              THEN t.n_tokens ELSE w.fill + t.n_tokens END""".stripMargin

  /** Kneser-Ney continuation counts over `counted(lang, w1, w2, cnt)`:
    * `ctx` (each context's count and distinct followers), `cont` (each
    * word's distinct predecessors) and `tot` (distinct bigrams per lang). */
  val kneserNeyCtes: String =
    """ctx AS (
      |  SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS ctx_cnt,
      |         CAST(COUNT(*) AS BIGINT) AS n1p_w1
      |  FROM counted GROUP BY 1, 2),
      |cont AS (
      |  SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS n1p_right
      |  FROM counted GROUP BY 1, 2),
      |tot AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n1p_total
      |  FROM counted GROUP BY 1)""".stripMargin

  /** The q62 repetition counts over `from(doc_id, w)`: `ws(doc_id,
    * n_words, n_distinct_words)` and `bs(doc_id, n_bigrams,
    * top_bigram_cnt)`, via the `words` and `bg` CTEs. */
  def repetitionCtes(from: String): String =
    s"""words AS (SELECT doc_id, unnest(w) AS wd FROM $from),
       |ws AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |         COUNT(*) AS n_distinct_words
       |  FROM (SELECT doc_id, wd, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
       |  GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
       |           array_to_string(w[i:i+1], ' '))) AS b
       |  FROM $from WHERE len(w) >= 2),
       |bs AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |         MAX(cnt) AS top_bigram_cnt
       |  FROM (SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  /** The KNN rank window: each query's neighbors ordered by `cos`
    * descending, ties to the lower neighbor_id. */
  def knnRank(cos: String, by: String = "query_id"): String =
    s"""row_number() OVER (
       |      PARTITION BY $by ORDER BY $cos DESC, neighbor_id ASC)""".stripMargin

  /** `cand(doc_a, doc_b)`: the distinct doc pairs that share a band key. */
  val bandCand: String =
    """cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** `sizes(doc_id, n)`, the shingles per doc, and `inter(doc_a, doc_b,
    * icnt)`, the shingles each `cand` pair shares. */
  val shingleInter: String =
    """sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS icnt
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      |  GROUP BY 1, 2)""".stripMargin

  /** The q27 minhash near-dup pairs as an open WITH-clause (ends in a
    * `pairs` CTE) so census oracles can build on the identical pair set. */
  def minhashPairSql: String = {
    s"""WITH $minhashCtes,
       |$bandCand,
       |$shingleInter,
       |pairs AS MATERIALIZED (
       |  SELECT it.doc_a, it.doc_b,
       |         CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) AS jaccard
       |  FROM inter it
       |  JOIN sizes sa ON sa.doc_id = it.doc_a
       |  JOIN sizes sb ON sb.doc_id = it.doc_b
       |  WHERE CAST(it.icnt AS DOUBLE) / (sa.n + sb.n - it.icnt) >= 0.8)""".stripMargin
  }

  def minhashOracle: String =
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
  def closureCtes(pairsCte: String, p: String = ""): String =
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
}
