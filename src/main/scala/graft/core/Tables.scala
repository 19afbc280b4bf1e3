package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated corpus (TESTDATA.md): one parquet per
  * table under a scale-factor dir. All reads go through here so scan options
  * (and any future bucketing/caching) are applied uniformly.
  *
  * At 100 TB these would be catalog tables (Iceberg) with partition metadata;
  * the API is kept to (spark, dir) so swapping the physical source is a
  * one-file change.
  */
object Tables {
  /** All scans bootstrap the session (UTC, nanosAsLong, graft functions)
    * so correctness does not depend on who built the SparkSession. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Sessions.ensure(spark).read.parquet(s"$dir/$name.parquet")

  /** Parquet footer stats per file — (row groups, rows) — read once per
    * path (driver-side, ~ms, memoized for the JVM). (MaxValue, 0) when
    * the path is not a single readable parquet file (e.g. a real
    * multi-file table directory) — i.e. "assume the scan parallelizes
    * natively". */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def footerOf(spark: SparkSession, path: String): (Long, Long) = {
    // round-14 (ADVICE r13): NonFatal only — let OOM/interrupt propagate —
    // and never CACHE a failure: a transient read error would otherwise pin
    // the (MaxValue, 0) "fan-out off" fallback for the JVM lifetime.
    val hit = footerCache.get(path)
    if (hit != null) hit
    else {
      val v =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path),
            spark.sessionState.newHadoopConf())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try Some((r.getRowGroups.size().toLong, r.getRecordCount))
          finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      v match {
        case Some(ok) => footerCache.putIfAbsent(path, ok); ok
        case None     => (Long.MaxValue, 0L) // retryable: not cached
      }
    }
  }

  /** FACT-table scan with parallelism restored when the file layout
    * cannot feed the session's cores (round-13, guide §2.5 "input skew:
    * one huge unsplittable file"). Spark assigns whole parquet ROW GROUPS
    * to scan splits, and the driver's toy fixtures are written as a
    * single row group per table — so every scan-stage map operator
    * (decimal aggregation, JSON flatten, shingle explode) was serializing
    * on ONE task regardless of split config (measured: q01's 600k-row
    * decimal rollup ran 1 of its 1.2 s in a single scan task). The
    * fan-out hashes on the table's PRIMARY KEY — deterministic row
    * placement (safe under task retries, unlike rand-derived keys, and
    * skipping round-robin's sort-before-repartition pass), and the
    * partitioning downstream ops on that key can reuse outright — and is
    * ADAPTIVE on the file's measured row-group count: a real table (many
    * row groups / a directory of files — at 100 TB, thousands of both)
    * takes the `df` branch and pays nothing; only a scan whose physical
    * layout under-feeds the cores pays one narrow exchange to restore
    * the parallelism the layout lost.
    * Dimension tables (region..part) stay unfanned: they feed broadcast
    * builds, where a fan-out only adds a stage. Catalyst pushes filters
    * and column pruning THROUGH the repartition, so PushedFilters at
    * the scan are unchanged (PlanAuditSpec pins this). ReadSchema gains
    * ONE column when the consumer would not otherwise read the fan-out
    * key (q01's scan reads 6 columns, not 5) — on these tables the
    * primary key is a narrow int64 and usually read anyway, but a WIDE
    * table whose consumers never touch the key would pay that column on
    * every scan; pick the fan-out key from the consumer's own read set
    * in that case. */
  /** Rows per fan-out partition by per-row COST CLASS, so the width is
    * derived from measured rows everywhere instead of the core count.
    * Row-light relational facts: downstream cost is a few expressions
    * per row, so ~40k rows is one stage-latency quantum of work;
    * fanning them all the way to the core count instead made every
    * MULTI-PASS consumer (q278's two order-statistic kernels: ~10
    * stages over the cached frame) pay 32 near-empty task launches per
    * pass — measured 2.1 s → 4.2 s. Text and vector tables (documents,
    * embeddings) carry a per-table quantum instead: their per-row work
    * (shingling, normalization, 768-dim arithmetic) is 100-1000× a
    * relational row's, but round 13 fanned them to the FLAT core count
    * and repeated the q278 mistake for multi-pass consumers (q324's
    * ten-stage CDF pipeline: 1.28 s at 32 cores vs 0.48 s at 8 —
    * round-14 A/B below picks the quantum that removes the inversion).
    * `spark.graft.scan.heavyRows.<table>` overrides a heavy table's
    * quantum for deployments whose per-row cost differs (e.g. longer
    * documents). A value ≤ 0 is rejected. */
  private val FanRowsPerPartition = 40000L

  /** The heavy quantum for `name`: its per-table key, else `default`. */
  private[core] def heavyQuantum(spark: SparkSession, name: String,
      default: Long): Long = {
    val key = s"spark.graft.scan.heavyRows.$name"
    val value = spark.conf.get(key, default.toString)
    value.trim.toLongOption.filter(_ > 0L).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a positive row count, got '$value'"))
  }

  private def fanned(spark: SparkSession, dir: String, name: String,
      key: String, heavyRows: Long = 0L): DataFrame = {
    val df = table(spark, dir, name)
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val (rowGroups, rows) = footerOf(spark, s"$dir/$name.parquet")
    val quantum =
      if (heavyRows > 0L) heavyQuantum(spark, name, heavyRows)
      else FanRowsPerPartition
    val width = math.max(1L, math.min(cores.toLong, rows / quantum)).toInt
    // session kill-switch: the fan-out sits between a scan and the
    // optimizer's scan-adjacent rewrites (e.g. InjectRuntimeFilter will
    // not thread a bloom filter through a RepartitionByExpression), so a
    // caller demonstrating those rewrites — or a deployment whose layout
    // the row-group probe misjudges — can turn it off explicitly
    if (spark.conf.get("spark.graft.scan.fanout", "true") != "true") df
    else if (rowGroups >= cores / 2 || width.toLong <= rowGroups) df
    else df.repartition(width.toInt,
      org.apache.spark.sql.functions.col(key))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = fanned(s, d, "orders", "o_orderkey")
  def lineitem(s: SparkSession, d: String): DataFrame   = fanned(s, d, "lineitem", "l_orderkey")
  /** `events.ts` has shipped under three physical parquet encodings across
    * testdata generations, so the load is schema-adaptive on the dtype Spark
    * actually reads:
    *   - TIMESTAMP(NANOS) → LongType (via the nanosAsLong conf, set once by
    *     [[Sessions.ensure]]; Spark otherwise rejects nanos with
    *     [PARQUET_TYPE_ILLEGAL]). Rebuild micros with `ts div 1000` — long
    *     integer division, since a double round-trip loses precision above
    *     2^53 ns ≈ 104 days.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType. The
    *     session TZ is pinned UTC, so casting to TimestampType is
    *     value-preserving and matches DuckDB's native read.
    *   - TIMESTAMP(MICROS, UTC) → TimestampType. Pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    Sessions.ensure(s)
    val df = fanned(s, d, "events", "event_id")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = fanned(s, d, "documents", "doc_id", heavyRows = 300L)
  def embeddings(s: SparkSession, d: String): DataFrame = fanned(s, d, "embeddings", "vec_id", heavyRows = 125L)
}
