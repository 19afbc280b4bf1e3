package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}
import graft.functions.ZOrder

/** Physical-layout operators: Z-order clustering of a table for
  * multi-column data skipping (see [[graft.functions.ZOrder]] for why).
  * The pruning payoff is proven with scan metrics in ZOrderSpec; the
  * oracle-checked query pins the curve itself (the exact bit interleave
  * both engines compute).
  */
object Layout {

  /** 20 bits per dimension: covers part/supp key domains through sf100
    * while keeping z in 40 bits. */
  val CurveBits = 20

  /** The head of the (l_partkey, l_suppkey) Z-curve over lineitem — the
    * physical row order an OPTIMIZE ZORDER would write. Fully tie-broken
    * (orderkey, linenumber are a lineitem key), so the sample is
    * deterministic in any engine. */
  def zOrderCurve(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        ZOrder.zValue(col("l_partkey"), col("l_suppkey"), CurveBits).as("z"),
        col("l_partkey"), col("l_suppkey"),
        col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("z").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(200)

  /** Write `df` clustered by the (x, y) Z-curve: range-partition on z so
    * each of `files` output files owns a contiguous curve slice (= a
    * tight (x, y) box), then sort within partitions so row groups inside
    * a file are tight too. Stats-based pruning then works for both
    * columns. */
  def writeZClustered(df: DataFrame, x: String, y: String,
                      files: Int, path: String): Unit =
    df.withColumn("__z", ZOrder.zValue(col(x), col(y), CurveBits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Write `df` as a point-lookup-optimized parquet layout — the write-
    * side story of data skipping, which at 100 TB matters more than any
    * read-side trick because it decides what every future scan CAN skip:
    *
    *  - range-partition + sort on `sortCol`: row groups own disjoint key
    *    ranges, so min/max (column-index) pruning reduces a point lookup
    *    to ONE row group out of the whole table;
    *  - per-column PARQUET BLOOM FILTERS on `bloomCols` (the `#col`
    *    option form parquet-mr defines): rules out row groups for keys
    *    min/max can't — high-cardinality ids probed by values absent
    *    from the file (the dedup-ledger and similar-id probe pattern).
    *    Ask only for high-cardinality columns: parquet-mr deliberately
    *    writes NO bloom for a fully dictionary-encoded chunk (the
    *    dictionary already answers membership exactly), so a
    *    low-cardinality column's request is dead weight;
    *  - `maxRecordsPerFile` caps file size so a 100 TB table compacts to
    *    uniformly-sized, independently-listable objects.
    *
    * LayoutIndexSpec audits the written footers with parquet-hadoop:
    * bloom filters present exactly where asked, row-group doc_id ranges
    * pairwise disjoint, and the point-range read pushes its filters. */
  def writeIndexedLayout(df: DataFrame, sortCol: String,
                         bloomCols: Seq[String], files: Int,
                         maxRecordsPerFile: Long, path: String): Unit = {
    val writer = df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    bloomCols.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", "1000000")
    }.parquet(path)
  }

  /** q142: a point-range lookup over the indexed layout — the read path
    * the layout exists for. The oracle gates values; the physical
    * payoff (bloom filters in footers, disjoint row groups, pushed
    * filters) is asserted in LayoutIndexSpec. */
  def indexedLayoutLookup(spark: SparkSession, dir: String): DataFrame = {
    val scratch = Caches.scratchDir(spark, s"indexed-layout:$dir")(
      writeIndexedLayout(Tables.documents(spark, dir), "doc_id",
        Seq("doc_id", "text"), files = 4, maxRecordsPerFile = 100000L, _))
    spark.read.parquet(scratch)
      .filter(col("doc_id") >= 100 && col("doc_id") < 140)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  /** q257: LAYOUT PRUNING audit — the data-skipping payoff quantified as
    * a relation. Model the table as fixed-size row chunks (a stand-in
    * for parquet row groups), lay it out three ways — `natural` (insert
    * order), `sorted` (by the probe column), `zorder` (the
    * (l_partkey, l_suppkey) curve) — and for 8 deterministic point
    * probes on l_partkey count how many chunks each layout's min/max
    * stats FAIL to prune. This is the table that justifies paying for a
    * clustered rewrite at 100 TB: natural order scans ~every chunk per
    * probe, sorted collapses a probe to ~1 chunk, and z-order stays
    * within a small factor of sorted while ALSO serving l_suppkey
    * probes (the two-column trade q96 pins the curve for).
    *
    * Scale shape: each layout's global row rank comes from
    * [[OrderStats.rankAll]] (bucket-offset ranking — no single-task
    * sort, exactly how a range-partitioned OPTIMIZE writes files);
    * chunk stats are one map-side-combinable aggregate per layout into
    * a chunks×layouts frame; probes are a broadcast 8-row literal
    * derived from max(l_partkey). */
  def pruningAudit(spark: SparkSession, dir: String,
      chunkRows: Int = 4096, nProbes: Int = 8): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        // (orderkey, linenumber) is a lineitem key and linenumber < 10:
        // one long tie-breaker, unique by construction
        (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
    val z = ZOrder.zValue(col("pk"), col("sk"), CurveBits)
    def lay(name: String, v: org.apache.spark.sql.Column) =
      li.select(lit(name).as("part"), v.as("v"), col("tie"), col("pk"))
    val layouts = lay("natural", col("tie"))
      .unionAll(lay("sorted", col("pk")))
      .unionAll(lay("zorder", z))
    val chunks = Caches.scratch(
      OrderStats.rankAll(layouts)
        .select(col("part"), col("pk"),
          expr(s"(rnk - 1) div $chunkRows").as("chunk"))
        .groupBy(col("part"), col("chunk"))
        .agg(min(col("pk")).as("lo"), max(col("pk")).as("hi")))
    // probe points spread over the key domain: (2k+1)·(max+1)/2n — two
    // driver scalars (the q240 lo/span discipline), never a data column
    val maxPk = li.agg(max(col("pk"))).head().getLong(0)
    val probes = (0 until nProbes).map { k =>
      (k.toLong, (2L * k + 1) * (maxPk + 1) / (2L * nProbes))
    }.toDF("probe_id", "probe_pk")
    val nChunks = chunks.groupBy(col("part"))
      .agg(count(lit(1)).as("n_chunks"))
    chunks.crossJoin(broadcast(probes))
      .groupBy(col("part"), col("probe_id"), col("probe_pk"))
      .agg(sum(when(col("lo") <= col("probe_pk")
        && col("probe_pk") <= col("hi"), 1L).otherwise(0L)).as("n_scanned"))
      .join(broadcast(nChunks), Seq("part"))
      .select(col("part").as("layout"), col("probe_id"), col("probe_pk"),
        col("n_chunks").cast("long").as("n_chunks"),
        col("n_scanned").cast("long").as("n_scanned"))
      .orderBy(col("layout").asc, col("probe_id").asc)
  }

  /** Grid size (bits per dimension) and shard count for
    * [[curveLocalityAudit]]: a 64×64 key grid carved into 48
    * contiguous curve-rank shards. 48 is deliberately NOT a divisor
    * that makes shards power-of-4 aligned: a fully occupied grid cut
    * into 4^k-cell slices gives BOTH curves the identical aligned-block
    * partition (measured tie); real file sizes aren't aligned, and an
    * off-alignment shard count models that. */
  val LocalityBits = 6
  val LocalityShards = 48L

  /** q327: CURVE LOCALITY audit — Z-order vs Hilbert, scored on this
    * corpus. Orders map to a 2-D key grid (customer bucket × order-date
    * epoch-day bucket, the two-filter-column layout case q96 argues);
    * each curve linearizes the OCCUPIED cells and the curve-ordered
    * cell sequence is cut into [[LocalityShards]] equal-COUNT rank
    * slices — exactly what `writeZClustered`'s repartitionByRange does
    * to make equal-sized files (fixed curve-space slices would be a
    * strawman: any power-of-4 slice is the same aligned square under
    * BOTH curves, and the two layouts come out identical — measured).
    * The metric: of all occupied grid-NEIGHBOR cell pairs (right/up
    * adjacency), how many land in the same shard? Every 2-D box
    * predicate reads neighbor cells together, so same-shard neighbors ≈
    * fewer files touched per box — the number that justifies choosing
    * Hilbert over Z-order for OPTIMIZE at 100 TB (the Z-curve's
    * quadrant seams are exactly the neighbor pairs it sends to distant
    * shards; the Hilbert curve is continuous and keeps more of them).
    *
    * Scale shape: cells are DISTINCT grid coordinates (≤ 2^(2·bits) =
    * 65 536 rows regardless of corpus size — domain-bounded after one
    * distinct shuffle), so the rank windows run over a bounded frame
    * (the pinned global-window discipline); the neighbor self-joins are
    * equi-joins on the shifted coordinate. The curve transforms are
    * flat integer projection chains (see [[graft.functions.Hilbert]]),
    * no UDF. */
  def curveLocalityAudit(orders: DataFrame): DataFrame = {
    val bits = LocalityBits
    val n = 1L << bits
    val cells = orders
      .select((col("o_custkey") % n).as("x"),
        (datediff(col("o_orderdate"), lit("1970-01-01")) % n).as("y"))
      .distinct()
    // domain-sized: distinct grid cells, <= 4^bits rows
    val wz = Window.orderBy(col("zv").asc)
    val wh = Window.orderBy(col("hv").asc)
    val valued = Caches.scratch(
      graft.functions.Hilbert.withHValue(
          cells.withColumn("zv", ZOrder.zValue(col("x"), col("y"), bits)),
          col("x"), col("y"), bits, "hv")
        .withColumn("zr", row_number().over(wz))
        .withColumn("hr", row_number().over(wh))
        // domain-sized: same <= 4^bits cell frame
        .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
        .select(col("x"), col("y"),
          expr(s"(zr - 1) div ((nc + ${LocalityShards - 1})" +
            s" div $LocalityShards)").as("zshard"),
          expr(s"(hr - 1) div ((nc + ${LocalityShards - 1})" +
            s" div $LocalityShards)").as("hshard")))
    def neighborFlags(cond: org.apache.spark.sql.Column) =
      valued.as("a").join(valued.as("b"), cond)
        .select((col("a.zshard") === col("b.zshard")).cast("long").as("zs"),
          (col("a.hshard") === col("b.hshard")).cast("long").as("hs"))
    val pairs = neighborFlags(
        col("a.x") + 1 === col("b.x") && col("a.y") === col("b.y"))
      .unionByName(neighborFlags(
        col("a.x") === col("b.x") && col("a.y") + 1 === col("b.y")))
    val stats = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("zs")).as("z_same"), sum(col("hs")).as("h_same"))
    val nc = valued.agg(count(lit(1)).as("n_cells"))
    val base = nc.crossJoin(stats)
    base.select(lit("hilbert").as("method"),
        col("n_cells").cast("long").as("n_cells"),
        col("n_pairs").cast("long").as("n_neighbor_pairs"),
        col("h_same").cast("long").as("n_same_shard"),
        expr("h_same * 1000000 div greatest(1L, n_pairs)").cast("long")
          .as("same_shard_ppm"))
      .unionByName(base.select(lit("zorder").as("method"),
        col("n_cells").cast("long").as("n_cells"),
        col("n_pairs").cast("long").as("n_neighbor_pairs"),
        col("z_same").cast("long").as("n_same_shard"),
        expr("z_same * 1000000 div greatest(1L, n_pairs)").cast("long")
          .as("same_shard_ppm")))
      .orderBy(col("method").asc)
  }
}
