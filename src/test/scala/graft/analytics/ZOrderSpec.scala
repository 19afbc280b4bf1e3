package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables
import graft.functions.ZOrder

class ZOrderSpec extends SparkSpecBase {

  test("zValue matches the reference interleave and is curve-monotonic") {
    import spark.implicits._
    val pts = (for (x <- 0L to 40L; y <- 0L to 40L) yield (x, y)).toDF("x", "y")
    val got = pts
      .withColumn("z", ZOrder.zValue(col("x"), col("y"), 20))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("z") ===
        ZOrder.zValueRef(r.getLong(0), r.getLong(1), 20))
    }
    // quadrant property: the curve visits each 2^k-aligned quadrant fully
    // before leaving it (top interleaved bits are the quadrant id)
    got.foreach { r =>
      assert((r.getAs[Long]("z") >> 10) ===
        ZOrder.zValueRef(r.getLong(0) >> 5, r.getLong(1) >> 5, 20))
    }
  }

  /** Rows emitted by the parquet scan AFTER stats-based row-group pruning
    * (record-level filtering is off by default, so this measures exactly
    * what the pushed min/max filters failed to skip). */
  private def scannedRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  test("z-clustered layout prunes 2-D box scans; key-sorted layout cannot") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zDir = tmpDir("zorder-") + "/z"
    val kDir = tmpDir("zorder-") + "/k"
    Layout.writeZClustered(li, "l_partkey", "l_suppkey", 16, zDir)
    // same file count, same data — sorted by a key UNRELATED to the box
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(kDir)

    val (pLo, pHi) = {
      val mm = li.agg(min("l_partkey"), max("l_partkey")).head()
      (mm.getLong(0), mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 8)
    }
    def box(df: DataFrame) = df.filter(
      col("l_partkey").between(pLo, pHi) && col("l_suppkey") <= 3)

    val zScanned = scannedRows(box(spark.read.parquet(zDir)))
    val kScanned = scannedRows(box(spark.read.parquet(kDir)))
    val total = li.count()
    val hits = box(spark.read.parquet(zDir)).count()
    assert(hits === box(spark.read.parquet(kDir)).count())
    // the unrelated sort prunes nothing: every row group spans the box
    assert(kScanned === total, s"expected no pruning, scanned $kScanned/$total")
    // the z layout skips most row groups for the same logical query
    assert(zScanned < total / 2,
      s"z layout scanned $zScanned of $total (hits $hits)")
    assert(zScanned >= hits)
  }

  test("pruning audit: sorted ~1 chunk per probe, natural scans ~everything") {
    val out = Layout.pruningAudit(spark, sf).collect()
    graft.core.Caches.releaseScratch(spark)
    val byLayout = out.groupBy(_.getString(0))
    assert(byLayout.keySet === Set("natural", "sorted", "zorder"))
    // chunk counts agree across layouts (same rows, same chunk size)
    assert(out.map(_.getLong(3)).distinct.length === 1)
    val nChunks = out.head.getLong(3)
    def total(l: String) = byLayout(l).map(_.getLong(4)).sum
    // a point probe on the sort key hits exactly one chunk (boundary
    // rows can make it two); natural order prunes essentially nothing
    byLayout("sorted").foreach { r =>
      assert(r.getLong(4) <= 2, s"sorted layout failed to prune: $r")
    }
    assert(total("natural") >= 8 * (nChunks - 1),
      s"natural order should scan ~all $nChunks chunks per probe")
    // z-order serves the pk probe within a small factor of sorted; the
    // vs-natural claim only means anything once there are enough chunks
    // to prune (sf0.001 has 2)
    assert(total("zorder") <= 4 * total("sorted"),
      s"zorder ${total("zorder")} vs sorted ${total("sorted")}")
    if (nChunks >= 8) assert(total("zorder") < total("natural") / 2)
  }
}
