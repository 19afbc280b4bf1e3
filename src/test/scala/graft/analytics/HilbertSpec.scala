package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.Hilbert

class HilbertSpec extends SparkSpecBase {

  test("reference xy2d is a continuous bijection on the 8x8 grid") {
    val bits = 3
    val n = 1 << bits
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (Hilbert.hValueRef(x, y, bits), x, y)
    // bijection onto 0..n^2-1
    assert(cells.map(_._1).sorted === (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property: consecutive curve ranks are grid-adjacent
    val byD = cells.sortBy(_._1)
    byD.sliding(2).foreach { case Seq((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump between rank cells ($x1,$y1) and ($x2,$y2)")
    }
  }

  test("column expression matches the driver reference on a full grid") {
    import spark.implicits._
    val bits = 4
    val n = 1 << bits
    val grid = (for (x <- 0L until n; y <- 0L until n) yield (x, y))
      .toDF("x", "y")
    val got = grid.select(col("x"), col("y"),
        Hilbert.hValue(col("x"), col("y"), bits).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    for (x <- 0L until n; y <- 0L until n)
      assert(got((x, y)) === Hilbert.hValueRef(x, y, bits),
        s"cell ($x, $y)")
  }

  test("q327 locality audit: continuous curve wins on the full grid") {
    import spark.implicits._
    // one order per grid cell -> the fully occupied 64x64 grid, where
    // the Hilbert-vs-Z gap is a deterministic property of the curves
    val n = 1 << Layout.LocalityBits
    val dense = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y))
      .toDF("o_custkey", "d")
      .select(col("o_custkey"),
        date_add(lit("1970-01-01").cast("date"), col("d"))
          .as("o_orderdate"))
    val out = Layout.curveLocalityAudit(dense).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out.keySet === Set("hilbert", "zorder"))
    val (hc, hp, _, hppm) = out("hilbert")
    val (zc, zp, _, zppm) = out("zorder")
    assert(hc === n.toLong * n && hc === zc)
    assert(hp === 2L * n * (n - 1) && hp === zp)
    // the reason the operator exists: the continuous curve keeps more
    // grid neighbors inside equal-count rank shards
    assert(hppm > zppm,
      s"Hilbert locality $hppm must beat Z-order $zppm on the full grid")
    // sparse corpus grids still produce a well-formed census
    val sfOut = Layout.curveLocalityAudit(graft.core.Tables.orders(spark, sf)).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(sfOut.length === 2)
    sfOut.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
    }
  }
}
