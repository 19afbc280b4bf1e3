package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpecBase

class IntersectCountSpec extends SparkSpecBase with TableDrivenPropertyChecks {

  test("graft_intersect_count ≡ size(array_intersect) incl. dupes and nulls") {
    import spark.implicits._
    val cases: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 1L, 2L, 2L), Seq(1L, 2L)),          // left dupes count once
      (Seq.empty, Seq(1L)),
      (Seq(1L, null, 2L), Seq(null, 3L)),           // null matches null
      (Seq(null, null), Seq(null)),                 // null counted once
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(5L), Seq(5L, 5L, 5L)))
    val df = cases.toDF("a", "b")
    val out = df.select(
      size(array_intersect(col("a"), col("b"))).as("builtin"),
      call_function("graft_intersect_count", col("a"), col("b")).as("fused"))
    assert(out.filter(col("builtin") =!= col("fused")).count() === 0)
    // null ARRAY operand → null, matching modern size(null) semantics
    val nullDf = Seq((Seq(1L, 2L), null: Seq[java.lang.Long])).toDF("a", "b")
    val r = nullDf.select(
      size(array_intersect(col("a"), col("b"))).as("builtin"),
      call_function("graft_intersect_count", col("a"), col("b")).as("fused")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("deterministic pseudo-random arrays agree with a set-based reference") {
    import spark.implicits._
    val cases = (1 to 200).map { s =>
      def gen(seed: Int, n: Int): Seq[Long] =
        (0 until n).map(i => ((seed * 1103515245 + i * 12345) % 7).toLong)
      (gen(s, s % 9), gen(s * 31 + 7, (s * 3) % 11))
    }
    val df = cases.toDF("a", "b")
    val got = df.select(
      col("a"), col("b"),
      call_function("graft_intersect_count", col("a"), col("b")).as("c"))
      .collect()
    got.foreach { r =>
      val a = r.getSeq[Long](0).toSet
      val b = r.getSeq[Long](1).toSet
      assert(r.getInt(2) === (a intersect b).size)
    }
  }

  test("optimizer rule fuses size(array_intersect) in the plan") {
    // non-foldable input: literals would be constant-folded away before
    // the fused expression could appear in the plan
    val df = spark.range(1, 4)
      .select(array(col("id"), col("id") + 1).as("a"),
        array(col("id") + 1, col("id") + 2).as("b"))
      .select(size(array_intersect(col("a"), col("b"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_intersect_count"),
      s"rule did not fire:\n$optimized")
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 1, 1))
    // the fused expression lives inside whole-stage codegen: its Project
    // carries the `*(n)` codegen-stage marker
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.linesIterator.exists(l =>
      l.contains("graft_intersect_count") && l.trim.startsWith("*(")), exec)
  }

  test("triangle census picks up the fusion end to end") {
    val census = graft.analytics.Graphs.coPurchaseTriangles(spark, sf)
    val optimized = census.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_intersect_count"))
    assert(census.head().getAs[Long]("n_triangles") > 0)
    graft.core.Caches.releaseScratch(spark)
  }
}
