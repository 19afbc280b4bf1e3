package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.pipeline.EventsPipeline

class IncrementalSpec extends SparkSpecBase {

  private lazy val silver = EventsPipeline.silver(spark, sf)

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("merged base+delta equals the direct full aggregate") {
    val direct = Incremental.goldPartial(silver)
    val merged = Incremental.merge(
      Incremental.goldPartial(silver.filter(col("event_id") % 10 =!= 0)),
      Incremental.goldPartial(silver.filter(col("event_id") % 10 === 0)))
    assertSame(direct, merged)
  }

  test("merge is associative across three delta carves") {
    def carve(m: Int) = Incremental.goldPartial(
      silver.filter(col("event_id") % 3 === m))
    val leftFold = Incremental.merge(Incremental.merge(carve(0), carve(1)), carve(2))
    val rightFold = Incremental.merge(carve(0), Incremental.merge(carve(1), carve(2)))
    assertSame(leftFold, rightFold)
    assertSame(leftFold, Incremental.goldPartial(silver))
  }

  test("merging an empty delta is the identity") {
    val stored = Incremental.goldPartial(silver)
    val empty = Incremental.goldPartial(silver.filter(lit(false)))
    assertSame(stored, Incremental.merge(stored, empty))
  }

  test("corpus diff census reconciles with the residue classes that built snapshot B") {
    val docs = graft.core.Tables.documents(spark, sf)
    val byStatus = Incremental.corpusDiff(graft.core.Tables.documents(spark, sf)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    val removed = docs.filter(col("doc_id") % 97 === 0).count()
    val added = docs.filter(col("doc_id") % 101 === 0).count()
    val changed = docs.filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0).count()
    val total = docs.count()
    assert(byStatus.getOrElse("removed", 0L) === removed)
    assert(byStatus.getOrElse("added", 0L) === added)
    assert(byStatus.getOrElse("changed", 0L) === changed)
    assert(byStatus.getOrElse("unchanged", 0L) === total - removed - changed)
  }

  test("merge algebra: actions reconcile with the matched/unmatched carves") {
    import org.apache.spark.sql.functions._
    val silver = EventsPipeline.silver(spark, sf)
    def keys(f: org.apache.spark.sql.Column) = silver.filter(f)
      .select("user_id", "event_date").distinct()
    val t = keys(col("event_id") % 3 =!= 0)
    val c = keys(col("event_id") % 3 === 0)
    val deletes = c.filter(col("user_id") % 10 === 0)
    val upserts = c.filter(col("user_id") % 10 =!= 0)
    val out = Incremental.mergeUpsert(spark, sf)
    val byAction = out.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction.getOrElse("update", 0L) === upserts.intersect(t).count())
    assert(byAction.getOrElse("insert", 0L) === upserts.except(t).count())
    assert(byAction.getOrElse("keep", 0L) === t.except(c).count())
    // deleted keys are gone entirely
    assert(out.join(deletes, Seq("user_id", "event_date")).count() === 0)
  }
}
