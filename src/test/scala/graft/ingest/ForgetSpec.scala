package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables
import graft.pipeline.EventsPipeline

class ForgetSpec extends SparkSpecBase {

  test("scrub removes every deleted user's row and nothing else") {
    val silver = EventsPipeline.silver(spark, sf)
    val dels = Forget.deletionSet(Tables.events(spark, sf))
    val out = Forget.scrub(silver, dels).cache()
    assert(out.filter(col("user_id") % Forget.DeleteMod === 0).count() === 0)
    val kept = silver.filter(col("user_id") % Forget.DeleteMod =!= 0).count()
    assert(out.count() === kept)
  }

  test("scrub plans as a broadcast anti-join (no tier shuffle)") {
    val plan = Forget.scrub(
      EventsPipeline.silver(spark, sf),
      Forget.deletionSet(Tables.events(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
  }

  test("audit is complete and reconciles with the deletion set") {
    val audit = Forget.forgetAudit(spark, sf).cache()
    assert(audit.filter(!col("complete")).count() === 0)
    val removed = audit.agg(sum("rows_removed")).head().getLong(0)
    val direct = EventsPipeline.silver(spark, sf)
      .filter(col("user_id") % Forget.DeleteMod === 0).count()
    assert(removed === direct)
  }

  test("partitioned tier erasure drops directories, not rows") {
    val root = tmpDir("forget-tier-")
    val bronze = EventsPipeline.bronze(spark, sf)
    bronze.write.mode("overwrite").partitionBy("user_id")
      .parquet(s"$root/bronze")
    val victims = Seq(0L, 50L, 100L)
      .filter(uid => new java.io.File(s"$root/bronze/user_id=$uid").exists())
    assert(victims.nonEmpty, "fixture must contain at least one victim user")
    val dropped = Forget.dropUserPartitions(spark, s"$root/bronze", victims)
    assert(dropped === victims.size)
    victims.foreach { uid =>
      assert(!new java.io.File(s"$root/bronze/user_id=$uid").exists())
    }
    // remaining data readable and exactly the complement
    val remaining = spark.read.parquet(s"$root/bronze")
    val expect = bronze.filter(!col("user_id").isin(victims: _*)).count()
    assert(remaining.count() === expect)
  }
}
