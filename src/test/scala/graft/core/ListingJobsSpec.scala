package graft.core

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpecBase

/** [[Sessions.local]] lists files serially. A `user_name`-partitioned
  * directory with more subdirectories than Spark's
  * `parallelPartitionDiscovery.threshold` (32) would otherwise cost one
  * listing job on every read; this pins that a read submits no job before
  * an action, so a Spark upgrade cannot silently bring the job back. */
class ListingJobsSpec extends SparkSpecBase {

  private val ThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  // an explicit data schema: no footer-reading inference job, so the
  // only job a read could submit is the listing job
  private val dataSchema = StructType(Seq(StructField("id", LongType)))

  private def partitionedDir(users: Int): String = {
    val dir = tmpDir("listing-") + "/t"
    spark.range(users).selectExpr("id", "concat('user_', id) AS user_name")
      .write.partitionBy("user_name").parquet(dir)
    dir
  }

  test("reading 40 partition directories submits no listing job") {
    assert(spark.conf.get(ThresholdKey) === Int.MaxValue.toString)
    val dir = partitionedDir(40)
    val (df, jobs) = jobsDuring(spark.read.schema(dataSchema).parquet(dir))
    assert(jobs === 0)
    assert(df.schema.fieldNames.toSeq === Seq("id", "user_name"))
    assert(df.count() === 40)
  }

  test("control: Spark's default threshold does list with a job") {
    val dir = partitionedDir(40)
    spark.conf.set(ThresholdKey, "32")
    try assert(jobsDuring(spark.read.schema(dataSchema).parquet(dir))._2 > 0)
    finally spark.conf.set(ThresholdKey, Int.MaxValue.toString)
  }
}
