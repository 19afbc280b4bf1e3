package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.pipeline.EventsPipeline

class MedallionSpec extends SparkSpecBase {

  test("materialize writes partitioned bronze/silver/gold that reconcile") {
    val out = tmpDir("medallion-")
    Medallion.materialize(spark, sf, out)
    assert(new java.io.File(s"$out/bronze/user_id=1").exists())
    assert(new java.io.File(s"$out/silver/user_id=1").exists())
    val bronzeCnt = spark.read.parquet(s"$out/bronze").count()
    val silverCnt = spark.read.parquet(s"$out/silver").count()
    val goldSum = spark.read.parquet(s"$out/gold")
      .agg(sum("listen_count")).head().getLong(0)
    assert(bronzeCnt === 1000)
    assert(silverCnt <= bronzeCnt)
    assert(goldSum === silverCnt)
  }

  test("readTier restores the writer's schema exactly (no partition-column type drift)") {
    val out = tmpDir("medallion-schema-")
    Medallion.materialize(spark, sf, out)
    val inMem = EventsPipeline.silverOf(EventsPipeline.bronze(spark, sf))
    // raw read infers user_id (a partition dir key) as IntegerType — the
    // silent drift the advisor flagged; readTier must undo it
    val raw = spark.read.parquet(s"$out/silver")
    assert(raw.schema("user_id").dataType !== inMem.schema("user_id").dataType)
    val fixed = Medallion.readTier(spark, s"$out/silver", inMem.schema)
    assert(fixed.schema === inMem.schema)
  }

  test("schema-evolved epochs reconcile on disk via mergeSchema + coalesce") {
    val out = tmpDir("epochs-")
    val silver = EventsPipeline.silver(spark, sf)
    Medallion.writeGoldEpochs(silver, out)
    val read = Medallion.readGoldEpochs(spark, out)
    assert(read.filter(col("n").isNull).count() === 0)
    val expected = EventsPipeline.goldDailyOf(silver).count()
    assert(read.count() === expected)
  }

  test("ndjson roundtrip preserves rows and values") {
    val direct = EventsPipeline.bronze(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "prop_k", "event_date")
    val viaJson = Medallion.ndjsonRoundtrip(spark, sf, maxEventId = 2000)
    assert(viaJson.count() === direct.count())
    assert(viaJson.except(direct).count() === 0)
  }

  test("xml roundtrip restores gold daily bit-exactly through element text") {
    val direct = EventsPipeline.goldDaily(spark, sf)
      .orderBy(col("user_id").asc, col("event_date").asc)
    val viaXml = Medallion.goldXmlRoundtrip(spark, sf)
    // file reads are nullable-by-construction, so compare names + types
    assert(viaXml.schema.map(f => (f.name, f.dataType)) ===
      direct.schema.map(f => (f.name, f.dataType)),
      "explicit read schema must survive the stringly-typed trip")
    assert(viaXml.collect().toSeq === direct.collect().toSeq)
  }

  test("DDL + writerV2 table roundtrip through the session catalog") {
    val gold = EventsPipeline.goldDaily(spark, sf)
    Medallion.writeTable(gold, "graft_test.gold_daily")
    val back = Medallion.readTable(spark, "graft_test.gold_daily")
    assert(back.count() === gold.count())
    assert(spark.sql("SHOW TABLES IN graft_test").count() >= 1)
    spark.sql("DROP TABLE graft_test.gold_daily")
  }

  test("compaction collapses a small-file table preserving content") {
    val smallDir = tmpDir("compact-in-")
    val outDir = tmpDir("compact-out-") + "/t"
    val src = graft.core.Tables.events(spark, sf).limit(2000)
    src.repartition(40).write.mode("overwrite").parquet(smallDir)
    val before = new java.io.File(smallDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before === 40)
    // ~2000 rows of events is well under one 1 MB target file
    val after = Medallion.compact(spark, smallDir, outDir, targetBytes = 1L << 20)
    assert(after < before / 10, s"expected big collapse, got $after files")
    val a = spark.read.parquet(smallDir)
    val b = spark.read.parquet(outDir)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("retention sweep deletes expired event_date partitions, keeps the rest intact") {
    import org.apache.spark.sql.functions._
    val gold = graft.pipeline.EventsPipeline.goldDaily(spark, sf)
    val path = tmpDir("retention-gold")
    gold.write.mode("overwrite").partitionBy("event_date").parquet(path)
    val cutoff = gold.agg(date_sub(max(col("event_date")), 7)).head().getDate(0)
      .toLocalDate
    val expectExpired = gold
      .filter(col("event_date") < lit(java.sql.Date.valueOf(cutoff)))
      .select("event_date").distinct().count()
    val removed = Medallion.retentionSweep(spark, path, cutoff)
    assert(removed.toLong === expectExpired, s"removed $removed of $expectExpired")
    // survivors read back exactly as the filtered frame
    val kept = spark.read.parquet(path)
    val expected = gold.filter(col("event_date") >= lit(java.sql.Date.valueOf(cutoff)))
    assert(kept.count() === expected.count())
    assert(kept.select(sum("listen_count")).head().getLong(0) ===
      expected.select(sum("listen_count")).head().getLong(0))
    // idempotent: a second sweep removes nothing
    assert(Medallion.retentionSweep(spark, path, cutoff) === 0)
  }

  test("file lineage from _metadata matches the logical key census") {
    val lineage = Medallion.fileLineage(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(lineage.nonEmpty)
    // the repartition-by-key write guarantees one physical file per dir
    assert(lineage.forall(_._2 == 1L), s"expected 1 file/dir: ${lineage.toSeq}")
    // the path-derived census must equal the data's own key census
    val expected = graft.core.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id")))
      .collect()
      .map(r => (r.getString(0), 1L, r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(lineage.toSeq === expected.toSeq)
  }

  test("binary ingest: every blob byte-verified, totals match the carve") {
    val out = Medallion.binaryIngestCensus(spark, sf).collect()
    assert(out.nonEmpty)
    // every written blob must md5-verify against its source text
    out.foreach { r =>
      assert(r.getLong(3) === r.getLong(1),
        s"byte integrity failed for ${r.getString(0)}: $r")
    }
    val expected = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 7 === 0)
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("b")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.foreach { r =>
      val (n, b) = expected(r.getString(0))
      assert(r.getLong(1) === n && r.getLong(2) === b, s"census drift: $r")
    }
    // memoized scratch: a second call reuses the written files
    val again = Medallion.binaryIngestCensus(spark, sf).collect()
    assert(again.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }
}
