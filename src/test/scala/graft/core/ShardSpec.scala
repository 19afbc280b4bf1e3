package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.llm.{EmbedDedup, FuzzyMatch}

/** The capped-blocking contract every blocked dedup family and its oracle
  * share: block sizes, the linear pair bound, and the exact hash values
  * that decide every bucket. */
class ShardSpec extends SparkSpecBase {

  /** Σ n·(n−1)/2 over the (keys, subshard) blocks of `df`. */
  private def blockPairs(df: DataFrame, keys: String*): Long =
    df.groupBy((keys :+ "subshard").map(col): _*).count()
      .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
      .head().getLong(0)

  test("200 docs under one key split into ceil(200/Cap) = 4 subshards") {
    val df = spark.range(200).select(col("id").as("doc_id"), lit(7L).as("k"))
    val sizes = Shard.capped(df, Seq("k")).groupBy(col("subshard")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length === 4)
    assert(sizes.sum === 200L)
    assert(blockPairs(Shard.capped(df, Seq("k")), "k") <= 200L * (Shard.Cap - 1) / 2)
  }

  test("keys with at most Cap docs keep a single subshard") {
    val df = spark.range(1 + 63 + 64 + 65).select(col("id").as("doc_id"),
      when(col("id") < 1, 1).when(col("id") < 64, 63)
        .when(col("id") < 128, 64).otherwise(65).as("k"))
    val nsub = Shard.capped(df, Seq("k")).groupBy(col("k"))
      .agg(countDistinct(col("subshard")).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nsub === Map(1 -> 1L, 63 -> 1L, 64 -> 1L, 65 -> 2L))
  }

  test("EmbedDedup candidates: a 200-doc hot bucket stays under the pair bound") {
    // identical band values put all 200 docs in one bucket of every band;
    // the subshard depends only on doc_id, so each band pairs the same
    // subshards and the distinct candidates are one band's block pairs
    val bandVals = spark.range(200).select(col("id").as("doc_id") +:
      (0 until EmbedDedup.NumBands).map(b => lit(5L).as(s"band$b")): _*)
    val cands = EmbedDedup.candidates(bandVals).count()
    val keyed = Shard.capped(spark.range(200).select(col("id").as("doc_id"),
      lit(0).as("k")), Seq("k"))
    assert(cands === blockPairs(keyed, "k"))
    assert(cands <= 200L * (Shard.Cap - 1) / 2)
    Caches.releaseScratch(spark)
  }

  test("FuzzyMatch edit blocks: a 200-doc length band splits and bounds its pairs") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, "same text in every doc", "en", 100L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val blocks = FuzzyMatch.editBlocks(docs)
    assert(blocks.select(col("subshard")).distinct().count() === 4L)
    // identical texts: every same-subshard pair is a distance-0 dup
    val dups = FuzzyMatch.editDistanceDups(docs).count()
    assert(dups === blockPairs(blocks, "lang", "band"))
    assert(dups <= 200L * (Shard.Cap - 1) / 2)
  }

  test("h60 equals the first 15 hex digits of java md5 for fixed strings") {
    val inputs = Seq("", "0", "42", "graft", "split:7", "naïve text")
    def md5h60(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    import spark.implicits._
    val got = inputs.toDF("s").select(col("s"), Shard.h60(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach(s => assert(got(s) === md5h60(s), s"h60($s)"))
    // pinned literals: a refactor of either side cannot move a bucket
    assert(got("") === 0xd41d8cd98f00b20L)
    assert(got("0") === 0xcfcd208495d565eL)
  }
}
