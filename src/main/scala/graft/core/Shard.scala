package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two contracts every blocked dedup family (q29 n-gram Jaccard, q51
  * embedding LSH, q204 perceptual hash, q323 edit distance) shares with
  * its DuckDB oracle, written once.
  *
  * '''Portable hash.''' [[md5Prefix]] is the first n hex digits of md5 as
  * a long, and [[duckMd5Prefix]] spells the same hash in DuckDB; these two
  * builders are the only places either engine writes it. [[h60]] is the
  * 15-digit width (60 bits, fits a signed long, never negative). md5 is a
  * codegen'd built-in on both sides, so no UDF is needed and both engines
  * put every row in the same bucket.
  *
  * '''Capped blocking.''' A block key (a length band, an LSH band value, a
  * hash band) groups candidate docs for a quadratic in-block comparison.
  * Blocks grow with the corpus, and template-heavy corpora concentrate
  * docs in a few of them, so in-block pairs can grow quadratically.
  * [[capped]] splits every block over [[Cap]] docs into ceil(docs/Cap)
  * md5 subshards of about Cap docs each. Pairs per block are then at most
  * n·(Cap−1)/2, which is LINEAR in the corpus. The recall loss is
  * confined to pairs split across the subshards of oversized blocks; the
  * other dedup families recover those. `ScaleGrowth` measures each
  * family's pair count against that bound. */
object Shard {

  /** Most docs a subshard may hold. */
  val Cap = 64

  /** The first `digits` hex digits of md5(c) as a long. Up to 15 digits
    * the value fits a signed long and is never negative. */
  def md5Prefix(c: Column, digits: Int): Column =
    conv(substring(md5(c), 1, digits), 16, 10).cast("long")

  /** The DuckDB twin of [[md5Prefix]], over a SQL expression. */
  def duckMd5Prefix(expr: String, digits: Int): String =
    s"CAST('0x' || substr(md5($expr), 1, $digits) AS BIGINT)"

  /** Portable 60-bit hash of a string expression. */
  def h60(c: Column): Column = md5Prefix(c, 15)

  /** `df` joined with its census on `keys`, plus `subshard` =
    * h60(doc_id) mod ceil(bdocs / [[Cap]]). The census is tiny (one row
    * per block), so the join is a broadcast. Block on `keys` plus
    * `subshard`. */
  def capped(df: DataFrame, keys: Seq[String]): DataFrame = {
    val census = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bdocs"))
    df.join(census, keys)
      .withColumn("subshard", h60(col("doc_id").cast("string")) %
        expr(s"(bdocs + ${Cap - 1}) div $Cap"))
  }

  /** The DuckDB twin of [[capped]]: the text of two CTEs, `census` and
    * `keyed` (every column of `from` plus `subshard`), for an oracle's
    * WITH list. Integer `//` equals Spark's `div` here, since every
    * operand is positive. */
  def duckCapped(from: String, keys: Seq[String]): String = {
    val k = keys.mkString(", ")
    s"""census AS (
       |  SELECT $k, COUNT(*) AS bdocs FROM $from GROUP BY $k),
       |keyed AS (
       |  SELECT m.*,
       |         ${duckMd5Prefix("CAST(m.doc_id AS VARCHAR)", 15)}
       |           % ((c.bdocs + ${Cap - 1}) // $Cap) AS subshard
       |  FROM $from m JOIN census c USING ($k))""".stripMargin
  }
}
