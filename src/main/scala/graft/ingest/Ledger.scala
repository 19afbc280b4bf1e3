package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent-ingest ledger (SURVEY §2.1 S5/S16/S18, §2.3 J2).
  *
  * The reference keeps a `processed_files` table keyed by filename
  * (ingest_job.py:58-88) or SHA-256 content hash (analysis.ipynb
  * `get_file_hash`) and skips files already seen — exactly-once effect for
  * a at-least-once file watcher. Spark-native form, two-stage so a tick
  * costs O(new bytes), not O(corpus bytes):
  *
  *  1. METADATA pre-filter: list candidates via the `binaryFile` source
  *     selecting only (path, length, modificationTime) — no file content is
  *     read for a metadata-only projection (S18: on S3A this is a LIST call
  *     per prefix) — and left-anti join against the ledger on that triple.
  *     Files already recorded with the same size+mtime are skipped without
  *     touching a byte.
  *  2. CONTENT hash: only the genuinely new paths are loaded and
  *     `sha2(content, 256)`-hashed; a second left-anti join on the hash
  *     drops renamed copies of already-processed bytes (the notebook's
  *     stronger variant), and byte-identical files landing in the same
  *     tick are processed once. Renamed copies are still APPENDED to the
  *     ledger (as seen-paths) so the next tick's metadata filter skips
  *     them too.
  *
  * Structured Streaming's checkpoint file-log (graft.streaming) gives
  * filename-level exactly-once for free; this ledger is the batch-mode and
  * content-hash path.
  */
object Ledger {

  val LedgerSchema =
    "content_hash STRING, path STRING, length LONG, modification_time TIMESTAMP, processed_at TIMESTAMP"

  /** Candidate file METADATA only — the binaryFile source prunes the
    * `content` column away, so listing is free of data reads.
    * `pathGlobFilter` implements the extension predicate (S4) at listing
    * time. */
  def fileMeta(spark: SparkSession, inDir: String, glob: String = "*.{txt,json}"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(inDir)
      .select(col("path"), col("length"),
        col("modificationTime").as("modification_time"))

  /** Content hashes for an explicit path list — only these files are read. */
  def hashPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile")
      .load(paths: _*)
      .select(
        sha2(col("content"), 256).as("content_hash"),
        col("path"),
        col("length"),
        col("modificationTime").as("modification_time"))

  /** Ledger table read; empty frame with the right schema before the first
    * append. The schema is declared, not inferred: parquet schema
    * inference runs a Spark job over the footers on every read, twice a
    * tick. (Local-path check; on a cluster the ledger is a catalog table
    * and this becomes spark.table.) */
  def readLedger(spark: SparkSession, ledgerDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(LedgerSchema)
    if (new java.io.File(ledgerDir).exists()) spark.read.schema(schema).parquet(ledgerDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Files not yet processed: left-anti on content hash. */
  def newFiles(candidates: DataFrame, ledger: DataFrame): DataFrame =
    candidates.join(
      ledger.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** One idempotent batch tick. Returns the number of newly PROCESSED files
    * (renamed copies of already-seen bytes are ledgered but not processed).
    *
    * Both anti-join results are COLLECTED snapshots, not lazy plans:
    * re-executing the plan would re-list the directory, so a file landing
    * mid-tick would be written to the ledger without ever being processed —
    * silently lost forever. The collected lists are file names/hashes, not
    * data, and every one is BOUNDED by `maxFilesPerTick` (round-7 review:
    * the first scan of a 100 M-object bucket would otherwise materialize
    * every path on the driver) — the remainder lands on subsequent ticks,
    * the same admission control as Structured Streaming's
    * `maxFilesPerTrigger`. At continuous-ingest scale prefer the streaming
    * checkpoint path (graft.streaming.StreamingIngest), whose file-source
    * log never round-trips the full listing through a collect. */
  def ingestTick(spark: SparkSession, inDir: String, ledgerDir: String,
                 maxFilesPerTick: Int = 10000)
                (process: Seq[String] => Unit): Long = {
    val ledger = readLedger(spark, ledgerDir)
    // Stage 1: metadata-only anti-join — already-ledgered (path,len,mtime)
    // triples are skipped with zero content reads. The limit caps the
    // driver-side snapshot; WHICH files make this tick is arbitrary, the
    // rest are still fresh next tick (no ordering guarantee needed for
    // idempotent ingest).
    val seenMeta = ledger.select(col("path"), col("length"), col("modification_time"))
    val freshPaths = fileMeta(spark, inDir)
      .join(seenMeta, Seq("path", "length", "modification_time"), "left_anti")
      .select(col("path")).limit(maxFilesPerTick)
      .collect().map(_.getString(0)).toSeq // bounded: maxFilesPerTick
    if (freshPaths.isEmpty) return 0L

    // Stage 2: hash ONLY the fresh paths — collected ONCE so content is
    // read exactly once — then a content anti-join (over the in-memory
    // snapshot) drops renamed copies of bytes the ledger has already seen.
    val hashedSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructType.fromDDL(LedgerSchema)
        .filterNot(_.name == "processed_at"))
    val hashedRows = hashPaths(spark, freshPaths).collect() // bounded: maxFilesPerTick
    val hashedDf = spark.createDataFrame(
      java.util.Arrays.asList(hashedRows: _*), hashedSchema)
    // The anti-join only sees the PRIOR ledger, so byte-identical files
    // landing in the same tick all survive it: keep one per content hash
    // (the smallest path, so the choice is deterministic). The others are
    // ledgered below as seen copies, like renamed copies of older files.
    val rows = newFiles(hashedDf, ledger)
      .select(col("content_hash"), col("path"), col("length"), col("modification_time"))
      .collect() // bounded: maxFilesPerTick
      .groupBy(_.getString(0)).values.map(_.minBy(_.getString(1)))
      .toArray.sortBy(_.getString(1))
    if (rows.nonEmpty) process(rows.map(_.getString(1)).toSeq)

    // Ledger append: processed files AND copies of seen or just-processed
    // bytes (so the next tick's metadata filter skips them without
    // re-reading).
    val processedPaths = rows.map(_.getString(1)).toSet
    val dupRows = hashedRows.filterNot(r => processedPaths.contains(r.getString(1)))
    val appendRows = rows ++ dupRows
    if (appendRows.nonEmpty) {
      spark.createDataFrame(java.util.Arrays.asList(appendRows: _*), hashedSchema)
        .withColumn("processed_at", current_timestamp())
        .write.mode("append").parquet(ledgerDir)
    }
    rows.length.toLong
  }
}
