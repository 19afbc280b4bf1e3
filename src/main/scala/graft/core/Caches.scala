package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lifecycle for OPERATOR-LOCAL persists (round-3 review: TextDedup /
  * EmbedDedup / Similarity persisted shingle/TF/signature intermediates and
  * never released them, so a long-lived session accumulated every
  * invocation's scratch frames in the storage pool forever).
  *
  * The persists themselves are right — each intermediate is re-read 2-3×
  * inside one operator invocation — the missing piece was RELEASE. Operators
  * register ephemeral frames here via [[scratch]]; after the caller
  * materializes the operator's result it calls [[releaseScratch]] and every
  * scratch frame of the session is unpersisted. Bench and Verify do this
  * between queries; a long-lived service would do it per request.
  *
  * Deliberately NOT `spark.catalog.clearCache()`: that would also evict the
  * session-scoped silver materialization (graft.pipeline.EventsPipeline),
  * which is a by-design long-lived cache shared by 20+ reports, not scratch.
  *
  * Spark's CacheManager dedups identical logical plans, so re-registering
  * the same frame across invocations is safe (one cache entry, and a second
  * unpersist of the same plan is a no-op).
  */
object Caches {

  private val scratchFrames =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  /** Persist `df` as operator-scratch: cached for intra-operator reuse,
    * released by the next [[releaseScratch]] on its session. */
  def scratch(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    scratchFrames
      .computeIfAbsent(df.sparkSession, _ => new ConcurrentLinkedQueue[DataFrame]())
      .add(df)
    df
  }

  // ---- eager-localCheckpoint lifecycle (round-8 verdict, what's-wrong 2) --
  //
  // Iterative kernels (pagerank, k-core peel, connected components,
  // Bellman-Ford) replace a `.localCheckpoint(true)` frame every round and
  // drop the old reference. The checkpoint's persisted RDD blocks are only
  // freed when the DRIVER GC collects the RDD object — under a 24 GiB heap
  // with low allocation pressure that is effectively never, so a long
  // bench session accumulated hundreds of dead checkpoint blocks in the
  // storage pool (measured r8: peak RSS 19 → 42 GiB across runs). The fix
  // is explicit lifecycle: loops free each SUPERSEDED checkpoint the
  // moment its replacement has materialized ([[freeCheckpoint]]), and
  // register the FINAL checkpoint — which the returned result frame still
  // references — for end-of-query release ([[trackCheckpoint]], swept by
  // [[releaseScratch]] after the caller materializes the result).
  //
  // NOT for memo-backing checkpoints: a localCheckpoint truncates lineage,
  // so once freed it can never be recomputed — a frame that feeds a
  // long-lived FrameMemo (DupClusters.clustersFor) must keep its final
  // checkpoint alive for the session and stays out of this registry.

  private val ckptFrames =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  // Round-14: the RDD-loop kernels (pagerank/k-core/Bellman-Ford) hold
  // their final loop state as a persisted RDD that the returned result
  // frame reads lazily — same lifecycle as a tracked final checkpoint,
  // registered here and unpersisted by the next [[releaseScratch]].
  private val scratchRdds =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]]()

  /** Register a persisted RDD (the final state of an RDD-driven iterative
    * kernel, still read by the result frame) for release at the next
    * [[releaseScratch]] on `spark`. Returns `rdd` for chaining. */
  def trackRdd[T](spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    scratchRdds
      .computeIfAbsent(spark, _ => new ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]())
      .add(rdd)
    rdd
  }

  /** Immediately free the checkpoint blocks behind `df` (a frame produced
    * by `localCheckpoint(eager = true)`). The checkpointed plan is a
    * single [[LogicalRDD]] leaf holding the persisted RDD; anything else
    * is a no-op. Callers must only free frames nothing will read again —
    * a truncated-lineage RDD cannot be recomputed. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        try l.rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      case _ => ()
    }

  /** Register an already-checkpointed frame for release at the next
    * [[releaseScratch]] on its session (the final checkpoint of an
    * iterative kernel whose result frame is about to be materialized by
    * the caller). Returns `df` for chaining. */
  def trackCheckpoint(df: DataFrame): DataFrame = {
    ckptFrames
      .computeIfAbsent(df.sparkSession, _ => new ConcurrentLinkedQueue[DataFrame]())
      .add(df)
    df
  }

  /** Unpersist every scratch frame and tracked checkpoint registered on
    * `spark` since the last release. Non-blocking: block cleanup proceeds
    * asynchronously. */
  def releaseScratch(spark: SparkSession): Unit = {
    val q = scratchFrames.remove(spark)
    if (q != null) q.forEach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    val c = ckptFrames.remove(spark)
    if (c != null) c.forEach(freeCheckpoint)
    val r = scratchRdds.remove(spark)
    if (r != null) r.forEach { rdd =>
      try rdd.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
  }

  /** Number of registered-but-unreleased scratch frames (test hook). */
  def pendingScratch(spark: SparkSession): Int = {
    val q = scratchFrames.get(spark)
    if (q == null) 0 else q.size()
  }

  /** Number of tracked-but-unreleased final checkpoints (test hook). */
  def pendingCheckpoints(spark: SparkSession): Int = {
    val q = ckptFrames.get(spark)
    if (q == null) 0 else q.size()
  }

  // ---- per-session scratch directories ------------------------------------

  private val scratchDirs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, String]]())

  /** Every scratch dir ever created, deleted on JVM exit. */
  private val allScratchDirs = ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    allScratchDirs.forEach { d =>
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(d)).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }))

  /** A temp dir memoized per (session, `key`): `build` writes it once, and
    * later calls with the same key return the same path, so repeat
    * invocations in a session measure the READ of a write-once table.
    * Keys are global across callers, so prefix them with the caller's
    * name. The dir is deleted on JVM exit. */
  def scratchDir(spark: SparkSession, key: String)(build: String => Unit): String =
    scratchDirs.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, String]())
      .computeIfAbsent(key, { _ =>
        val d = Files.createTempDirectory("graft-scratch-").toString
        allScratchDirs.add(d)
        build(d)
        d
      })
}
