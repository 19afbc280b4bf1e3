package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; suites must not stop() it). sf0.001 keeps each suite fast. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` with the session conf `key` set to `value`, then the prior
    * value (or none) restored. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** [[withConf]] for several confs, the first outermost. */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = kvs match {
    case Seq() => body
    case (k, v) +: rest => withConf(k, v)(withConfs(rest: _*)(body))
  }

  /** `body` on the RocksDB state store provider. */
  def withRocksDB[T](body: => T): T = withConf(
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** `body`'s result and the jobs submitted from this thread while it runs
    * (job group tagged, so jobs of anything else sharing the session are
    * not counted). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-probe-${System.nanoTime}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs probe")
    val result = try body finally {
      sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    (result, jobs.get())
  }
}
