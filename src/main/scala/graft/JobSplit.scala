package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.core.Sessions

/** Per-JOB wall-time split of one registered query — the diagnostic the
  * iterative-kernel optimization recipe starts from ("diagnose before
  * optimizing"): a warm, isolated run of `SparkEntry.queries(name)` with
  * a listener timing every Spark job the materialization schedules.
  * Reveals whether a query's cost is one heavy job (optimize the plan)
  * or many small ones (a job-count floor no plan change will move).
  *
  * Usage: JobSplit <sfDir> <queryName> [warmups=3]
  * Prints one line: `JOBSPLIT <name> j<id>:<sec> ... wall=<sec> njobs=N`.
  */
object JobSplit {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val warmups = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local(Sessions.defaultCpus, "graft-jobsplit")
    val q = SparkEntry.queries(name)
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val starts = scala.collection.mutable.HashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = System.nanoTime
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        jobs += ((j.jobId, (System.nanoTime - starts(j.jobId)) / 1e9))
      }
    })
    (1 to warmups).foreach { _ =>
      q(spark, dir).collect()
      graft.core.Caches.releaseScratch(spark)
    }
    jobs.synchronized(jobs.clear())
    val t0 = System.nanoTime
    q(spark, dir).collect()
    val wall = (System.nanoTime - t0) / 1e9
    graft.core.Caches.releaseScratch(spark)
    // listener events drain asynchronously; give the bus a beat
    Thread.sleep(500)
    val line = jobs.sortBy(_._1)
      .map { case (id, s) => f"j$id:$s%.3f" }.mkString(" ")
    println(f"JOBSPLIT $name $line wall=$wall%.3f njobs=${jobs.size}")
    spark.stop()
  }
}
