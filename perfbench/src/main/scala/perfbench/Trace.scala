package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span: jobs, tasks and bytes from the
  * SparkListener, plan phases and scan bytes from the
  * QueryExecutionListener. Written by the listener-bus thread, read by the
  * benchmark's thread only after the bus has drained. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskMs, waitMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, scan = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val taskSpans = ArrayBuffer.empty[(Long, Long)]
  /** (columns read, bytes) per file scan, for the scan self-check. */
  val scans = ArrayBuffer.empty[(Seq[String], Long)]

  def add(o: Work): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; waitMs += o.waitMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; scan += o.scan
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    taskSpans ++= o.taskSpans; scans ++= o.scans
  }

  /** Milliseconds of [start, end] during which no task ran. */
  def idleMs(start: Long, end: Long): Long = synchronized {
    var covered = 0L
    var reach = start
    for ((a, b) <- taskSpans.sortBy(_._1)) {
      val lo = math.max(a, reach); val hi = math.min(b, end)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, end - start - covered)
  }
}

final case class Span(id: Int, name: String, parent: Int, start: Long) {
  var end = 0L
  val work = new Work
  def seconds: Double = (end - start) / 1e9
}

/** Spans opened at each call boundary (workload → pass → visit/tick →
  * layer call), kept in memory and written out at the end. With tracing
  * on, every Spark job is tagged with the innermost open span through a
  * thread-local property, so the listeners can attribute jobs, tasks and
  * bytes to it. With tracing off nothing is registered and spans only
  * carry wall time. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val SpanKey = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[Work]()
  /** Streaming progress: (numInputRows, durationMs by phase) per batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(byId.get(id.toInt)))

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.work.synchronized { s.work.jobs += 1; s.work.stages += e.stageInfos.size }
        e.stageInfos.foreach(i => stageSpan.put(i.stageId, s.id))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byId.get(stageSpan.getOrDefault(e.stageId, -1))
      if (s != null && e.taskInfo != null) {
        val w = s.work
        val i = e.taskInfo
        w.synchronized {
          w.tasks += 1
          w.taskMs += i.duration
          w.taskSpans += ((i.launchTime, i.finishTime))
          w.waitMs += math.max(0L, i.launchTime - stageSubmit.getOrDefault(e.stageId, i.launchTime))
          val m = e.taskMetrics
          if (m != null) {
            w.gcMs += m.jvmGCTime
            w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          }
        }
      }
    }
  }

  /** Last seen value of each file-scan metric, by metric id. */
  private val scanSeen = new ConcurrentHashMap[Long, Long]()

  /** Plan phases and file-scan bytes, from every finished execution —
    * the `noop` write's plan included. Scan bytes are the scan node's
    * `filesSize` SQL metric (bytes of the files the scan selected), never
    * `TaskMetrics.inputMetrics`, which also counts cached-block reads.
    * Scans inside a cached relation's plan count only when their metric
    * grew, i.e. when this execution materialized the cache. */
  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) {
        case f: FileSourceScanExec => Seq(f)
        case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
      }.flatten

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val w = new Work
      phases(w, qe)
      for (f <- fileScans(qe.executedPlan); m <- f.metrics.get("filesSize")) {
        val bytes = m.value - scanSeen.getOrDefault(m.id, 0L)
        scanSeen.put(m.id, m.value)
        if (bytes > 0) {
          w.scan += bytes
          w.scans += ((f.requiredSchema.fieldNames.toSeq, bytes))
        }
      }
      pendingQe.add(w)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      progress.add((e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  private def phases(w: Work, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    w.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    w.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    w.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  /** Adds the plan phases a DataFrame went through while it was built
    * (analysis happens there; its execution runs under a new plan). */
  def built(qe: QueryExecution): Unit =
    if (tracing) stack.headOption.filter(_ >= 0).foreach(id => phases(byId.get(id).work, qe))

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private var act = true
  /** Whether spans tag jobs and collect engine work right now; a traced
    * run switches this off for the passes that measure its overhead. */
  def tracing: Boolean = on && act
  def active: Boolean = act
  def active_=(b: Boolean): Unit = {
    if (b && !act) { drain(); pendingQe.clear() }
    act = b
  }

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.head, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack = s.id :: stack
    val traced = tracing
    if (traced) spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      if (traced) {
        drain()
        var w = pendingQe.poll()
        while (w != null) { s.work.add(w); w = pendingQe.poll() }
      }
      stack = stack.tail
      if (traced) spark.sparkContext.setLocalProperty(SpanKey,
        if (stack.head < 0) null else stack.head.toString)
    }
  }

  /** The most recent span named `name`. */
  def last(name: String): Span = spans.findLast(_.name == name).get

  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id).toSeq

  /** Engine work of `s` and all its descendants. */
  def total(s: Span): Work = {
    val w = new Work
    w.add(s.work)
    children(s).foreach(c => w.add(total(c)))
    w
  }

  /** Seconds of `s` not covered by its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    val w = s.work
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end,
      "self_s" -> selfSeconds(s), "jobs" -> w.jobs, "tasks" -> w.tasks,
      "task_s" -> w.taskMs / 1e3, "shuffle_read_b" -> w.shuffleRead,
      "shuffle_write_b" -> w.shuffleWrite, "scan_b" -> w.scan)
  }.mkString("[\n", ",\n", "\n]\n")
}
