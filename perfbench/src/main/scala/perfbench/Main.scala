package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.{Caches, Sessions}
import graft.ingest.{Ledger, ListenIngest}
import graft.pipeline.EventsPipeline
import graft.streaming.StreamingIngest

/** One benchmark run in a fresh JVM: set up, run the workload closed-loop
  * (one client) for a fixed window, run the untimed output phase, and
  * write the run record. Launched by `perfbench/run.py`.
  *
  * Arguments (all `--key value`): workload, data, work, seconds, seed,
  * trace (0|1), cores, warm (warm-up passes or ticks), min-passes (least
  * timed passes), out (record path),
  * and for `ingest` rows (valid listens per tick) and copy-rows (listens
  * in the tick's renamed copy). */
object Main {
  /** The reference report set (short queries over the memoized silver)
    * plus heavy kernels — text dedup, ANN, graph, star scan — each with
    * the module owning the public function its SparkEntry entry calls. */
  val Queries: Seq[(String, String)] =
    Seq("q10_bronze_flatten", "q11_silver_dedup", "q12_gold_daily",
        "q13_gold_top3_days").map(_ -> "pipeline") ++
    Seq("q14_top_users", "q15_first_event", "q16_users_on_date",
        "q17_distinct_dates", "q18_active_7day", "q19_hourly_activity",
        "q20_monthly_trends", "q21_diversity", "q22_user_profile",
        "q23_daily_profile", "q24_top_types", "q25_running_totals")
      .map(_ -> "analytics") ++
    Seq("q39_sql_top_users", "q40_sql_active_7day", "q41_sql_first_event")
      .map(_ -> "sql") ++
    Seq("q27_minhash_neardups", "q35_knn_lsh").map(_ -> "llm") ++
    Seq("q227_pagerank_converged", "q01_pricing_summary").map(_ -> "analytics")

  val Modules = Seq("pipeline", "analytics", "sql", "llm")

  final class Run(args: Map[String, String]) {
    val workload = args("workload")
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val warm = args("warm").toInt
    val minPasses = args("min-passes").toInt

    val t0 = System.nanoTime()
    val spark: SparkSession = Sessions.local(cores, "perfbench")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark, traced)
    val record = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var attempted, failed = 0L
    var setupEndMs = 0L
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val opSeconds = mutable.ArrayBuffer.empty[Double]

    /** A traced run runs at least 4 passes and traces them in the order
      * traced, untraced, untraced, traced (repeating), so it states its
      * own tracing overhead with a linear warm-up drift cancelled out. */
    def window(pass: Int => Unit): Unit = {
      // the window starts from a collected heap, so set-up garbage does
      // not fall into its first pass
      record("live_heap_mib") = liveHeapMib()
      setupEndMs = System.currentTimeMillis()
      val start = System.nanoTime()
      var i = 0
      val least = if (traced) math.max(4, minPasses) else minPasses
      while (i < least || (System.nanoTime() - start) / 1e9 < seconds) {
        val tracedPass = traced && (i % 4 == 0 || i % 4 == 3)
        tr.active = tracedPass
        val name = if (traced && !tracedPass) "pass.untraced" else "pass"
        tr(name)(pass(i))
        i += 1
      }
      tr.active = true
      val passes = tr.spans.filter(_.name == "pass").map(_.seconds)
      passSeconds ++= passes
      if (traced) {
        val plain = tr.spans.filter(_.name == "pass.untraced").map(_.seconds)
        layer("trace.overhead_pct") = 100 * (median(passes.toSeq) / median(plain.toSeq) - 1)
      }
    }

    // ------------------------------------------------------ query workloads

    def queries(set: Seq[(String, String)]): Unit = {
      val fns = SparkEntry.queries
      var memoMisses = 0L
      val memoHit = mutable.Set.empty[Int]
      var memoBuild = 0.0
      def noop(q: String, df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // the cold pass writes every result: the oracle check's input
      def output(q: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$work/results/$q")
      def visit(q: String, mod: String,
          sink: (String, DataFrame) => Unit = noop): Unit = tr(s"visit $q") {
        val start = System.nanoTime()
        val before = EventsPipeline.cachedDirCount(spark)
        attempted += 1
        try {
          val df = tr(s"$mod.build") {
            val df = fns(q)(spark, data)
            tr.built(df.queryExecution)
            df
          }
          tr(s"$mod.exec")(sink(q, df))
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
        }
        tr("core.release")(Caches.releaseScratch(spark))
        layerAdd("core.scratch_pending_after", Caches.pendingScratch(spark))
        val after = EventsPipeline.cachedDirCount(spark)
        if (after > before) {
          memoMisses += 1
          memoBuild += (System.nanoTime() - start) / 1e9
        } else if (after > 0) memoHit += tr.last(s"visit $q").id
      }
      tr("setup.cold")(set.foreach { case (q, m) => visit(q, m, output) })
      for (p <- 0 until warm) tr("setup.warm")(set.foreach { case (q, m) => visit(q, m) })
      layer.clear()
      // the visit order is shuffled each pass, from the run's seed
      val rng = new scala.util.Random(seed)
      window { _ =>
        rng.shuffle(set).foreach { case (q, m) =>
          visit(q, m)
          opSeconds += tr.last(s"visit $q").seconds
        }
      }
      val timedPasses = tr.spans.filter(_.name == "pass")
      val nPass = timedPasses.size.toDouble
      layer("core.silver_memo_build_s") = memoBuild
      layer("core.silver_memo_misses") = memoMisses.toDouble
      val visits = timedPasses.flatMap(tr.children)
      layer("core.silver_memo_hits") = visits.count(v => memoHit(v.id)) / nPass
      val release = visits.flatMap(tr.children).filter(_.name == "core.release")
      layer("core.scratch_release_s") = mean(release.map(_.seconds).toSeq)
      layer("core.scratch_pending_after") =
        layer.getOrElse("core.scratch_pending_after", 0.0) / math.max(1, opSeconds.size)
      for (m <- Modules) {
        val calls = visits.flatMap(tr.children)
        val builds = calls.filter(_.name == s"$m.build")
        val execs = calls.filter(_.name == s"$m.exec")
        val bw = new Work; builds.foreach(s => bw.add(s.work))
        val ew = new Work; execs.foreach(s => ew.add(s.work))
        val all = new Work; all.add(bw); all.add(ew)
        val execS = execs.map(_.seconds).sum
        val mb = 1024.0 * 1024.0
        layer(s"$m.build_s") = builds.map(_.seconds).sum / nPass
        layer(s"$m.eager_jobs") = bw.jobs / nPass
        layer(s"$m.exec_s") = execS / nPass
        layer(s"$m.task_s") = ew.taskMs / 1e3 / nPass
        layer(s"$m.parallel_eff") =
          if (execS > 0) ew.taskMs / 1e3 / (execS * cores) else 0.0
        layer(s"$m.shuffle_read_mb") = all.shuffleRead / mb / nPass
        layer(s"$m.shuffle_write_mb") = all.shuffleWrite / mb / nPass
        layer(s"$m.scan_mb") = all.scan / mb / nPass
        layer(s"$m.spill_mb") = all.spill / mb / nPass
        layer(s"$m.gc_s") = all.gcMs / 1e3 / nPass
      }
      engineLayer(visits.toSeq)
      if (traced) scanSelfCheck(visits.toSeq)

      val oracle = SparkEntry.oracleSql
      record("oracle_sql") = set.map { case (q, _) => q -> oracle(q) }.toMap
    }

    /** Engine phases per visit: Catalyst phase times, jobs/stages/tasks,
      * time tasks waited between stage submit and launch, and execution
      * wall time with no task running. */
    def engineLayer(ops: Seq[Span]): Unit = {
      val n = math.max(1, ops.size).toDouble
      val ws = ops.map(tr.total)
      layer("spark.analysis_s") = ws.map(_.analysisMs).sum / 1e3 / n
      layer("spark.optimization_s") = ws.map(_.optimizationMs).sum / 1e3 / n
      layer("spark.planning_s") = ws.map(_.planningMs).sum / 1e3 / n
      layer("spark.jobs") = ws.map(_.jobs).sum / n
      layer("spark.stages") = ws.map(_.stages).sum / n
      layer("spark.tasks") = ws.map(_.tasks).sum / n
      layer("spark.task_wait_s") = ws.map(_.waitMs).sum / 1e3 / n
      val execs = ops.flatMap(tr.children).filter(_.name.endsWith(".exec"))
      layer("spark.driver_only_s") = execs.map { s =>
        tr.total(s).idleMs(s.start / 1000000 + nanoToEpochMs, s.end / 1000000 + nanoToEpochMs) / 1e3
      }.sum / n
    }

    /** Task launch/finish times are epoch ms; spans are nanoTime. */
    val nanoToEpochMs: Long = System.currentTimeMillis() - System.nanoTime() / 1000000

    /** q01 reads one file: its scan bytes and read columns, so the check
      * can compare them with the file's projected-column bytes. */
    def scanSelfCheck(visits: Seq[Span]): Unit =
      visits.find(_.name == "visit q01_pricing_summary").foreach { v =>
        tr.total(v).scans.headOption.foreach { case (cols, bytes) =>
          record("scan_check") = Map("query" -> "q01_pricing_summary",
            "table" -> "lineitem", "columns" -> cols, "scan_bytes" -> bytes)
        }
      }

    // ------------------------------------------------------ ingest workload

    def ingest(): Unit = {
      val rowsPerTick = args("rows").toLong
      val copyRows = args("copy-rows").toLong
      val staging = new File(s"$data/listens")
      val ticks = staging.listFiles().filter(_.getName.startsWith("tick_"))
        .sortBy(_.getName)
      val landing = s"$work/landing"
      val bronze = s"$work/bronze"
      val streamBronze = s"$work/stream_bronze"
      val (ledger, ckpt) = (s"$work/ledger", s"$work/checkpoint")
      val (silverDir, goldDir, top3Dir) = (s"$work/silver", s"$work/gold", s"$work/top3")
      new File(landing).mkdirs()
      val perTick = mutable.ArrayBuffer.empty[Map[String, Any]]
      var k = 0

      def read(dir: String): DataFrame = spark.read.parquet(dir)
      def tick(): Unit = {
        if (k >= ticks.length) throw new IllegalStateException(
          s"only ${ticks.length} ticks were generated; raise the tick count")
        val files = ticks(k).listFiles().sortBy(_.getName)
        // landing is the input's arrival, not the system's work
        val landedBytes = files.filter(_.getName.startsWith("listens_")).map(_.length).sum
        files.foreach(f => Files.move(f.toPath, Paths.get(landing, f.getName),
          StandardCopyOption.ATOMIC_MOVE))
        var corrupt = 0L
        attempted += 4
        val n = tr("ingest.tick") {
          Ledger.ingestTick(spark, landing, ledger) { paths =>
            val names = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
            val raw = tr("ingest.parse_write") {
              val raw = ListenIngest.readRaw(spark, s"$landing/{${names.mkString(",")}}")
              ListenIngest.writeBronze(ListenIngest.bronze(raw), s"$bronze/tick=$k")
              raw
            }
            if (tr.tracing) corrupt = tr("ingest.corrupt_count") {
              raw.filter(col(ListenIngest.CorruptCol).isNotNull).count()
            }
            tr("core.release")(Caches.releaseScratch(spark))
          }
        }
        val again = tr("ingest.noop") {
          Ledger.ingestTick(spark, landing, ledger) { _ =>
            throw new IllegalStateException("second tick found new files")
          }
        }
        val streamFilesBefore = if (tr.tracing) parquetFiles(streamBronze) else (0L, 0L)
        val streamRowsBefore = if (tr.tracing) countOr0(streamBronze) else 0L
        tr.progress.clear()
        tr("streaming.run")(StreamingIngest.runOnce(spark, landing, streamBronze, ckpt))
        val bronzeFiles = if (tr.tracing) parquetFiles(bronze)._1 else 0L
        tr("ingest.refresh") {
          tr("ingest.refresh_silver") {
            ListenIngest.silver(read(bronze)).write.mode("overwrite").parquet(silverDir)
          }
          tr("ingest.refresh_gold") {
            ListenIngest.goldDaily(read(silverDir)).write.mode("overwrite").parquet(goldDir)
            ListenIngest.goldTop3Days(read(goldDir)).write.mode("overwrite").parquet(top3Dir)
          }
        }
        val stats = mutable.LinkedHashMap[String, Any](
          "tick" -> k, "new" -> n, "again" -> again, "landed" -> files.length,
          "landed_bytes" -> landedBytes)
        if (tr.tracing) {
          val (wf, wb) = parquetFiles(s"$bronze/tick=$k")
          val (sf, _) = parquetFiles(streamBronze)
          val prog = tr.progress.toArray(Array.empty[(Long, Map[String, Long])])
          stats ++= Seq("corrupt" -> corrupt, "files_written" -> wf, "bytes_written" -> wb,
            "refresh_files_read" -> bronzeFiles,
            "stream_files_written" -> (sf - streamFilesBefore._1),
            "stream_input_rows" -> prog.map(_._1).sum,
            "stream_rows" -> (countOr0(streamBronze) - streamRowsBefore))
          for (ph <- Seq("getBatch", "addBatch", "queryPlanning", "walCommit"))
            stats(s"trigger_ms.$ph") = prog.map(_._2.getOrElse(ph, 0L)).sum
        }
        perTick += stats.toMap
        k += 1
      }

      for (_ <- 0 until warm) tr("setup.warm")(tick())
      layer.clear()
      val firstTimed = perTick.size
      window(_ => tick())
      for (s <- tr.spans.filter(_.name == "pass"); c <- tr.children(s))
        opSeconds += c.seconds

      val timed = tr.spans.filter(_.name == "pass")
      def stepSecs(name: String): Seq[Double] =
        timed.flatMap(tr.children).filter(_.name == name).map(_.seconds).toSeq
      def sub(name: String): Seq[Double] =
        timed.flatMap(tr.children).flatMap(tr.children).filter(_.name == name).map(_.seconds).toSeq
      val tickS = stepSecs("ingest.tick")
      val callback = timed.flatMap(tr.children).filter(_.name == "ingest.tick")
        .map(t => tr.children(t).map(_.seconds).sum).toSeq
      val tracedTicks = perTick.drop(firstTimed).filter(_.contains("corrupt"))
      def tickMean(key: String): Double =
        mean(tracedTicks.map(_(key).toString.toDouble).toSeq)
      layer("ingest.rows_per_s") = rowsPerTick / median(tickS)
      layer("streaming.rows_per_s") = (rowsPerTick + copyRows) / median(stepSecs("streaming.run"))
      layer("ingest.refresh_s") = median(stepSecs("ingest.refresh"))
      layer("ingest.ledger_s") = mean(tickS.zip(callback).map { case (a, b) => a - b })
      layer("ingest.ledger_noop_s") = mean(stepSecs("ingest.noop"))
      val timedTicks = perTick.drop(firstTimed).toSeq
      layer("ingest.files_new") = mean(timedTicks.map(_("new").toString.toDouble))
      layer("ingest.files_dup_skipped") =
        mean(timedTicks.map(t => t("landed").toString.toDouble - t("new").toString.toDouble))
      layer("ingest.parse_write_s") = mean(sub("ingest.parse_write"))
      layer("core.scratch_release_s") = mean(sub("core.release"))
      layer("ingest.refresh_silver_s") = mean(sub("ingest.refresh_silver"))
      layer("ingest.refresh_gold_s") = mean(sub("ingest.refresh_gold"))
      layer("streaming.run_s") = mean(stepSecs("streaming.run"))
      if (tracedTicks.nonEmpty) {
        layer("ingest.corrupt_rows") = tickMean("corrupt")
        layer("ingest.files_written") = tickMean("files_written")
        layer("ingest.bytes_written") = tickMean("bytes_written")
        layer("ingest.bronze_bytes_per_input_byte") =
          tickMean("bytes_written") / tickMean("landed_bytes")
        layer("ingest.refresh_files_read") = tickMean("refresh_files_read")
        layer("streaming.input_rows") = tickMean("stream_input_rows")
        layer("streaming.files_written") = tickMean("stream_files_written")
        layer("streaming.renamed_copy_rows") = tickMean("stream_rows") - rowsPerTick
        for (ph <- Seq("getBatch", "addBatch", "queryPlanning", "walCommit"))
          layer(s"streaming.trigger_ms.$ph") = tickMean(s"trigger_ms.$ph")
      }
      engineLayer(timed.flatMap(tr.children).toSeq)

      // untimed output phase: cumulative counts after the last tick
      tr("check") {
        record("counts") = Map(
          "ticks" -> k,
          "bronze_rows" -> read(bronze).count(),
          "silver_rows" -> read(silverDir).count(),
          "gold_rows" -> read(goldDir).count(),
          "top3_rows" -> read(top3Dir).count(),
          "stream_rows" -> read(streamBronze).count(),
          "ledger_rows" -> read(ledger).count())
      }
      record("ticks") = perTick.toSeq
    }

    def parquetFiles(dir: String): (Long, Long) = {
      val root = new File(dir)
      if (!root.exists()) (0L, 0L)
      else {
        val fs = Files.walk(root.toPath).iterator()
        var n, b = 0L
        while (fs.hasNext) {
          val p = fs.next()
          if (p.getFileName.toString.endsWith(".parquet")) { n += 1; b += Files.size(p) }
        }
        (n, b)
      }
    }

    def countOr0(dir: String): Long =
      if (new File(dir).exists()) spark.read.parquet(dir).count() else 0L

    def layerAdd(k: String, v: Double): Unit =
      layer(k) = layer.getOrElse(k, 0.0) + v

    def run(): Unit = {
      workload match {
        case "queries" => queries(Queries)
        case "ingest" => ingest()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      layer("core.session_start_s") = sessionStart
      record("setup_end_ms") = setupEndMs
      record("attempted") = attempted
      record("failed") = failed
      record("pass_s") = passSeconds.toSeq
      record("op_s") = opSeconds.toSeq
      record("layer") = layer.toMap
      record("rss_peak_mib") = rssPeakMib()
      record("phases_s") = tr.spans.filter(_.parent < 0).groupBy(_.name)
        .map { case (k, v) => k -> v.map(_.seconds).sum }
      Files.writeString(Paths.get(s"$work/spans.json"), tr.toJson)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Heap still reachable after a full collection, MiB: what the
    * session retains after set-up (memoized frames, cached blocks,
    * scratch not yet released, engine bookkeeping). */
  def liveHeapMib(): Double = {
    // the second collection follows the context cleaner's release of
    // blocks whose owners the first one found unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def rssPeakMib(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(args)
    try {
      run.run()
      Files.writeString(Paths.get(args("out")), Json.value(run.record.toMap))
    } finally run.spark.stop()
  }
}
