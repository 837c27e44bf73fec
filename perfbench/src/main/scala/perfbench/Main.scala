package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.table.IcebergLite

/** One benchmark JVM. `--mode prepare` generates (or finds cached) the
  * inputs and expected results and exits, so that the JVM of `--mode run`
  * finds them and sets up cold. That one sets up (`setup_s`: from process
  * start to the first timed operation), measures for the given seconds
  * with tracing off and checks every output; when traced, it measures again
  * with listeners on and derives the per-layer figures and the spans file.
  * Writes a result JSON file that `run.py` prints. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = new RunResult
    try body(a, r)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        r.check(false, s"run aborted: $e")
        r.failed = math.max(r.failed, 1L)
        r.attempted = math.max(r.attempted, 1L)
    }
    Harness.writeUtf8(a.out, r.json + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  private def workload(a: Args): Workload = a.workload match {
    case "backfill" => new Backfill(a)
    case "table"    => new TableWorkload(a)
    case other      => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def body(a: Args, r: RunResult): Unit = {
    val runStart = Harness.processStartMs
    Harness.fresh(a.root.resolve("run"))
    Files.createDirectories(a.root.resolve("tmp"))
    r.info("state_root_fs") = Harness.fsType(a.root.resolve("run"))
    val w = workload(a)

    // set-up runs from process start; finding (or generating) the inputs
    // is not set-up
    var spark = Harness.session(a, a.slots)
    val g0 = System.currentTimeMillis()
    w.prepare(spark)
    val genMs = System.currentTimeMillis() - g0
    r.info("input_generation_s") = Json.fmt3(genMs / 1000.0)
    if (a.mode == "prepare") return
    w.setUp(spark, r)
    r.e2e("setup_s") = Figure((System.currentTimeMillis() - runStart - genMs) / 1000.0, "s", 1)
    r.info("slots") = a.slots.toString

    val log = new ProgressLog
    spark.streams.addListener(log)
    // the timed segment starts from a collected heap
    System.gc()
    val m = w.measure(spark, a.seconds, r)
    r.attempted += m.attempted
    r.failed += m.failed
    r.e2e("live_mb") = Figure(if (m.liveMb.isEmpty) 0.0 else m.liveMb.max, "MB", m.liveMb.size)
    r.e2e("work_per_s") = Figure(m.workPerSec, "1/s", m.rateSamples)
    r.e2e("op_p50_ms") = Figure(Harness.median(m.latMs), "ms", m.latMs.size)
    r.info("work_unit") = m.workUnit
    r.info("measured_s") = Json.fmt3(m.wallSec)
    m.extra.foreach { case (k, f) => r.info(k) = s"${Json.num(f.value)} ${f.unit} n=${f.samples}" }

    if (a.trace) {
      val tr = new Tracer
      tr.attach(spark)
      val tm = w.measure(spark, a.seconds, r)
      val branches = w.branchProbe(spark, r, log)
      Thread.sleep(500) // listener events are delivered asynchronously
      tr.detach(spark)
      LayerMetrics.fill(a, tr, tm, branches, r)
      // untraced, traced, untraced: the overhead compares the traced
      // segment with the mean of the two around it, so warm-up still going
      // on in the first segment does not read as tracing cost
      val m2 = w.measure(spark, a.seconds, r)
      Seq(tm, m2).foreach { x => r.attempted += x.attempted; r.failed += x.failed }
      val untraced = (m.workPerSec + m2.workPerSec) / 2
      val traced = if (tm.workPerSec > 0) tm.workPerSec else 1.0
      r.layers("trace.overhead_share") = Figure((untraced - traced) / traced, "ratio", 3)
      w match {
        case b: Backfill =>
          // one pass of the same slices on one task slot: N -> 4N
          // efficiency, warm JVM
          spark.stop()
          spark = Harness.session(a, 1)
          val one = b.passes(spark, 0, 1, r)
          r.attempted += one.attempted
          r.failed += one.failed
          r.layers("backfill.scaling_1to4") = Figure(
            if (one.workPerSec > 0) untraced / (a.slots * one.workPerSec) else 0.0, "ratio", 2)
        case _ => r.layers("backfill.scaling_1to4") = Figure(0.0, "ratio", 0)
      }
      Layers.run(w.layerSpec, r)
      val runId = s"${a.workload}-seed${a.seed}-${runStart}"
      val spans = Spans.build(runId, runStart, System.currentTimeMillis(), a.workload,
        tm.startMs, tm.endMs, tr, tm.epochs, tm.statements, branches)
      val f = a.root.resolve("traces").resolve(s"spans-${a.workload}-seed${a.seed}.json")
      Spans.write(f, runId, spans, LayerMetrics.moves)
      r.info("spans_file") = a.root.getParent.relativize(f).toString
    }
  }
}

/** Per-layer figures from the traced segment. Layers a workload does not
  * exercise read 0. */
object LayerMetrics {
  /** Which end-to-end metric, on which workload, each layer figure should move. */
  val moves: Map[String, String] = Map(
    "text.normalize_ns_per_turn" -> "work_per_s on backfill",
    "text.redact_ns_per_turn" -> "work_per_s on backfill",
    "text.redacted_share" -> "none: an exact count, moves only if the semantics change",
    "sketch.update_ns_per_turn" -> "work_per_s on backfill",
    "sketch.sparse_entries_per_session" -> "stream.state_bytes, then live_mb on backfill",
    "stream.update_ns_per_turn" -> "work_per_s on backfill",
    "stream.state_bytes" -> "live_mb on backfill",
    "stream.state_commit_ms" -> "op_p50_ms and work_per_s on backfill",
    "stream.state_rows" -> "none: a count",
    "branch.redact.epoch_ms" -> "op_p50_ms on backfill (the same query, run beside the other three branches)",
    "branch.window.epoch_ms" -> "none: no timed workload runs the window branch; traced and checked only",
    "branch.join.epoch_ms" -> "none: no timed workload runs the join branch; traced and checked only",
    "branch.deadletter.epoch_ms" -> "none: no timed workload runs the dead-letter branch; traced and checked only",
    "epoch.plan_ms" -> "op_p50_ms on backfill",
    "epoch.source_ms" -> "op_p50_ms on backfill",
    "epoch.wal_ms" -> "op_p50_ms on backfill",
    "epoch.addbatch_ms" -> "op_p50_ms on backfill",
    "epoch.driver_only_ms" -> "op_p50_ms on backfill",
    "epoch.segments_share_min" -> "none: checks that the epoch segments add up to the epoch",
    "sources.sink_files_per_epoch" -> "op_p50_ms and work_per_s on backfill",
    "sources.sink_bytes_per_epoch" -> "op_p50_ms and work_per_s on backfill",
    "sources.scan_bytes_per_read" -> "op_p50_ms on table (reads)",
    "sources.scan_rows_per_read" -> "op_p50_ms on table (reads)",
    "sources.pruned_share" -> "op_p50_ms on table (reads)",
    "table.write.driver_ms" -> "work_per_s on table (writes take most of its time)",
    "table.write.task_ms" -> "work_per_s on table (writes take most of its time)",
    "table.write.jobs" -> "work_per_s on table (writes take most of its time)",
    "table.write.stages" -> "work_per_s on table (writes take most of its time)",
    "table.read.driver_ms" -> "op_p50_ms on table (reads)",
    "table.read.jobs" -> "op_p50_ms on table (reads)",
    "table.metadata_bytes" -> "op_p50_ms and work_per_s on table",
    "table.data_files" -> "op_p50_ms and work_per_s on table",
    "catalog.plan_ms" -> "op_p50_ms on table (reads)",
    "spark.cpu_ms_per_kturn" -> "work_per_s on backfill",
    "spark.busy_share" -> "work_per_s and op_p50_ms on backfill",
    "spark.gc_ms" -> "work_per_s and live_mb on backfill",
    "spark.shuffle_write_bytes" -> "work_per_s on backfill",
    "spark.fetch_wait_ms" -> "work_per_s on backfill",
    "spark.spill_bytes" -> "work_per_s on backfill",
    "backfill.scaling_1to4" -> "work_per_s on backfill (N to 4N efficiency)",
    "trace.overhead_share" -> "none: traced vs untraced work_per_s")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def fill(a: Args, tr: Tracer, m: Measure, branches: Seq[StreamingQueryProgress],
           r: RunResult): Unit = {
    def put(k: String, v: Double, unit: String, n: Int): Unit = r.layers(k) = Figure(v, unit, n)
    val data = m.epochs.filter(Progress.isData)
    val n = data.size

    // stream state and epoch driver segments
    def st(p: StreamingQueryProgress) = p.stateOperators.toSeq
    put("stream.state_bytes", (0L +: m.epochs.map(p => st(p).map(_.memoryUsedBytes).sum)).max.toDouble, "bytes", m.epochs.size)
    put("stream.state_commit_ms", mean(data.map(p => st(p).map(_.commitTimeMs).sum.toDouble)), "ms", n)
    put("stream.state_rows", (0L +: m.epochs.map(p => st(p).map(_.numRowsTotal).sum)).max.toDouble, "count", m.epochs.size)
    val branchData = branches.filter(Progress.isData)
    Branches.QueryNames.foreach { case (k, q) =>
      val es = branchData.filter(_.name == q)
      put(s"branch.$k.epoch_ms", mean(es.map(p => Progress.ms(p, "triggerExecution").toDouble)), "ms", es.size)
    }
    def seg(p: StreamingQueryProgress, ks: String*) =
      ks.map(Progress.ms(p, _)).sum.toDouble
    put("epoch.plan_ms", mean(data.map(seg(_, "queryPlanning"))), "ms", n)
    put("epoch.source_ms", mean(data.map(seg(_, "latestOffset", "getBatch"))), "ms", n)
    put("epoch.wal_ms", mean(data.map(seg(_, "walCommit", "commitOffsets"))), "ms", n)
    put("epoch.addbatch_ms", mean(data.map(seg(_, "addBatch"))), "ms", n)
    val driverOnly = data.map { p =>
      val ids = tr.jobsWhere(j => j.queryId == p.id.toString && j.batchId == p.batchId).map(_.id).toSet
      val s = Progress.startMs(p)
      val e = Progress.endMs(p)
      val busy = Intervals.unionLength(Intervals.clip(tr.tasksOfJobs(ids).map(t => (t.startMs, t.endMs)), s, e))
      (e - s - busy).toDouble
    }
    put("epoch.driver_only_ms", mean(driverOnly), "ms", n)
    val shares = data.filter(Progress.ms(_, "triggerExecution") > 0).map { p =>
      seg(p, "latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets") /
        Progress.ms(p, "triggerExecution")
    }
    put("epoch.segments_share_min", if (shares.isEmpty) 0.0 else shares.min, "ratio", shares.size)

    // the workload's own jobs: stream epochs or SQL statements
    val epochKeys = m.epochs.map(p => (p.id.toString, p.batchId)).toSet
    val jobIds = tr.jobsWhere(j => epochKeys((j.queryId, j.batchId)) || j.group.startsWith("stmt-"))
      .map(_.id).toSet
    val tasks = tr.tasksOfJobs(jobIds)
    val readKinds = Set("point", "range", "version", "files", "history")
    def stmtStats(ss: Seq[StatementRec]): Seq[(Double, Double, Int, Int, Long, Long)] = ss.map { s =>
      val js = tr.jobsWhere(_.group == s.group)
      val ts = tr.tasksOfJobs(js.map(_.id).toSet)
      val busy = Intervals.unionLength(Intervals.clip(ts.map(t => (t.startMs, t.endMs)), s.startMs, s.endMs))
      ((s.endMs - s.startMs - busy).toDouble, ts.map(_.runMs).sum.toDouble, js.size,
        js.map(_.stages.size).sum, ts.map(_.inputBytes).sum, ts.map(_.inputRows).sum)
    }
    val reads = m.statements.filter(s => readKinds(s.kind))
    val writes = m.statements.filterNot(s => readKinds(s.kind))
    val rs = stmtStats(reads)
    val ws = stmtStats(writes)
    put("table.write.driver_ms", mean(ws.map(_._1)), "ms", ws.size)
    put("table.write.task_ms", mean(ws.map(_._2)), "ms", ws.size)
    put("table.write.jobs", mean(ws.map(_._3.toDouble)), "count", ws.size)
    put("table.write.stages", mean(ws.map(_._4.toDouble)), "count", ws.size)
    put("table.read.driver_ms", mean(rs.map(_._1)), "ms", rs.size)
    put("table.read.jobs", mean(rs.map(_._3.toDouble)), "count", rs.size)

    // scans: per read statement on table, per data epoch on the streams
    val (scanBytes, scanRows, returned, reads0) =
      if (m.statements.nonEmpty)
        (rs.map(_._5).sum.toDouble, rs.map(_._6).sum.toDouble,
          reads.map(_.resultRows.max(0L)).sum.toDouble, rs.size)
      else {
        val streamTasks = tr.tasksOfJobs(tr.jobsWhere(j => epochKeys((j.queryId, j.batchId))).map(_.id).toSet)
        (streamTasks.map(_.inputBytes).sum.toDouble, streamTasks.map(_.inputRows).sum.toDouble,
          data.map(_.numInputRows).sum.toDouble, n)
      }
    put("sources.scan_bytes_per_read", if (reads0 > 0) scanBytes / reads0 else 0.0, "bytes", reads0)
    put("sources.scan_rows_per_read", if (reads0 > 0) scanRows / reads0 else 0.0, "count", reads0)
    put("sources.pruned_share", if (scanRows > 0) returned / scanRows else 0.0, "ratio", reads0)

    // the sink and the table files
    val files = m.tables.flatMap { t =>
      val p = java.nio.file.Paths.get(t)
      if (Files.isDirectory(p)) Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      else Nil
    }
    val (dataFiles, metaFiles) = files.partition(_.getFileName.toString.endsWith(".parquet"))
    val sinkEpochs = m.tables.headOption.map(t => new IcebergLite(t).snapshots.size).getOrElse(0)
    val streamsWrite = m.epochs.nonEmpty
    put("sources.sink_files_per_epoch", if (streamsWrite && sinkEpochs > 0) dataFiles.size.toDouble / sinkEpochs else 0.0, "count", sinkEpochs)
    put("sources.sink_bytes_per_epoch", if (streamsWrite && sinkEpochs > 0) dataFiles.map(Files.size).sum.toDouble / sinkEpochs else 0.0, "bytes", sinkEpochs)
    put("table.metadata_bytes", metaFiles.map(Files.size).sum.toDouble, "bytes", metaFiles.size)
    put("table.data_files", m.tables.headOption.map(t => new IcebergLite(t).effectiveFiles.size.toDouble).getOrElse(0.0), "count", 1)

    // catalog planning (analysis + optimization + planning per statement)
    val plans = tr.planning.asScala.toSeq.filter(x => x._1 >= m.startMs && x._1 <= m.endMs + 1000L)
    put("catalog.plan_ms", if (m.statements.nonEmpty) plans.map(_._2).sum / m.statements.size else 0.0,
      "ms", plans.size)

    // Spark as a whole, over the workload's own jobs
    val kturns = math.max(1.0, m.turns / 1000.0)
    val cpu = tasks.map(_.cpuMs).sum
    put("spark.cpu_ms_per_kturn", cpu / kturns, "ms", tasks.size)
    put("spark.busy_share", tasks.map(_.runMs).sum.toDouble / math.max(1.0, (m.endMs - m.startMs) * a.slots.toDouble), "ratio", tasks.size)
    put("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms", tasks.size)
    put("spark.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes).sum.toDouble, "bytes", tasks.size)
    put("spark.fetch_wait_ms", tasks.map(_.fetchWaitMs).sum.toDouble, "ms", tasks.size)
    put("spark.spill_bytes", tasks.map(_.spillBytes).sum.toDouble, "bytes", tasks.size)
  }
}
