package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.gen.{Fixtures, GenSpec, StreamFixtures}
import graft.stream.Pipeline
import graft.table.IcebergLite

/** Per-batch profile extracted from StreamingQueryProgress — emitted into
  * the bench JSON so a throughput number is ATTRIBUTABLE: which batches were
  * slow, and whether the time went to state commits vs the sink vs planning. */
final case class BatchProf(batchId: Long, inputRows: Long, totalMs: Long,
                           addBatchMs: Long, stateCommitMs: Long,
                           stateRows: Long, stateBytes: Long,
                           /** driver-serial segments of the trigger — the
                             * constant the scaling attribution found: */
                           planMs: Long = 0L,   // queryPlanning
                           sourceMs: Long = 0L, // latestOffset + getBatch
                           walMs: Long = 0L) {  // walCommit + commitOffsets
  def json: String =
    s"""{"id":$batchId,"rows":$inputRows,"ms":$totalMs,"addBatchMs":$addBatchMs,""" +
      s""""stateCommitMs":$stateCommitMs,"stateRows":$stateRows,"stateBytes":$stateBytes,""" +
      s""""planMs":$planMs,"sourceMs":$sourceMs,"walMs":$walMs}"""
}

/** Whole-run task-metric aggregates (SparkListener sums over every task) —
  * the attribution layer under a scaling ratio: per-core loss shows up as
  * growth in `cpuMs`/turn (real per-core slowdown: memory stalls, allocator),
  * `gcMs` (collector pressure), `fetchWaitMs` (shuffle transport), or as
  * wall×cores − `runMs` (idle: scheduling gaps, stage tails, driver-side
  * serial time). */
final case class TaskStats(tasks: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                           fetchWaitMs: Long, shuffleWriteMs: Long,
                           deserMs: Long, schedDelayMs: Long) {
  def json: String =
    s"""{"tasks":$tasks,"runMs":$runMs,"cpuMs":$cpuMs,"gcMs":$gcMs,""" +
      s""""fetchWaitMs":$fetchWaitMs,"shuffleWriteMs":$shuffleWriteMs,""" +
      s""""deserMs":$deserMs,"schedDelayMs":$schedDelayMs}"""
}

object TaskStats {
  final class Tally extends org.apache.spark.scheduler.SparkListener {
    private val a = new java.util.concurrent.atomic.AtomicLongArray(8)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val info = te.taskInfo
      if (m != null && info != null) {
        a.addAndGet(0, 1L)
        a.addAndGet(1, m.executorRunTime)
        a.addAndGet(2, m.executorCpuTime / 1000000L)
        a.addAndGet(3, m.jvmGCTime)
        a.addAndGet(4, m.shuffleReadMetrics.fetchWaitTime)
        a.addAndGet(5, m.shuffleWriteMetrics.writeTime / 1000000L)
        a.addAndGet(6, m.executorDeserializeTime)
        val sched = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        a.addAndGet(7, math.max(0L, sched))
      }
    }
    def snapshot: TaskStats = TaskStats(a.get(0), a.get(1), a.get(2), a.get(3),
      a.get(4), a.get(5), a.get(6), a.get(7))
  }

  def parse(json: String): TaskStats = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    TaskStats(n.get("tasks").asLong(), n.get("runMs").asLong(),
      n.get("cpuMs").asLong(), n.get("gcMs").asLong(),
      n.get("fetchWaitMs").asLong(), n.get("shuffleWriteMs").asLong(),
      n.get("deserMs").asLong(), n.get("schedDelayMs").asLong())
  }

  val Zero: TaskStats = TaskStats(0, 0, 0, 0, 0, 0, 0, 0)
}

final case class StreamResult(turns: Long, sec: Double, benchRoot: String,
                              fsType: String, batches: Seq[BatchProf],
                              reducedIo: Boolean = false,
                              taskStats: TaskStats = TaskStats.Zero) {
  def turnsPerSec: Double = if (sec > 0) turns / sec else 0.0
  /** Σrows/Σtrigger-ms over data batches AFTER the first: batch 0 carries
    * JIT + state-store init (26.5s of a 53s run in BENCH_r02), which a
    * 10^12-turn stream amortizes to nothing — this is the steady-state
    * number wall-clock converges to, printed alongside wall so the gap is
    * attributable instead of mysterious. */
  def sustainedTurnsPerSec: Double = {
    val d = batches.filter(b => b.batchId >= 1 && b.inputRows > 0)
    val ms = d.map(_.totalMs).sum
    if (ms > 0) d.map(_.inputRows).sum * 1000.0 / ms else turnsPerSec
  }
  def batchesJson: String = batches.map(_.json).mkString("[", ",", "]")
}

/** End-to-end streaming benchmark: epoch slices → session-window CMS
  * detection → redaction → exactly-once IcebergLite commit. The slice
  * fixtures are generated once per sf (outside the timed region); each run
  * starts from a fresh table + checkpoint. */
object StreamBench {

  def sliceDir(sfName: String): String =
    s"${Fixtures.DataRoot}/slices_$sfName"

  /** Streaming bench input is larger than the correctness fixture: the
    * per-micro-batch fixed cost (state-store commits, sink job scheduling)
    * must be small against real work for throughput/scaling numbers to mean
    * anything — exactly the regime a 100 TB stream runs in. */
  def specFor(sfName: String): GenSpec = sfName match {
    case "sf0.1" => GenSpec(nConvs = 150000)
    case _       => Fixtures.specFor(sfName)
  }

  def ensureSlices(spark: SparkSession, sfDir: String, k: Int = 4): String = {
    val name = Fixtures.sfName(sfDir)
    val d = sliceDir(name)
    StreamFixtures.writeSlices(spark, specFor(name), d, k)
    d
  }

  /** Slices for an explicit spec (scaling bench uses a larger corpus). */
  def ensureSlicesFor(spark: SparkSession, tag: String, spec: GenSpec, k: Int): String = {
    val d = s"${Fixtures.DataRoot}/slices_$tag"
    StreamFixtures.writeSlices(spark, spec, d, k)
    d
  }

  /** State/checkpoint/sink root for a bench run. Preference order:
    * `GRAFT_BENCH_ROOT` env override → /dev/shm (tmpfs) → java.io.tmpdir.
    * On a real cluster state I/O is node-local NVMe and scales with node
    * count; on a single-disk sandbox, 32 concurrent state-commit fsyncs
    * contend on one device and would measure the disk, not the engine.
    * RAM-backed dirs restore the per-node-I/O model. Whatever is chosen is
    * REPORTED (root + fs type) in the result so a slow run is attributable
    * instead of a silent 10x. */
  def pickBenchRoot(): (java.nio.file.Path, String) = {
    val p = sys.env.get("GRAFT_BENCH_ROOT").map(Paths.get(_))
      .orElse(Some(Paths.get("/dev/shm")).filter(Files.isDirectory(_)))
      .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    Files.createDirectories(p)
    val fs =
      try Files.getFileStore(p).`type`()
      catch { case _: Throwable => "unknown" }
    (p, fs)
  }

  def run(spark: SparkSession, sfDir: String, numBuckets: Int = 0,
          slicesOverride: String = null): StreamResult = {
    val slices =
      if (slicesOverride != null) slicesOverride else ensureSlices(spark, sfDir)
    val buckets =
      if (numBuckets > 0) numBuckets
      else spark.sparkContext.defaultParallelism
    val (benchRoot, fsType) = pickBenchRoot()
    // On a non-tmpfs root, size the state-commit fan-out to the device:
    // 32 concurrent per-partition commit streams on one disk were measured
    // ~10x slower per partition than 8 (BENCH.md round 1). Reported in the
    // result so the driver-run JSON attributes the configuration.
    val reducedIo = fsType != "tmpfs" && fsType != "unknown"
    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    if (reducedIo) {
      System.err.println(s"[streambench] WARNING: bench root $benchRoot is " +
        s"$fsType, not tmpfs — reducing state/commit fan-out to 8 partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
    val effBuckets = if (reducedIo) math.min(buckets, 8) else buckets
    val work = Files.createTempDirectory(benchRoot, "streambench")
    val tableRoot = work.resolve("table").toString
    val cp = work.resolve("cp").toString
    // one epoch = one big slice file: without smaller splits the scan runs
    // on ~2 tasks (128 MB default) and caps the whole pipeline regardless
    // of core count — the single-node analogue of an under-partitioned
    // 100 TB table
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    // no mid-run state snapshot rewrites; deltas are enough for one bench run
    spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1000")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val tally = new TaskStats.Tally
    spark.sparkContext.addSparkListener(tally)
    try {
      val t0 = System.nanoTime()
      val benchParams = graft.core.RedactionParams(
        sketchDepth = sys.env.getOrElse("GRAFT_SK_DEPTH", "4").toInt,
        sketchWidth = sys.env.getOrElse("GRAFT_SK_WIDTH", "8192").toInt)
      val q = Pipeline.runRedactionToTable(spark, slices, tableRoot, cp,
        p = benchParams, numBuckets = effBuckets, maxFilesPerTrigger = 1)
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.toSeq.map { pr =>
        val d = pr.durationMs.asScala
        def ms(k: String): Long =
          d.getOrElse(k, java.lang.Long.valueOf(0L)).longValue()
        val st = pr.stateOperators.headOption
        BatchProf(
          pr.batchId,
          pr.numInputRows,
          ms("triggerExecution"),
          ms("addBatch"),
          st.map(_.commitTimeMs).getOrElse(0L),
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L),
          planMs = ms("queryPlanning"),
          sourceMs = ms("latestOffset") + ms("getBatch"),
          walMs = ms("walCommit") + ms("commitOffsets"))
      }
      val turns = new IcebergLite(tableRoot).partitionMetrics.values.sum
      Thread.sleep(500) // listener bus drains asynchronously
      StreamResult(turns, sec, benchRoot.toString, fsType, batches, reducedIo,
        tally.snapshot)
    } finally {
      spark.sparkContext.removeSparkListener(tally)
      if (reducedIo) spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
      // tmpfs artifacts must not outlive the run, even on failure
      try {
        Files.walk(work).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } catch { case _: Throwable => }
    }
  }
}
