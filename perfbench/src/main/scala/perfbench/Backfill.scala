package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.core.RedactionParams
import graft.gen.GenSpec
import graft.stream.Pipeline
import graft.table.IcebergLite

/** Closed loop: repeated `Trigger.AvailableNow` redaction passes over the
  * same time-ordered slices, each into a fresh table and checkpoint, with
  * the native sink. Each pass is checked against the oracle. */
final class Backfill(a: Args) extends Workload {
  private val spec = GenSpec(nConvs = a.int("n_convs"), seed = a.seed)
  private val k = a.int("slices")
  private val warm = GenSpec(nConvs = a.int("warmup_n_convs"), seed = Inputs.WarmSeed)
  private val wk = a.int("warmup_slices")
  private val warmPasses = a.int("warmup_passes")
  private var dir: Path = _
  private var warmDir: Path = _
  private var expected: Inputs.Digests = _
  private var warmExpected: Inputs.Digests = _

  def layerSpec: GenSpec = spec

  def prepare(spark: SparkSession): Unit = {
    dir = Inputs.slices(spark, a.root, "backfill", spec, k)._1
    warmDir = Inputs.slices(spark, a.root, "backfill", warm, wk)._1
    expected = Inputs.expectedRedaction(spark, a.root, Inputs.key("backfill", spec, k), spec)
    warmExpected = Inputs.expectedRedaction(spark, a.root, Inputs.key("backfill", warm, wk), warm)
  }

  /** One pass; returns (committed turns, start ms, end ms, progress, table). */
  private def pass(spark: SparkSession, src: Path, tag: String)
      : (Long, Long, Long, Seq[StreamingQueryProgress], String) = {
    val work = Harness.fresh(a.root.resolve("run/backfill").resolve(tag))
    val table = work.resolve("table").toString
    val t0 = System.currentTimeMillis()
    val q = Pipeline.runRedactionToTable(spark, src.toString, table,
      work.resolve("cp").toString, RedactionParams(), numBuckets = a.slots,
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    val t1 = System.currentTimeMillis()
    val turns = new IcebergLite(table).partitionMetrics.values.sum
    (turns, t0, t1, q.recentProgress.toSeq, table)
  }

  private def check(spark: SparkSession, table: String, s: GenSpec, slices: Int,
                    exp: Inputs.Digests, r: RunResult): Boolean =
    Inputs.checkRedaction(spark, a.root, Inputs.key("backfill", s, slices),
      new IcebergLite(table).read(spark), s, exp, r, "backfill")

  /** Throughput keeps rising over the first few passes of a JVM (JIT and
    * code generation), so set-up runs passes over the warm-up corpus, which
    * has the shape of the measured one. */
  def setUp(spark: SparkSession, r: RunResult): Unit =
    (1 to warmPasses).foreach { i =>
      val (_, _, _, _, table) = pass(spark, warmDir, s"warm-$i")
      check(spark, table, warm, wk, warmExpected, r)
    }

  /** At least `seconds` of query time and at least three passes, so the
    * median pass is not the first one after set-up. */
  def measure(spark: SparkSession, seconds: Int, r: RunResult): Measure =
    passes(spark, seconds, 3, r)

  def passes(spark: SparkSession, seconds: Int, minPasses: Int, r: RunResult): Measure = {
    var busyMs = 0L
    var turns = 0L
    var attempted = 0L
    var failed = 0L
    var first = Long.MaxValue
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val live = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val epochs = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var tables = Seq.empty[String]
    var i = 0
    while (busyMs < seconds * 1000L || i < minPasses) {
      val (n, t0, t1, prog, table) = pass(spark, dir, s"pass-$i")
      busyMs += t1 - t0
      first = math.min(first, t0)
      // right after the query ends, while its state store is still loaded
      live += Harness.liveMb()
      // one epoch per data slice (batch ids 0 until k); the flush slice's
      // epoch carries one sentinel row and is not an operation of the workload
      val data = prog.filter(p => p.batchId < k)
      attempted += data.size
      if (check(spark, table, spec, k, expected, r)) {
        turns += n
        rates += n * 1000.0 / math.max(1L, t1 - t0)
        lat ++= data.map(p => Progress.ms(p, "triggerExecution").toDouble)
      } else failed += data.size
      epochs ++= prog
      if (i > 0) Harness.deleteTree(a.root.resolve("run/backfill").resolve(s"pass-${i - 1}"))
      tables = Seq(table)
      i += 1
    }
    r.info("pass_turns_per_s") = rates.map(Json.fmt3).mkString(" ")
    // throughput is the median pass, so one pass slowed by something else
    // on the machine does not set it; the checks between passes are not
    // part of any pass. The segment is reported as [first, first + busy].
    Measure(first, first + busyMs, Harness.median(rates.toSeq), rates.size, "turns",
      lat.toSeq, attempted, failed, live.toSeq, epochs = epochs.toSeq, turns = turns, tables = tables,
      extra = Map("passes" -> Figure(i, "count", i)))
  }

  /** The four branches over the same slices, each under `AvailableNow`, all
    * at once: per-branch epoch times for the traced run. */
  override def branchProbe(spark: SparkSession, r: RunResult,
                           log: ProgressLog): Seq[StreamingQueryProgress] = {
    val base = Harness.fresh(a.root.resolve("run/backfill/branches"))
    val running = Branches.start(spark, dir, base, a.slots,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1)
    running.queries.foreach(_._2.awaitTermination())
    Thread.sleep(200) // progress events are delivered asynchronously
    val key = Inputs.key("backfill", spec, k)
    Branches.check(spark, running, spec, a.root, key,
      expected ++ Inputs.expectedBranches(spark, a.root, key, spec), r, "backfill branches")
    val ids = running.queries.map(_._2.id).toSet
    log.progress.filter(p => ids.contains(p.id))
  }
}
