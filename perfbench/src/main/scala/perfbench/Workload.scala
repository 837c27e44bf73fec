package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What one timed segment measured: its rate of work, with how many
  * samples stand behind it, one latency per operation (backfill epoch,
  * table statement) that completed, and the memory the program held at
  * each measuring point ([[Harness.liveMb]], outside the timed work). */
final case class Measure(startMs: Long, endMs: Long, workPerSec: Double, rateSamples: Int,
                         workUnit: String, latMs: Seq[Double], attempted: Long, failed: Long,
                         liveMb: Seq[Double],
                         epochs: Seq[StreamingQueryProgress] = Nil,
                         statements: Seq[StatementRec] = Nil,
                         /** turns the segment committed or read, for per-kturn ratios */
                         turns: Long = 0L,
                         /** output tables the segment wrote, for sink/table metrics */
                         tables: Seq[String] = Nil,
                         extra: Map[String, Figure] = Map.empty) {
  def wallSec: Double = (endMs - startMs) / 1000.0
}

trait Workload {
  /** Generates (or finds cached) inputs and expected results. Untimed. */
  def prepare(spark: SparkSession): Unit
  /** Tables and the warm-up on the warm-up seed: the set-up. */
  def setUp(spark: SparkSession, r: RunResult): Unit
  /** The timed segment: runs at least `seconds` and checks every output. */
  def measure(spark: SparkSession, seconds: Int, r: RunResult): Measure
  /** Traced runs only: the four stream branches at once, for per-branch
    * epoch times. Returns their progress. */
  def branchProbe(spark: SparkSession, r: RunResult, log: ProgressLog): Seq[StreamingQueryProgress] = Nil
  /** Inputs for the single-thread layer passes. */
  def layerSpec: graft.gen.GenSpec
}
