package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every `StreamingQueryProgress` of the session: the traced run's
  * per-branch epoch times come from it. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  def progress: Seq[StreamingQueryProgress] = all.asScala.toSeq
}

object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def ms(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + ms(p, "triggerExecution")
  /** Batches that read input (the flush/no-data batches read none). */
  def isData(p: StreamingQueryProgress): Boolean = p.numInputRows > 0
}

final case class JobRec(id: Int, startMs: Long, stages: Seq[Int], queryId: String,
                        batchId: Long, group: String) { var endMs: Long = startMs }
final case class StageRec(id: Int, startMs: Long, endMs: Long)
final case class TaskRec(stage: Int, startMs: Long, endMs: Long, runMs: Long, cpuMs: Double,
                         gcMs: Long, shuffleWriteBytes: Long, fetchWaitMs: Long,
                         spillBytes: Long, inputBytes: Long, inputRows: Long)
final case class StatementRec(id: Int, kind: String, startMs: Long, endMs: Long,
                              resultRows: Long) { def group: String = s"stmt-$id" }
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long) {
  var selfMs: Long = endMs - startMs
}

/** The traced run's listeners: Spark's public job/stage/task events and
  * query-execution phases, recorded in memory and read after the run. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** (wall ms, analysis + optimization + planning ms) per query execution. */
  val planning = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties())
    jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds,
      p.getProperty("sql.streaming.queryId", ""),
      Option(p.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L),
      p.getProperty("spark.jobGroup.id", "")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages.add(StageRec(i.stageId, s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime / 1e6, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum
    planning.add((System.currentTimeMillis(), ms))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def stageToJob: Map[Int, Int] =
    jobs.values().asScala.flatMap(j => j.stages.map(_ -> j.id)).toMap
  def tasksOfJobs(ids: Set[Int]): Seq[TaskRec] = {
    val s2j = stageToJob
    tasks.asScala.toSeq.filter(t => s2j.get(t.stage).exists(ids.contains))
  }
  def jobsWhere(f: JobRec => Boolean): Seq[JobRec] = jobs.values().asScala.toSeq.filter(f)
}

/** Spans nest run -> workload -> epoch (per branch) or statement -> Spark
  * job -> stage; each carries its self time (duration minus the part of it
  * its children cover). Written as one JSON file at exit. */
object Spans {
  def build(runId: String, runStartMs: Long, runEndMs: Long, workload: String,
            segStartMs: Long, segEndMs: Long, tr: Tracer,
            epochs: Seq[StreamingQueryProgress], statements: Seq[StatementRec],
            branchEpochs: Seq[StreamingQueryProgress]): Seq[Span] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(name: String, parent: Int, s: Long, e: Long): Int = {
      out += Span(out.size, name, parent, s, math.max(s, e)); out.size - 1
    }
    val run = add(s"run:$runId", -1, runStartMs, runEndMs)
    val wl = add(s"workload:$workload", run, segStartMs, segEndMs)
    val stageById = tr.stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.last }
    def addJobs(parent: Int, js: Seq[JobRec]): Unit = js.sortBy(_.startMs).foreach { j =>
      val jid = add(s"job:${j.id}", parent, j.startMs, j.endMs)
      j.stages.flatMap(stageById.get).sortBy(_.startMs)
        .foreach(st => add(s"stage:${st.id}", jid, st.startMs, st.endMs))
    }
    def addEpochs(parent: Int, ps: Seq[StreamingQueryProgress]): Unit =
      ps.sortBy(Progress.startMs).foreach { p =>
        val e = add(s"epoch:${p.name}:${p.batchId}", parent, Progress.startMs(p), Progress.endMs(p))
        addJobs(e, tr.jobsWhere(j => j.queryId == p.id.toString && j.batchId == p.batchId))
      }
    addEpochs(wl, epochs)
    if (branchEpochs.nonEmpty)
      addEpochs(add("branches", run, branchEpochs.map(Progress.startMs).min,
        branchEpochs.map(Progress.endMs).max), branchEpochs)
    statements.foreach { s =>
      val e = add(s"statement:${s.kind}:${s.id}", wl, s.startMs, s.endMs)
      addJobs(e, tr.jobsWhere(_.group == s.group))
    }
    val kids = out.groupBy(_.parent)
    out.foreach { sp =>
      val iv = kids.getOrElse(sp.id, Nil).map(c => (c.startMs, c.endMs))
      sp.selfMs = (sp.endMs - sp.startMs) -
        Intervals.unionLength(Intervals.clip(iv.toSeq, sp.startMs, sp.endMs))
    }
    out.toSeq
  }

  def write(path: Path, runId: String, spans: Seq[Span], tags: Map[String, String]): Unit = {
    val body = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run_id":${Json.str(runId)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${s.selfMs}}"""
    }.mkString("[\n", ",\n", "\n]")
    val tagJson = tags.toSeq.sorted.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    Harness.writeUtf8(path, s"""{"run_id":${Json.str(runId)},"layer_moves":$tagJson,"spans":$body}""" + "\n")
  }
}
