package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed benchmark op. Times are epoch ms for span alignment with
  * Spark's events, plus a nanosecond latency for the reported metrics. */
final case class OpRecord(
    id: Int,
    kind: String,
    name: String,
    startMs: Long,
    endMs: Long,
    latencyS: Double,
    ok: Boolean,
    traced: Boolean,
    catalogSpans: Seq[(String, Long, Long, Long)],
    counters: Map[String, Double])

final case class JobSpan(jobId: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
  /** -1 until the job-end event arrives. */
  @volatile var endMs: Long = -1L
}

final case class StageAgg(
    stageId: Int,
    var tasks: Long = 0,
    var runMs: Long = 0,
    var cpuNs: Long = 0,
    var schedDelayMs: Long = 0,
    var inputBytes: Long = 0,
    var inputRows: Long = 0,
    var shuffleWrite: Long = 0,
    var shuffleRead: Long = 0,
    var fetchWaitMs: Long = 0,
    var spill: Long = 0)

/** A finished query execution: its planning phases and the data files
  * its scans read. */
final case class QeSpan(phases: Seq[(String, Long, Long)], scannedFiles: Seq[String])

/** Records Spark's public listener and query-execution events while
  * tracing is on; spans are kept in memory and read at the end. Ops tie
  * to jobs through a job group per op, and to planning phases through
  * time (the benchmark is a single closed-loop client). */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[QeSpan]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobSpan(e.jobId, g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val a = stages.computeIfAbsent(e.stageId, id => StageAgg(id))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (on) record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    qes.add(QeSpan(phases, Tracer.scannedFiles(qe.executedPlan)))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)

  /** Runs `body` with this op's job group set. */
  def withGroup[T](opId: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.group(opId), s"lakebench op $opId", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Waits until every job of the traced ops has ended and been seen. */
  def drain(ops: Seq[OpRecord]): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val want = ops.filter(_.traced).flatMap(o => tracker.getJobIdsForGroup(Tracer.group(o.id)).toSeq)
    val deadline = System.currentTimeMillis() + 30000
    def done = want.forall { id =>
      val j = jobs.get(id)
      j != null && j.endMs >= 0
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    // task-end and query-execution events trail job ends on the bus
    Thread.sleep(300)
  }

  def jobsOf(opId: Int): Seq[JobSpan] =
    jobs.values.asScala.filter(_.group == Tracer.group(opId)).toSeq.sortBy(_.startMs)
  def stage(id: Int): Option[StageAgg] = Option(stages.get(id))
  def qeSpans: Seq[QeSpan] = qes.asScala.toSeq
}

object Tracer extends AdaptiveSparkPlanHelper {
  def group(opId: Int): String = s"lakebench-op-$opId"

  /** Data files read by the DSv2 scans (the lakehouse tables) of an executed plan. */
  def scannedFiles(plan: SparkPlan): Seq[String] =
    try {
      collectWithSubqueries(plan) {
        case b: BatchScanExec => b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }
      }.flatten
    } catch { case scala.util.control.NonFatal(_) => Nil }
}

/** Per-op layer accounting over the recorded spans. Self-time priority:
  * Spark jobs, then planning, then the benchmark's timed catalog calls;
  * what none covers is the driver gap. */
object Layers {
  final case class OpLayers(
      op: OpRecord,
      self: Map[String, Long],
      gapMs: Long,
      planPhases: Map[String, Long],
      jobs: Int,
      stages: Seq[StageAgg],
      scanned: Seq[String])

  def forOp(op: OpRecord, tracer: Tracer): OpLayers = {
    val span = (op.startMs, op.endMs)
    val jobs = tracer.jobsOf(op.id)
    val jobSpans = jobs.map(j => (j.startMs, if (j.endMs < 0) op.endMs else j.endMs))
    val qes = tracer.qeSpans.filter(q => q.phases.exists { case (_, s, e) =>
      e > op.startMs - 1 && s < op.endMs + 1 })
    val phaseSpans = qes.flatMap(_.phases)
    val planSpans = phaseSpans.map { case (_, s, e) => (s, e) }
    val catSpans = op.catalogSpans.map { case (_, s, e, _) => (s, e) }
    val (self, gap) = Stats.layeredSelf(span,
      Seq("jobs" -> jobSpans, "planning" -> planSpans, "catalog" -> catSpans))
    val phases = phaseSpans.groupBy(_._1).map { case (n, xs) =>
      n -> Stats.covered(span, xs.map(x => (x._2, x._3))) }
    val stageAggs = jobs.flatMap(_.stageIds).distinct.flatMap(tracer.stage)
    OpLayers(op, self.toMap, gap, phases, jobs.size, stageAggs, qes.flatMap(_.scannedFiles))
  }
}
