package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

object Recorder {
  /** `QueryPlanningTracker` phases of a query execution:
    * (name, start, end) in epoch milliseconds, in start order. */
  def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq
      .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      .sortBy(_._2)
}

/** What one query execution (`QueryExecution` reported to a
  * `QueryExecutionListener`) planned: its `QueryPlanningTracker` phases
  * and the PlanAudit counts of its executed (final adaptive) plan. */
final case class QeInfo(
    func: String,
    phases: Seq[(String, Long, Long)],
    exchanges: Int,
    scans: Int,
    bnlj: Int,
    upw: Int,
    indexReads: Int)

/** Everything the listeners saw while one phase (`build` or `action`)
  * of one query ran. Times are epoch milliseconds as Spark stamps them. */
final class PhaseStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var blocks = 0
  var blockBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  val stageSpans = ArrayBuffer.empty[(Int, Int, Long, Long)]
  val qes = ArrayBuffer.empty[QeInfo]
}

/** Spark's own listeners, installed only for traced passes: a
  * `SparkListener` for jobs, stages, tasks and block updates and a
  * `QueryExecutionListener` for planning. The driver thread switches
  * `current` only after draining the listener bus, so every event lands
  * in the phase that caused it. */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  @volatile var current: PhaseStats = new PhaseStats

  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.jobs += 1
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.jobSpans += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    current.stages += 1
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    current.stageSpans += ((i.stageId, stageJob.remove(i.stageId).getOrElse(-1),
      i.submissionTime.getOrElse(end), end))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      current.blocks += 1
      current.blockBytes += b.memSize + b.diskSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val info = try describe(funcName, qe) catch {
      case _: Throwable => QeInfo(funcName, Nil, 0, 0, 0, 0, 0)
    }
    synchronized { current.qes += info }
  }

  private def describe(funcName: String, qe: QueryExecution): QeInfo = {
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size
    val scanPaths = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }
    val upw = qe.optimizedPlan.collect { case w: Window if w.partitionSpec.isEmpty => w }.size
    QeInfo(
      funcName,
      Recorder.phases(qe),
      exchanges = count { case _: ShuffleExchangeLike => },
      scans = count { case _: FileSourceScanExec | _: BatchScanExec => },
      bnlj = count { case _: BroadcastNestedLoopJoinExec => },
      upw = upw,
      indexReads = scanPaths.count(_.exists(_.contains("/graft_index/"))))
  }
}
