package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage totals folded from task-end events. */
final class StageAgg(val stageId: Int) {
  var submitMs = -1L
  var completeMs = -1L
  var tasks = 0
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** A stage that reads shuffle output is a reduce stage; one that does not
    * reads the input (a map stage). */
  def isMap: Boolean = shuffleReadBytes == 0L
  def wallMs: Long = if (submitMs >= 0 && completeMs >= submitMs) completeMs - submitMs else 0L
}

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class PhaseRec(funcName: String, startMs: Long, endMs: Long,
    phases: Map[String, (Long, Long)])

/** Listener-bus recorder: jobs, stages, tasks and block drops, stamped
  * with event times so they can be attributed to the benchmark operation
  * whose time window contains them. The scheduler events are counted in
  * every run; the query-execution phase listener is registered only by
  * traced runs. */
final class Recorder extends SparkListener {
  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageAgg]
  val drops = new AtomicLong(0L)
  val phases = new ConcurrentLinkedQueue[PhaseRec]

  private def agg(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = agg(i.stageId)
    a.submitMs = i.submissionTime.getOrElse(-1L)
    a.completeMs = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = agg(e.stageId)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (!e.blockUpdatedInfo.storageLevel.isValid) drops.incrementAndGet()

  /** Planning phases of every executed query (traced runs only). */
  val phaseListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(f: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
      if (ph.nonEmpty)
        phases.add(PhaseRec(f, ph.values.map(_._1).min, ph.values.map(_._2).max, ph))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = rec(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(f, qe)
  }

  /** Jobs whose start time falls in [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq.sortBy(_.jobId)

  def phasesIn(fromMs: Long, toMs: Long): Seq[PhaseRec] =
    phases.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
}
