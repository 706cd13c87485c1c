package graft.perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Job- and stage-level spans of the timed ops, recorded from Spark's
  * listener bus. Every job the harness submits while an op runs carries the
  * op's id and phase as local properties ([[SparkTrace.OpProp]],
  * [[SparkTrace.PhaseProp]]); Spark copies them onto the jobs it launches
  * from its own threads (broadcasts, subqueries), so each job, stage and
  * task is attributed to the op that caused it. Spans stay in memory until
  * the run ends. */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageRecords = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageFailures = mutable.Map.empty[(Int, Int), Int]
  private val openJobs = mutable.Map.empty[Int, JobSpan]
  @volatile private var fence = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
      .map(_.toLong).getOrElse(-1L)
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
      .getOrElse("")
    if (op == FenceOp) fence = e.jobId
    e.stageIds.foreach(stageOp(_) = op)
    openJobs(e.jobId) = JobSpan(e.jobId, op, phase, e.time, -1L, e.stageIds.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    if (e.jobId == fence) notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.reason != Success) {
      val k = (e.stageId, e.stageAttemptId)
      stageFailures(k) = stageFailures.getOrElse(k, 0) + 1
    } else if (m != null) {
      val recs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      stageRecords.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += recs
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val recs = stageRecords.remove((i.stageId, i.attemptNumber()))
      .getOrElse(mutable.ArrayBuffer.empty[Long])
    stages += StageSpan(
      stageId = i.stageId, op = stageOp.getOrElse(i.stageId, -1L),
      startMs = i.submissionTime.getOrElse(0L),
      endMs = i.completionTime.getOrElse(0L),
      tasks = i.numTasks,
      failedTasks = stageFailures.remove((i.stageId, i.attemptNumber())).getOrElse(0),
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      gcMs = if (m == null) 0L else m.jvmGCTime,
      inputBytes = if (m == null) 0L else m.inputMetrics.bytesRead,
      outputBytes = if (m == null) 0L else m.outputMetrics.bytesWritten,
      shuffleReadBytes = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spillBytes = if (m == null) 0L else m.diskBytesSpilled,
      maxTaskRecords = if (recs.isEmpty) 0L else recs.max,
      records = recs.sum)
  }

  /** Wait until every event posted before this call has been delivered:
    * runs a one-task job tagged as the fence and waits for its end event,
    * which the bus delivers after everything queued ahead of it. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit = {
    fence = -1L
    sc.setLocalProperty(OpProp, FenceOp.toString)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(OpProp, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while ((fence < 0 || !jobs.exists(_.jobId == fence)) &&
          System.currentTimeMillis() < deadline)
        wait(100L)
    }
  }
}

object SparkTrace {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
  val FenceOp: Long = -2L

  final case class JobSpan(jobId: Int, op: Long, phase: String,
                           startMs: Long, endMs: Long, stages: Int)

  final case class StageSpan(stageId: Int, op: Long, startMs: Long, endMs: Long,
                             tasks: Int, failedTasks: Int, cpuNs: Long, gcMs: Long,
                             inputBytes: Long, outputBytes: Long,
                             shuffleReadBytes: Long, shuffleWriteBytes: Long,
                             spillBytes: Long, maxTaskRecords: Long, records: Long)

}
