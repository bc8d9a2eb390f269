package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Event records kept in memory and written out when the run ends.
  * Times are epoch milliseconds, the clock Spark's own events use. */
final case class JobRec(id: Int, start: Long, var end: Long, group: String,
                        stageIds: Seq[Int])
final class StageRec(val id: Int, val attempt: Int) {
  var submit = 0L; var complete = 0L; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var input = 0L; var output = 0L
}
final case class PhaseRec(execution: Long, phase: String, start: Long, end: Long)
final case class EpochRec(runId: String, batchId: Long, start: Long,
                          durations: Map[String, Long], rows: Long,
                          stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** Stream progress, needed by the end-to-end epoch metrics, so it is
  * attached in untraced runs too. */
final class EpochListener extends StreamingQueryListener {
  val epochs = ArrayBuffer.empty[EpochRec]
  val started = ArrayBuffer.empty[(String, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized {
      started += ((e.runId.toString, java.time.Instant.parse(e.timestamp).toEpochMilli))
    }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    val rec = EpochRec(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum)
    synchronized { epochs += rec }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Jobs, stages, task metrics and Catalyst phases of the traced passes. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val phases = ArrayBuffer.empty[PhaseRec]
  val executions = new AtomicLong

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  def stageRecs: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = JobRec(e.jobId, e.time, -1L, group, e.stageIds)
    jobById.put(e.jobId, rec)
    synchronized { jobs += rec }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.synchronized {
      s.submit = i.submissionTime.getOrElse(0L)
      s.complete = i.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val id = executions.incrementAndGet()
    val ps = qe.tracker.phases.toSeq.map { case (name, p) =>
      PhaseRec(id, name, p.startTimeMs, p.endTimeMs)
    }
    synchronized { phases ++= ps }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
