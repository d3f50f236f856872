package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Running totals of the work Spark reports to its listener bus. Read
  * them only after a drain (see `ListenerDrain`). */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, taskRunMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, inputRows: Long = 0, inputBytes: Long = 0,
    batches: Long = 0, streamRows: Long = 0, stateRows: Long = 0) {
  private def plus(o: Totals, k: Long): Totals = Totals(
    jobs + k * o.jobs, stages + k * o.stages, tasks + k * o.tasks,
    taskCpuNs + k * o.taskCpuNs, taskRunMs + k * o.taskRunMs,
    shuffleWriteBytes + k * o.shuffleWriteBytes,
    shuffleReadBytes + k * o.shuffleReadBytes, spillBytes + k * o.spillBytes,
    inputRows + k * o.inputRows, inputBytes + k * o.inputBytes,
    batches + k * o.batches, streamRows + k * o.streamRows, stateRows + k * o.stateRows)
  def +(o: Totals): Totals = plus(o, 1)
  def -(o: Totals): Totals = plus(o, -1)
}

/** A job as the traced pass records it: the span it was submitted
  * under, its wall interval (epoch ms) and the stages that ran for it. */
final case class JobRec(id: Int, span: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])
final case class StageRec(id: Int, name: String, startMs: Long, endMs: Long,
    tasks: Int, cpuNs: Long, runMs: Long)

/** The benchmark's own listener: totals always, job and stage records
  * only while `recording` is on (the traced pass). */
final class Probe extends SparkListener {
  @volatile private var t = Totals()
  @volatile var recording = false
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]

  def totals: Totals = synchronized(t)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    if (recording) {
      val span = Option(e.properties).map(_.getProperty(Probe.SpanKey)).orNull
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      t = t.copy(
        stages = t.stages + 1, tasks = t.tasks + si.numTasks,
        taskCpuNs = t.taskCpuNs + m.executorCpuTime,
        taskRunMs = t.taskRunMs + m.executorRunTime,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = t.spillBytes + m.diskBytesSpilled,
        inputRows = t.inputRows + m.inputMetrics.recordsRead,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead)
      if (recording)
        stages(si.stageId) = StageRec(si.stageId, si.name,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          si.numTasks, m.executorCpuTime, m.executorRunTime)
    }
  }

  /** Streaming progress arrives on the same bus, so the same drain
    * covers it. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        t = t.copy(batches = t.batches + 1,
          streamRows = t.streamRows + math.max(0L, p.numInputRows),
          stateRows = t.stateRows + p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  def clearRecords(): Unit = synchronized { jobs.clear(); stages.clear() }
}

object Probe {
  val SpanKey = "perfbench.span"
}
