package graft.layerbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class BatchRec(
    queryId: UUID,
    batchId: Long,
    startEpochMs: Long,
    durationMs: Map[String, Long],
    inputRows: Long,
    endOffset: String,
    stateCommitMs: Long,
    stateRows: Long,
    stateMemBytes: Long,
    stateRowsUpdated: Long,
    sinkRows: Long) {
  def phase(k: String): Double = durationMs.getOrElse(k, 0L).toDouble
  def endEpochMs: Long = startEpochMs + durationMs.getOrElse("triggerExecution", 0L)
}

/** Collects every query's progress events (the engine's per-batch phase
  * durations and state-operator figures). Streaming listeners are per
  * session and the engine runs its queries on sessions of its own, so
  * this listens on the context-wide bus, where every session's progress
  * events pass.
  */
final class ProgressLog extends SparkListener {
  private val q = new ConcurrentLinkedQueue[BatchRec]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: StreamingQueryListener.QueryProgressEvent => record(e)
    case _ => ()
  }

  private def record(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    q.add(BatchRec(
      p.id, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      p.sources.headOption.map(_.endOffset).orNull,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsUpdated).sum,
      Option(p.sink).map(_.numOutputRows).getOrElse(-1L)))
  }

  def forQuery(id: UUID): Seq[BatchRec] = q.asScala.filter(_.queryId == id).toVector.sortBy(_.batchId)
}

final case class TaskRec(finishEpochMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

/** Scheduler totals over a wall interval. */
final case class SparkTotals(jobs: Int, stages: Int, tasks: Int, taskCpuS: Double,
    shuffleMb: Double, spillMb: Double, gcS: Double, execS: Double, shuffleWriteMb: Double)

/** Scheduler and executor counters from the public `SparkListener` API. */
final class TaskLog extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) epoch ms of every finished job. */
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add((Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time), e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** (start, end) of the jobs that ended inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[(Long, Long)] =
    jobs.asScala.filter { case (_, e) => e >= from && e <= to }.toVector

  def totals(from: Long, to: Long): SparkTotals = totalsWhere(t => t >= from && t <= to)

  /** Totals of what ended inside any of the intervals. */
  def totalsIn(intervals: Seq[(Long, Long)]): SparkTotals =
    totalsWhere(t => intervals.exists { case (a, b) => t >= a && t <= b })

  private def totalsWhere(in: Long => Boolean): SparkTotals = {
    val ts = tasks.asScala.filter(t => in(t.finishEpochMs)).toVector
    val mb = 1024.0 * 1024.0
    SparkTotals(
      jobs.asScala.count(j => in(j._2)),
      stages.asScala.count(s => in(s)),
      ts.size,
      ts.map(_.cpuNs).sum / 1e9,
      ts.map(t => t.shuffleWriteBytes + t.shuffleReadBytes).sum / mb,
      ts.map(_.spillBytes).sum / mb,
      ts.map(_.gcMs).sum / 1e3,
      ts.map(_.runMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum / mb)
  }
}
