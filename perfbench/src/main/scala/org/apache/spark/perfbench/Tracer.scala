package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in spans for one traced pass. Jobs carry the query id and
  * phase the calling thread set as local properties when they were
  * submitted; streaming threads inherit them from the thread that
  * started the query. Micro-batch progress carries no properties, so it
  * is attributed to the query running when the listener bus delivered
  * it; end() drains the bus before the next query starts. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  /** Per job: every counter summed over the tasks of its stages. */
  val jobs = ArrayBuffer.empty[JobSpan]
  val batches = ArrayBuffer.empty[BatchSpan]
  private val jobById = new ConcurrentHashMap[Int, JobSpan]()
  private val jobOfStage = new ConcurrentHashMap[Int, JobSpan]()
  @volatile private var current = "-"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = JobSpan(e.jobId,
        p.flatMap(x => Option(x.getProperty(QidKey))).getOrElse("-"),
        p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("-"),
        e.time)
      jobById.put(e.jobId, j)
      e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, j))
      jobs.synchronized(jobs += j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(jobOfStage.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOfStage.get(e.stageId)).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.diskBytesSpilled
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val b = BatchSpan(current, p.batchId, d("triggerExecution"), d("addBatch"),
        d("queryPlanning"), d("walCommit"), d("commitOffsets"),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.numInputRows)
      batches.synchronized(batches += b)
    }
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(qid: String): Unit = { current = qid; sc.setLocalProperty(QidKey, qid) }
  def phase(p: String): Unit = sc.setLocalProperty(PhaseKey, p)

  /** Deliver every queued listener event before the query id changes. */
  def end(): Unit = {
    drain()
    sc.setLocalProperty(QidKey, null)
    sc.setLocalProperty(PhaseKey, null)
    current = "-"
  }

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty()
}

object Tracer {
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"

  final case class JobSpan(id: Int, qid: String, phase: String, start: Long) {
    var end = 0L
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, gcMs, inputBytes, outputBytes = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  }

  final case class BatchSpan(qid: String, batchId: Long, triggerMs: Long,
      addBatchMs: Long, queryPlanningMs: Long, walCommitMs: Long,
      commitOffsetsMs: Long, stateCommitMs: Long, stateRows: Long,
      inputRows: Long)
}
