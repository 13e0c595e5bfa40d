package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters of one timed operation, taken from Spark's own
  * listener events. Times are seconds, sizes bytes. `jobs` holds the
  * wall-clock interval of every job (epoch ms) and whether it was a
  * file-listing job. */
final case class EngineDelta(
    jobs: Seq[(Long, Long, Boolean)], stages: Long, tasks: Long,
    listTasks: Long, scanTasks: Long, taskRunS: Double, taskCpuS: Double,
    gcS: Double, inputBytes: Long, outputBytes: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, planS: Double)

/** A SparkListener plus QueryExecutionListener owned by the benchmark.
  * It is attached only in traced runs; `take()` waits for the listener
  * bus to drain and returns what happened since the previous `take()`. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  private val listingStages = mutable.Set.empty[Int]
  private var stages, tasks, listTasks, scanTasks = 0L
  private var runMs, gcMs, cpuNs = 0L
  private var inputBytes, outputBytes, shufWrite, shufRead, spill = 0L
  private var planMs = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val listing = desc.startsWith("Listing leaf files")
    if (listing) listingStages ++= e.stageIds
    jobStart(e.jobId) = (e.time, listing)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, listing) =>
      jobs += ((t0, e.time, listing))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (listingStages.contains(e.stageId)) listTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      if (m.inputMetrics.bytesRead > 0) scanTasks += 1
      inputBytes += m.inputMetrics.bytesRead
      // files written, or task results sent back to the caller
      outputBytes += m.outputMetrics.bytesWritten + m.resultSize
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      shufRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
    }
  }

  private def planning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planning(qe)

  def take(): EngineDelta = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      val d = EngineDelta(jobs.toList, stages, tasks, listTasks, scanTasks,
        runMs / 1e3, cpuNs / 1e9, gcMs / 1e3, inputBytes, outputBytes,
        shufWrite, shufRead, spill, planMs / 1e3)
      jobs.clear(); listingStages.clear()
      stages = 0; tasks = 0; listTasks = 0; scanTasks = 0
      runMs = 0; gcMs = 0; cpuNs = 0
      inputBytes = 0; outputBytes = 0; shufWrite = 0; shufRead = 0; spill = 0
      planMs = 0
      d
    }
  }
}
