package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call counters of the traced run, gathered from outside the engine:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phase times from `QueryExecution.tracker`) and Spark's static
  * `CodegenMetrics`. One client thread runs one call at a time, so every
  * event between a call's start and the drained bus belongs to that call. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  // (start ms, end ms) of every finished job
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs") += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("task_cpu_s") += m.executorCpuTime / 1e9
      c("task_run_s") += m.executorRunTime / 1e3
      c("shuffle_b") += m.shuffleWriteMetrics.bytesWritten
      c("input_b") += m.inputMetrics.bytesRead
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) => c(s"${p}_s") += s.durationMs / 1e3 }
  }

  private def compiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount.toDouble

  /** Counters as of now, after every queued event has been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(c.toMap) + ("compiles" -> compiles)
  }

  /** Counter deltas of one call between two snapshots, plus the driver
    * gap: the part of [t0, t1] (epoch ms) when no job was running. */
  def delta(before: Map[String, Double], after: Map[String, Double],
      t0: Long, t1: Long): Map[String, Double] = {
    val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    val spans = synchronized(jobSpans.toSeq)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var end = t0
    spans.foreach { case (s, e) =>
      if (e > end) { busy += e - math.max(s, end); end = e }
    }
    d + ("gap_s" -> (t1 - t0 - busy) / 1e3)
  }
}
