package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters per step, fed by a SparkListener (jobs, stages,
  * tasks) and a QueryExecutionListener (actions, planning time, files
  * read by file scans). Events are charged to `tracer.step` while the
  * tracer is on; the run loop drains the listener bus after every step
  * so no event crosses a step boundary.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  // (step, start epoch ms, end epoch ms) of every job
  private val jobStarts = mutable.Map.empty[Int, (Int, Long)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def charge(name: String, v: Double): Unit = tracer.count(name, v)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracer.on) {
      jobStarts(e.jobId) = (tracer.step, e.time)
      charge("spark.jobs", 1)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (step, t0) => jobSpans += ((step, t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    charge("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.on) {
    charge("spark.tasks", 1)
    charge("spark.task_ms", e.taskInfo.duration.toDouble)
    Option(e.taskMetrics).foreach { m =>
      charge("spark.gc_ms", m.jvmGCTime.toDouble)
      charge("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      charge("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(qe)

  private def action(qe: QueryExecution): Unit = if (tracer.on) {
    charge("spark.actions", 1)
    val phases = qe.tracker.phases
    charge("spark.plan_ms",
      Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble)
    val files = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    charge("lake.files_read", files.toDouble)
  }

  /** Job intervals of one step, in epoch milliseconds. */
  def jobsOf(step: Int): Seq[(Long, Long)] = synchronized {
    jobSpans.collect { case (s, t0, t1) if s == step => (t0, t1) }.toSeq
  }
}
