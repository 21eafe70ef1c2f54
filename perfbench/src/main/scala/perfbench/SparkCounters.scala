package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, timeMs: Long, stages: Seq[Int])
final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)
/** Catalyst phase times of one finished query execution, in ms. */
final case class PlanRec(analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Spark's public listener data for the benchmark's session: job starts,
  * task metrics and the `QueryExecution.tracker` phases of every
  * execution. Records accumulate until `drain`. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val plans = new ConcurrentLinkedQueue[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    plans.add(PlanRec(ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING)))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Everything recorded since the last drain, after the listener bus has
    * delivered every event posted so far. */
  def drain(spark: SparkSession): (Seq[JobRec], Seq[TaskRec], Seq[PlanRec]) = {
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    (take(jobs), take(tasks), take(plans))
  }
}

