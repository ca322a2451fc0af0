package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder fed only by Spark's public channels: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for every
  * statement with its QueryPlanningTracker phases. Events are buffered
  * as they arrive and attributed to operations after the session stops
  * (which drains the listener bus): jobs by their job group (the op id),
  * statements by the op window their first planning phase falls in. */
final class Trace {
  import Trace._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val stmts = ArrayBuffer.empty[Stmt]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += Job(e.jobId, group.getOrElse(""), e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
      val si = e.stageInfo
      stages += Stage(si.stageId,
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      val ti = e.taskInfo
      val m = e.taskMetrics
      if (ti != null && m != null) {
        val gettingResult =
          if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
        val sched = math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        tasks += Task(e.stageId, ti.duration, m.executorCpuTime, m.jvmGCTime, sched,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val files = try PlanWalk.filesRead(qe) catch { case _: Throwable => 0L }
    stmts.synchronized { stmts += Stmt(funcName, phases, files) }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Trace {
  final case class Job(id: Int, group: String, start: Double, end: Double, stageIds: Seq[Int])
  final case class Stage(id: Int, submitted: Double, completed: Double)
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
                        inBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  /** One executed statement; `phases` maps tracker phase name to its
    * (start, end) in epoch ms; `files` is the number of data files its
    * scans read, where the scan reports it. */
  final case class Stmt(func: String, phases: Map[String, (Double, Double)], files: Long) {
    def firstPhase: Double = if (phases.isEmpty) Double.NaN else phases.values.map(_._1).min
  }

  /** A node of the span tree written out at the end of a traced run. */
  final case class Span(id: String, name: String, op: String, parent: String,
                        start: Double, end: Double)
}

/** Walks executed plans, AQE stages included, for scan file counts. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def filesRead(qe: QueryExecution): Long =
    collect(qe.executedPlan) {
      case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
    }.sum
}
