package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local property that tags every job, stage and task with the query
  * and phase that launched it: `<query index>:<b|x>` for build and
  * execution. */
object Tag {
  val Key = "perfbench.tag"
  def apply(query: Int, phase: Char): String = s"$query:$phase"
}

final case class JobRec(id: Int, tag: String, start: Long, var end: Long, tables: Boolean)

final case class TaskRec(stage: Int, tag: String, launch: Long, finish: Long,
                         ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                         peakMem: Long, inRecords: Long, inBytes: Long,
                         shWriteBytes: Long, shWriteRecords: Long,
                         shReadBytes: Long, fetchWaitMs: Long,
                         spillDisk: Long, spillMem: Long)

/** One finished `QueryExecution`: its planning phases as epoch-ms
  * intervals and the exchange counts of its final (post-AQE) plan. */
final case class PlanRec(phases: Seq[(String, Long, Long)], exchanges: Int,
                         reused: Int)

object PlanShape extends AdaptiveSparkPlanHelper {
  /** (exchanges, reused exchanges) in the final plan, subqueries
    * included; AQE query stages are walked into, reused ones counted
    * once as reused. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case n => n }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }
}

/** Collects scheduler and Catalyst events while tracing is on. Events
  * arrive on the listener bus thread; read them only after
  * `org.apache.spark.perfbench.Bus.drain`. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  /** stage id -> id of the first job that lists it (the one that ran it) */
  val stageJob = mutable.HashMap.empty[Int, Int]
  /** stage id -> tag of the query phase that submitted it */
  val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tag.Key))).getOrElse("")

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); plans.clear()
    stageJob.clear(); stageTag.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the schema-inference job of `spark.read.parquet` carries the
    // caller's frame in its call site: graft.Tables for table handles
    val tables = e.stageInfos.exists(s =>
      s.name.contains("Tables.scala") || s.details.contains("graft.Tables"))
    jobs += JobRec(e.jobId, tagOf(e.properties), e.time, e.time, tables)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    def g(f: => Long): Long = if (m == null) 0L else f
    tasks += TaskRec(e.stageId, stageTag.getOrElse(e.stageId, ""),
      i.launchTime, i.finishTime, e.reason == Success,
      g(m.executorRunTime), g(m.executorCpuTime), g(m.jvmGCTime),
      g(m.peakExecutionMemory),
      g(m.inputMetrics.recordsRead), g(m.inputMetrics.bytesRead),
      g(m.shuffleWriteMetrics.bytesWritten), g(m.shuffleWriteMetrics.recordsWritten),
      g(m.shuffleReadMetrics.totalBytesRead), g(m.shuffleReadMetrics.fetchWaitTime),
      g(m.diskBytesSpilled), g(m.memoryBytesSpilled))
  }

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val (ex, reused) = PlanShape.exchanges(qe.executedPlan)
    synchronized { plans += PlanRec(phases, ex, reused) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
}
