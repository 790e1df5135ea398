package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. `span` is the benchmark span
  * that was open on the submitting thread (-1 when the job came from
  * a thread without one); times are wall-clock milliseconds.
  */
final case class JobRec(id: Int, span: Long, execId: Long, startMs: Long,
                        stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task metrics of one completed stage, summed over its tasks. */
final case class StageRec(numTasks: Int, runMs: Long, cpuNs: Long,
                          inputBytes: Long, shuffleReadBytes: Long,
                          shuffleWriteBytes: Long, spillBytes: Long)

/** One SQL metric of the executed plan. `kind` names the operator
  * family (`scan:csv`, `write`, `hashagg`, …); `id` is the metric's
  * own id, so a metric reached through two plans (a cached relation
  * read by several writes) is counted once.
  */
final case class PlanMetric(kind: String, name: String, id: Long, value: Long)

/** One SQL execution: planning phase times from its
  * `QueryPlanningTracker` and the SQL metrics of its final plan.
  */
final case class ExecRec(id: Long, startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var phasesMs: Map[String, Long] = Map.empty
  @volatile var metrics: Seq[PlanMetric] = Nil
  @volatile var broadcastJoins: Int = 0
}

/** Reads Spark's own accounting from outside the program: job and
  * stage events from the scheduler, and the executed plan of every
  * SQL execution. It lives under `org.apache.spark.sql` only to reach
  * the `QueryExecution` carried by the execution-end event and to
  * drain the listener bus; it changes nothing in the program.
  */
final class SparkProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def longProp(k: String): Long =
      props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, longProp(SparkProbe.SpanProperty),
      longProp("spark.sql.execution.id"), e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecRec(s.executionId, s.time))
    case s: SparkListenerSQLExecutionEnd =>
      val r = execs.computeIfAbsent(s.executionId, id => ExecRec(id, s.time))
      r.endMs = s.time
      val qe = s.qe
      if (qe != null) {
        r.phasesMs = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        val (ms, bhj) = SparkProbe.planMetrics(qe.executedPlan)
        r.metrics = ms
        r.broadcastJoins = bhj
      }
    case _ =>
  }

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def clear(): Unit = { jobs.clear(); stages.clear(); execs.clear() }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq
  def allExecs: Seq[ExecRec] = execs.values.asScala.toSeq
}

object SparkProbe {
  /** Local property naming the open benchmark span on a thread. */
  val SpanProperty = "perfbench.span"

  /** Every SQL metric of a final plan, walking through adaptive
    * stages, cached relations and subqueries, plus the number of
    * broadcast hash joins it holds.
    */
  def planMetrics(root: SparkPlan): (Seq[PlanMetric], Int) = {
    val out = mutable.ArrayBuffer.empty[PlanMetric]
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var bhj = 0
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      val kind = p match {
        case s: FileSourceScanExec =>
          "scan:" + s.relation.fileFormat.toString.toLowerCase
        case _: DataWritingCommandExec => "write"
        case _: HashAggregateExec => "hashagg"
        case _: BroadcastHashJoinExec => bhj += 1; "bhj"
        case _ => p.nodeName
      }
      p.metrics.foreach { case (name, m) =>
        out += PlanMetric(kind, name, m.id, m.value) }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    (out.toSeq, bhj)
  }
}
