package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.perfbench.{JobRec, SparkProbe, StageRec}
import scala.collection.mutable

/** A timed call into one module: name, start, end and the span that
  * caused it. Wall-clock milliseconds sit next to the nanosecond
  * clock so Spark's event times can be placed inside spans.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one traced run, kept in memory and written out at the
  * end. `span` also publishes the open span's id as a Spark local
  * property, so the probe can tie each job to the call that started
  * it.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size.toLong, stack.headOption.fold(-1L)(_.id), name,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SparkProbe.SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SparkProbe.SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** The spans under `root`, root included. */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson(run: String): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("run" -> run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "duration_s" -> s.seconds,
      "self_s" -> selfSeconds(s))
  }
}

/** Per-layer accounting of one traced batch: its span tree plus the
  * jobs, stages and SQL executions the probe recorded while it ran.
  */
final class BatchAccount(tracer: Tracer, probe: SparkProbe, root: Span,
                         val nproc: Int) {
  val spans: Seq[Span] = tracer.subtree(root)
  private val spanIds = spans.map(_.id).toSet
  val wall: Double = root.seconds

  /** Innermost span of this batch open at wall-clock `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => s.endNs - s.startNs).headOption

  /** Each job of the batch with the span it is charged to: the span
    * open on its submitting thread, else the innermost span open when
    * it started (jobs submitted from pool threads).
    */
  val jobs: Seq[(JobRec, Long)] = probe.allJobs.flatMap { j =>
    if (spanIds.contains(j.span)) Some(j -> j.span)
    else if (j.span < 0 && j.startMs >= root.startMs && j.startMs <= root.endMs)
      spanAt(j.startMs).map(s => j -> s.id)
    else None
  }.sortBy(_._1.id)

  private val execIds: Set[Long] = jobs.map(_._1.execId).filter(_ >= 0).toSet
  val execs = probe.allExecs.filter(e => execIds.contains(e.id) ||
    (e.startMs >= root.startMs && e.startMs <= root.endMs))
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(probe.stages.get(id)))
  val stages: Seq[StageRec] = stagesOf(jobs.map(_._1))

  /** Final value of each distinct SQL metric, summed per (kind, name). */
  private val planSums: Map[(String, String), Long] =
    execs.flatMap(_.metrics).groupBy(_.id).values.map(_.last)
      .groupBy(m => (m.kind, m.name)).map { case (k, ms) => k -> ms.map(_.value).sum }

  def plan(kind: String, name: String): Long = planSums.getOrElse((kind, name), 0L)

  def spansNamed(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))
  def spanSeconds(prefix: String): Double = spansNamed(prefix).map(_.seconds).sum

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = tracer.subtree(s).map(_.id).toSet
    jobs.collect { case (j, sid) if ids.contains(sid) => j }
  }

  /** Wall seconds of [from, to] during which at least one of `js` ran. */
  def coveredSeconds(js: Seq[JobRec], fromMs: Long, toMs: Long): Double = {
    val iv = js.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total += curB - curA
    total / 1e3
  }

  /** Spark-engine layer metrics shared by every workload. */
  def engine: Seq[(String, Double)] = {
    val runS = stages.map(_.runMs).sum / 1e3
    val phase = (p: String) => execs.map(_.phasesMs.getOrElse(p, 0L)).sum / 1e3
    Seq(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "app.driver_gap_s" -> (wall - coveredSeconds(jobs.map(_._1),
        root.startMs, root.endMs)),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.numTasks).sum.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.core_busy_frac" -> runS / (wall * nproc),
      "spark.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "io.files_written" -> plan("write", "numFiles").toDouble,
      "io.bytes_written" -> plan("write", "numOutputBytes").toDouble,
      "io.task_commit_s" -> plan("write", "taskCommitTime") / 1e3,
      "io.job_commit_s" -> plan("write", "jobCommitTime") / 1e3,
      "marts.agg_build_s" -> plan("hashagg", "aggTime") / 1e3)
  }

  /** Σ self time over the batch's spans; equals `wall` when every
    * child span nests inside its parent.
    */
  def selfSum: Double = spans.map(tracer.selfSeconds).sum
}

/** JVM-wide counters read before and after a batch. */
object JvmCounters {
  import scala.jdk.CollectionConverters._
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime).sum / 1e3

  /** Total codegen compile seconds from Spark's compile-time histogram.
    * The histogram keeps every sample up to its reservoir size, so the
    * sum is exact for runs with fewer compilations than that.
    */
  def codegenSeconds: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getSnapshot.getValues.map(_.toDouble).sum / 1e3

  /** Driver heap in use after full collections, in MB. */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
