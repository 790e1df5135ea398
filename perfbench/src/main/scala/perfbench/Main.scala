package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkProbe
import scala.collection.mutable

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --scratch DIR --nproc P --result FILE
  *
  * Set-up runs five times (median reported), then the first batch of
  * the fresh JVM, warm-up batches (checked, not timed) for at least six
  * seconds, then warm batches until `--seconds` have passed and at
  * least three have run.
  * With `--trace 1` warm batches alternate untraced and traced; the
  * traced ones give the per-layer metrics and their ratio gives the
  * tracing overhead. Results go to `--result` as JSON, spans next to
  * it; `perfbench/run.py` builds, launches and reports.
  */
object Main {
  /** Set-ups per run; the first pays JVM warm-up, so the median of five
    * sits past it where a median of three did not.
    */
  private val SetupRepeats = 5
  /** Warm batches measured even when they outlast `--seconds`: a median
    * of three cannot be set by one stalled batch.
    */
  private val MinBatches = 3
  /** Untimed batches after the first, for at least this long: the JIT
    * keeps speeding up the first warm batches, and samples taken on that
    * slope make medians of short runs drift.
    */
  private val WarmupSeconds = 6.0

  def session(nproc: Int, scratch: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.hadoop.tmp.dir", new File(scratch, "tmp").getAbsolutePath)
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "25")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val scratch = new File(opt("scratch")).getAbsoluteFile
    val nproc = opt("nproc").toInt
    val resultFile = new File(opt("result"))
    System.setProperty("derby.system.home", new File(scratch, "derby").getPath)
    System.setProperty("derby.stream.error.file", new File(scratch, "derby.log").getPath)

    val t0 = System.nanoTime()
    val spark = session(nproc, scratch)
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val wl: Workload = workload match {
      case "etl_many_files" => new EtlWorkload(spark, EtlShape.manyFiles, seed, scratch)
      case "etl_large_batch" => new EtlWorkload(spark, EtlShape.largeBatch, seed, scratch)
      case "query_mix" => new QueryMix(spark, seed, scratch)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupSecs = (1 to SetupRepeats).map { _ =>
      val s0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - s0) / 1e9
    }

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def record(label: String, b: BatchResult): Unit = {
      attempted += b.ops
      failed += b.failed
      failures ++= b.failures.map(f => s"$label: $f")
    }

    wl.reset()
    val cg0 = JvmCounters.codegenSeconds
    val gc0 = JvmCounters.gcSeconds
    val first = wl.batch(None)
    record("first batch", first)
    val firstCompile = JvmCounters.codegenSeconds - cg0
    val firstGc = JvmCounters.gcSeconds - gc0
    val warmups = mutable.ArrayBuffer.empty[BatchResult]
    while (warmups.map(_.seconds).sum < WarmupSeconds) {
      wl.reset()
      val b = wl.batch(None)
      record(s"warm-up batch ${warmups.size + 1}", b)
      warmups += b
    }

    val tracer = new Tracer(spark.sparkContext)
    val warm = mutable.ArrayBuffer.empty[BatchResult]
    val traced = mutable.ArrayBuffer.empty[(BatchResult, Map[String, Double])]
    val accounting = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < MinBatches || System.nanoTime() < deadline) {
      // untraced, traced, traced, untraced, …: both kinds sit equally
      // early and late, so the JIT's drift does not bias trace_overhead
      val traceThis = trace && (i % 4 == 1 || i % 4 == 2)
      wl.reset()
      if (traceThis) { probe.drain(spark.sparkContext); probe.clear() }
      val cg = JvmCounters.codegenSeconds
      val gc = JvmCounters.gcSeconds
      val b = wl.batch(if (traceThis) Some(tracer) else None)
      record(s"batch ${i + 1}", b)
      if (traceThis) {
        val compile = JvmCounters.codegenSeconds - cg
        val gcs = JvmCounters.gcSeconds - gc
        probe.drain(spark.sparkContext)
        val root = tracer.spans.filter(_.name == "batch").last
        val acct = new BatchAccount(tracer, probe, root, nproc)
        val selfGap = math.abs(acct.selfSum - acct.wall)
        val broken = (if (selfGap > 0.005)
          Seq(f"span self times sum to ${acct.selfSum}%.4f s, batch wall ${acct.wall}%.4f s")
        else Nil) ++ wl.accounting(acct)
        accounting += Map("batch" -> (i + 1), "wall_s" -> acct.wall,
          "self_sum_s" -> acct.selfSum, "jobs" -> acct.jobs.size,
          "broken" -> broken)
        failures ++= broken.map(f => s"accounting, batch ${i + 1}: $f")
        if (broken.nonEmpty) failed += 1
        traced += ((b, (acct.engine ++ wl.layers(acct, b) ++ Seq(
          "codegen.compile_s" -> compile, "spark.gc_s" -> gcs)).toMap))
      } else warm += b
      i += 1
    }
    wl.close()
    val heapMb = JvmCounters.retainedHeapMb

    val median = Stats.median _
    val batchS = median(warm.map(_.seconds).toSeq)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> median(setupSecs),
        "first_batch_s" -> first.seconds,
        "batch_s" -> batchS,
        "output_files" -> median((first +: (warmups ++ warm)).map(_.extra("output_files")).toSeq),
        "heap_retained_mb" -> heapMb)
      else {
        val names = traced.flatMap(_._2.keys).distinct
        names.map(n => n -> median(traced.flatMap(_._2.get(n)).toSeq)).toMap ++
          wl.setupLayers ++ Map(
            "trace_overhead" -> median(traced.map(_._1.seconds).toSeq) / batchS,
            "codegen.first_batch_compile_s" -> firstCompile,
            "spark.first_batch_gc_s" -> firstGc)
      }

    val spansFile = new File(resultFile.getPath.stripSuffix(".json") + ".spans.json")
    if (trace) Files.writeString(spansFile.toPath, Json(tracer.toJson(workload)))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "nproc" -> nproc,
      "session_start_s" -> sessionSecs,
      "setup_s_samples" -> setupSecs,
      "first_batch_s" -> first.seconds,
      "warmup_batch_s" -> warmups.map(_.seconds),
      "batch_s_samples" -> warm.map(_.seconds),
      "batch_s_tail" -> Stats.tail(warm.map(_.seconds).toSeq)
        .map { case (p, v) => Map("percentile" -> p, "value" -> v) },
      "traced_batch_s_samples" -> traced.map(_._1.seconds),
      "batch_counts" -> (first +: (warmups ++ warm)).map(_.extra),
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(50),
      "metrics" -> metrics,
      "accounting" -> accounting,
      "spans_file" -> (if (trace) spansFile.getPath else null))
    wl match {
      case q: QueryMix => out("verify") = q.verifyManifest
      case _ =>
    }
    Files.writeString(resultFile.toPath, Json(out))
    spark.stop()
  }
}
