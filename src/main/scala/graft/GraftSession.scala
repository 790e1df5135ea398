package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one way this project builds a session and attributes time.
  *
  * Session: [[local]] is the config every main and the spec suite run
  * under, so a plan or a timing seen in one of them is the plan or
  * timing of the others.
  *
  * Phases: [[phase]] tags the Spark jobs a block starts with the
  * `graft.phase` local property (per thread: a leg running on a pool
  * thread tags itself inside its own body) and adds the block's wall
  * time to one JVM-wide tally. [[PhaseJobs]] counts started jobs per
  * tag; Bench reports both per query.
  */
object GraftSession {

  /** Local cores: SPARK_GRAFT_CPUS, read once; 4 when unset. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      // deployment config: graft functions injected at construction
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local scratch writes: skip Hadoop .crc sidecars (4x faster
      // many-small-file partitioned writes; irrelevant on HDFS/S3A)
      .config("spark.hadoop.fs.file.impl",
        classOf[NoChecksumLocalFileSystem].getName)
      // status-store retention (round 15): even with the UI disabled,
      // AppStatusListener + SQLAppStatusListener retain up to 1000
      // jobs/stages/executions in the ElementTrackingStore — and this
      // suite's retained SQL executions carry PLAN-GRAPH strings of
      // unrolled-DP oracles and literal-heavy scorers. Across ~600
      // query executions the r14 sweep's heap crept 350 MB -> 1 GB of
      // exactly such state (bench_details/r14 telemetry); old-gen
      // pressure from it is charged to whatever query runs LATE in
      // the sweep. Keep a debugging-sized window instead.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "25")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local property carrying the current phase tag into each job. */
  val PhaseProperty = "graft.phase"

  private val tally = new ConcurrentHashMap[String, LongAdder]()

  /** Run `body` with its jobs tagged `name` on the calling thread; the
    * previous tag (or none) is restored after, and the block's wall
    * time is added to `name`'s tally (nested blocks count in both).
    */
  def phase[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(PhaseProperty)
    sc.setLocalProperty(PhaseProperty, name)
    val t0 = System.nanoTime()
    try body
    finally {
      tally.computeIfAbsent(name, _ => new LongAdder).add(System.nanoTime() - t0)
      sc.setLocalProperty(PhaseProperty, outer)
    }
  }

  /** Wall nanos spent in each phase so far in this JVM. */
  def phaseNanos: Map[String, Long] =
    tally.asScala.view.mapValues(_.sum).toMap

  /** Counts started jobs per phase tag; untagged jobs count under "". */
  final class PhaseJobs extends SparkListener {
    private val counts = new ConcurrentHashMap[String, LongAdder]()
    private val flushes = new AtomicLong(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProperty)))
        .getOrElse("") match {
        case PhaseJobs.Flush => flushes.incrementAndGet()
        case tag => counts.computeIfAbsent(tag, _ => new LongAdder).increment()
      }

    def jobs: Map[String, Long] = counts.asScala.view.mapValues(_.sum).toMap

    /** Listener events arrive asynchronously but in order: start one
      * flush job and wait until it is seen, so [[jobs]] then includes
      * every job started before this call.
      */
    def sync(sc: SparkContext): Unit = {
      val seen = flushes.get()
      val outer = sc.getLocalProperty(PhaseProperty)
      sc.setLocalProperty(PhaseProperty, PhaseJobs.Flush)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(PhaseProperty, outer)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (flushes.get() == seen && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(flushes.get() > seen, "listener never saw the flush job")
    }
  }

  object PhaseJobs {
    private val Flush = "graft.phase.flush"
  }
}

/** Hadoop's local file system with its .crc sidecars switched off. It
  * writes like `RawLocalFileSystem` but is still a `LocalFileSystem`,
  * which `FileSystem.getLocal` casts to: with the raw class configured
  * for `file:`, `copyFromLocalFile` and the RocksDB state store's
  * checkpoint upload throw ClassCastException (PipelineSpec's S9 copy,
  * SessionStreamSpec's RocksDB drain).
  */
final class NoChecksumLocalFileSystem extends LocalFileSystem {
  setWriteChecksum(false)
  setVerifyChecksum(false)
}
