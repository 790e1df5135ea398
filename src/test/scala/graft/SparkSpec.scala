package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it): the mains' config, with
  * the custom functions injected at construction (GraftExtensionsSpec
  * proves resolution in a registry-fresh child session).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` under a fresh [[GraftSession.PhaseJobs]] listener and
    * returns its result with the jobs started meanwhile, per phase tag.
    */
  def jobsByPhase[T](body: => T): (T, Map[String, Long]) = {
    val sc = spark.sparkContext
    val listener = new GraftSession.PhaseJobs
    sc.addSparkListener(listener)
    try {
      val out = body
      listener.sync(sc)
      (out, listener.jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started on this thread while `body` runs (the body's
    * own phase tags, if any, hide its jobs from this count).
    */
  def jobsStartedBy[T](body: => T): (T, Long) = {
    val tag = "spec.body"
    val (out, jobs) = jobsByPhase(GraftSession.phase(spark, tag)(body))
    (out, jobs.getOrElse(tag, 0L))
  }
}
