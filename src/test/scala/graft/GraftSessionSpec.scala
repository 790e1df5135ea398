package graft

import graft.GraftSession.{PhaseProperty, phase, phaseNanos}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session factory is the only session builder in the sources, and
  * `phase` tags are per thread, nest, and always restore.
  */
class GraftSessionSpec extends SparkSpec {

  private def tag: String = spark.sparkContext.getLocalProperty(PhaseProperty)
  private def job(): Long = spark.sparkContext.parallelize(1 to 4, 2).count()

  test("nested phase blocks restore the outer tag; none is left after") {
    val before = phaseNanos
    phase(spark, "spec.outer") {
      assert(tag == "spec.outer")
      phase(spark, "spec.inner") {
        assert(tag == "spec.inner")
        Thread.sleep(2)
      }
      assert(tag == "spec.outer")
    }
    assert(tag == null)
    intercept[IllegalStateException] {
      phase(spark, "spec.outer")(throw new IllegalStateException("body"))
    }
    assert(tag == null, "a throwing body restores the tag too")
    def spent(p: String) = phaseNanos(p) - before.getOrElse(p, 0L)
    assert(spent("spec.inner") > 0L)
    assert(spent("spec.outer") >= spent("spec.inner"))
  }

  test("a tag set inside a Future on a pool thread labels only that thread's jobs") {
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // start the pool thread untagged: threads inherit local properties
      Await.result(Future(()), 1.minute)
      val (_, jobs) = jobsByPhase {
        phase(spark, "spec.caller") {
          val leg = Future(phase(spark, "spec.leg")(job()))
          job()
          Await.result(leg, 1.minute)
          assert(tag == "spec.caller", "the leg's tag stays on its thread")
        }
        // the leg restored its thread's (absent) tag
        Await.result(Future(job()), 1.minute)
      }
      assert(jobs == Map("spec.caller" -> 1L, "spec.leg" -> 1L, "" -> 1L))
    } finally pool.shutdown()
  }

  test("q14 at sf0.001: write jobs carry q14.write, the read-back none") {
    val before = phaseNanos.getOrElse("q14.write", 0L)
    val (rows, jobs) = jobsByPhase {
      graft.operators.Marts.partitionedRoundtrip(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert(rows.nonEmpty)
    assert(tag == null)
    assert(jobs.keySet == Set("q14.write", ""), jobs)
    assert(jobs("q14.write") > 0L && jobs("") > 0L, jobs)
    assert(phaseNanos("q14.write") > before)
  }

  test("GraftSession.scala holds the only session builder in the sources") {
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "runs from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val needle = "SparkSession" + ".builder"
    val sites = for {
      f <- roots.flatMap(walk)
      if f.getName != "GraftSession.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
      if line.contains(needle)
    } yield s"${f.getPath}:${i + 1}"
    assert(sites.isEmpty, "build sessions with GraftSession.local:\n" +
      sites.mkString("\n"))
    assert(scala.io.Source.fromFile("src/main/scala/graft/GraftSession.scala", "UTF-8")
      .mkString.contains(needle))
  }
}
