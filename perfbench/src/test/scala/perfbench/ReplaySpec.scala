package perfbench

import graft.app.PipelineRunner
import graft.app.PipelineRunner.{Dimensions, PipelineConfig, RunReport}
import graft.ledger.InMemoryRunLedger
import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The traced replay must stay the pipeline: on one generated input,
  * `Replay.run` and `PipelineRunner.run` give the same marts, report,
  * file placement and ledger. A change to `PipelineRunner` that the
  * replay does not follow fails here.
  */
class ReplaySpec extends AnyFunSuite {

  test("traced replay equals PipelineRunner.run: marts, report, files, ledger") {
    val root = Files.createTempDirectory("perfbench-replay").toFile
    System.setProperty("derby.stream.error.file", new File(root, "derby.log").getPath)
    val spark = Main.session(2, root)
    try {
      val shape = EtlShape(files = 6, rowsPerFile = 200, customers = 40,
        stores = 3, personsPerStore = 2, months = 3)
      val inputs = new File(root, "inputs")
      EtlInputs.generate(shape, 7L, inputs)
      val url = "jdbc:derby:memory:perfbench-replay"
      EtlInputs.loadDerby(url + ";create=true", shape)
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

      def runIn(name: String)(
          f: (PipelineConfig, Dimensions, InMemoryRunLedger) => RunReport)
          : (PipelineConfig, RunReport, InMemoryRunLedger) = {
        val dir = new File(root, name)
        val cfg = PipelineConfig(s"$dir/in", s"$dir/error", s"$dir/processed", s"$dir/out")
        new File(cfg.inputDir).mkdirs()
        inputs.listFiles().foreach(f =>
          Files.copy(f.toPath, new File(cfg.inputDir, f.getName).toPath))
        val ledger = new InMemoryRunLedger
        (cfg, f(cfg, Dimensions.fromJdbc(spark, url, props), ledger), ledger)
      }
      val (c1, r1, l1) = runIn("real")(PipelineRunner.run(spark, _, _, _))
      val tracer = new Tracer(spark.sparkContext)
      val (c2, r2, l2) = runIn("replay") { (c, d, l) =>
        tracer.span("batch")(Replay.run(spark, c, d, new TracedLedger(l, tracer), tracer))
      }

      def name(p: String) = new File(p).getName
      assert(r1.goodFiles.map(name) == r2.goodFiles.map(name))
      assert(r1.quarantined.map { case (p, m) => (name(p), m) } ==
        r2.quarantined.map { case (p, m) => (name(p), m) })
      assert(r1.quarantined.nonEmpty)
      assert(r1.staleActiveFiles == r2.staleActiveFiles)
      assert(r1.audit == r2.audit)
      assert((r1.customerMartRows, r1.salesMartRows) == (r2.customerMartRows, r2.salesMartRows))
      Seq("customers_data_mart", "sales_team_data_mart",
        "sales_team_data_mart_partitioned").foreach { mart =>
        def rows(c: PipelineConfig) =
          spark.read.parquet(s"${c.outputDir}/$mart").collect().map(_.toString).sorted.toSeq
        assert(rows(c1) == rows(c2), mart)
      }
      def tree(dir: String): Seq[String] = {
        val base = new File(dir).toPath
        Files.walk(base).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => Files.isDirectory(p) || p.getFileName.toString.endsWith(".csv"))
          .map(p => base.relativize(p).toString).sorted.toSeq
      }
      Seq[PipelineConfig => String](_.inputDir, _.errorDir, _.processedDir,
        c => s"${c.outputDir}/sales_team_data_mart_partitioned").foreach { d =>
        assert(tree(d(c1)) == tree(d(c2)))
      }
      assert(l1.all == l2.all)

      // one span per module call, every self time inside its parent
      val names = tracer.spans.map(_.name).toSet
      assert(Set("fs.list", "fs.move", "ledger.activeFiles", "ledger.markActive",
        "ledger.markInactive", "ingest.triage", "ingest.unionFold",
        "enrich.enrichWithAudit", "marts.customerMart", "marts.salesMart",
        "io.writeFlat", "io.writePartitioned", "app.readback").subsetOf(names))
      assert(tracer.spans.forall(s => tracer.selfSeconds(s) >= 0))
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }
}
