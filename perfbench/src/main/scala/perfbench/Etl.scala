package perfbench

import graft.app.PipelineRunner
import graft.app.PipelineRunner.{Dimensions, PipelineConfig, RunReport}
import graft.enrich.DimensionEnricher
import graft.fs.ObjectStore
import graft.ingest.CsvIngest
import graft.io.Writers
import graft.ledger.{JdbcRunLedger, RunLedger}
import graft.marts.RetailMarts
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A ledger that opens one span per call into the wrapped ledger. */
final class TracedLedger(inner: RunLedger, t: Tracer) extends RunLedger {
  override def activeFiles(fileNames: Seq[String]): Seq[String] =
    t.span("ledger.activeFiles")(inner.activeFiles(fileNames))
  override def markActive(fileName: String, location: String): Unit =
    t.span("ledger.markActive")(inner.markActive(fileName, location))
  override def markInactive(fileNames: Seq[String]): Unit =
    t.span("ledger.markInactive")(inner.markInactive(fileNames))
}

/** `PipelineRunner.run`'s stage graph replayed call for call, with one
  * span around every call into `fs`, `ledger` (through the ledger it
  * is given), `ingest`, `enrich`, `marts` and `io`. ReplaySpec holds
  * it to the same outputs, report and file placement as the real run,
  * so a change to `PipelineRunner` fails that test instead of letting
  * the replay drift.
  */
object Replay {
  private def fileName(p: String): String = new org.apache.hadoop.fs.Path(p).getName

  def run(spark: SparkSession, cfg: PipelineConfig, dims: Dimensions,
          ledger: RunLedger, t: Tracer): RunReport = {
    val store = new ObjectStore(spark.sparkContext.hadoopConfiguration)
    val candidates = t.span("fs.list")(store.list(cfg.inputDir)).filter(_.endsWith(".csv"))
    val stale = ledger.activeFiles(candidates.map(fileName))
    val (good, bad) = t.span("ingest.triage")(CsvIngest.triage(spark, candidates))
    bad.foreach { case (p, _) => t.span("fs.move")(store.move(p, cfg.errorDir)) }
    good.foreach(p => ledger.markActive(fileName(p), p))
    if (good.isEmpty)
      return RunReport(stale, Nil, bad, DimensionEnricher.EnrichmentAudit(0, 0), 0, 0)
    val fact = t.span("ingest.unionFold")(CsvIngest.unionFold(spark, good).cache())
    val (enriched, auditOf) = t.span("enrich.enrichWithAudit") {
      val r = DimensionEnricher.enrichWithAudit(fact, dims.customer, dims.store,
        dims.salesTeam)
      r._1.cache()
      r
    }
    val customerMart = t.span("marts.customerMart")(RetailMarts.customerMart(enriched))
    val salesMart = t.span("marts.salesMart")(RetailMarts.salesMart(enriched))
    t.span("io.writeFlat")(
      Writers.writeFlat(customerMart, s"${cfg.outputDir}/customers_data_mart"))
    t.span("io.writeFlat")(
      Writers.writeFlat(salesMart, s"${cfg.outputDir}/sales_team_data_mart"))
    t.span("io.writePartitioned")(Writers.writePartitioned(salesMart,
      s"${cfg.outputDir}/sales_team_data_mart_partitioned",
      Seq("sales_month", "store_id")))
    val cmRows = t.span("app.readback")(
      spark.read.parquet(s"${cfg.outputDir}/customers_data_mart").count())
    val smRows = t.span("app.readback")(
      spark.read.parquet(s"${cfg.outputDir}/sales_team_data_mart").count())
    good.foreach(p => t.span("fs.move")(store.move(p, cfg.processedDir)))
    ledger.markInactive(good.map(fileName))
    t.span("app.unpersist") { fact.unpersist(); enriched.unpersist() }
    RunReport(stale, good, bad, auditOf(), cmRows, smRows)
  }
}

/** One ETL workload: seeded inputs, Derby dimensions and ledger, and
  * batches of `PipelineRunner.run` (or, traced, its replay), each
  * checked against what the generated rows say it must produce.
  */
final class EtlWorkload(spark: SparkSession, shape: EtlShape, seed: Long,
                        scratch: File) extends Workload {
  private val pristine = new File(scratch, "inputs")
  private val root = new File(scratch, "batch")
  private val cfg = PipelineConfig(new File(root, "in").getPath,
    new File(root, "error").getPath, new File(root, "processed").getPath,
    new File(root, "out").getPath)
  private var dbUrl = ""
  private var dims: Dimensions = _
  private var expected: EtlExpected = _
  private var setups = 0

  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Inputs written, dimensions and ledger loaded into a fresh Derby
    * database, dimension frames bound through `Dimensions.fromJdbc`.
    */
  def setup(): Unit = {
    if (dbUrl.nonEmpty) dropDb()
    dbUrl = s"jdbc:derby:memory:perfbench$setups"
    setups += 1
    org.apache.commons.io.FileUtils.deleteQuietly(pristine)
    expected = EtlInputs.generate(shape, seed, pristine)
    EtlInputs.loadDerby(dbUrl + ";create=true", shape)
    dims = Dimensions.fromJdbc(spark, dbUrl, props)
  }

  private def dropDb(): Unit =
    try java.sql.DriverManager.getConnection(dbUrl + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  /** Fresh input dir holding the pristine files, empty outputs, empty
    * ledger. Not timed.
    */
  def reset(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    val in = new File(cfg.inputDir)
    in.mkdirs()
    pristine.listFiles().sortBy(_.getName).foreach(f =>
      Files.createLink(new File(in, f.getName).toPath, f.toPath))
    val c = java.sql.DriverManager.getConnection(dbUrl)
    try c.createStatement().execute("DELETE FROM product_staging_table")
    finally c.close()
  }

  def ledger: RunLedger = new JdbcRunLedger(dbUrl, props)

  def batch(t: Option[Tracer]): BatchResult = {
    var report: RunReport = null
    val t0 = System.nanoTime()
    t match {
      case None => report = PipelineRunner.run(spark, cfg, dims, ledger)
      case Some(tr) => tr.span("batch") {
        report = Replay.run(spark, cfg, dims, new TracedLedger(ledger, tr), tr)
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    BatchResult(secs, 1, check(report), Map(
      "output_files" -> outputFiles.toDouble,
      "enrich.rows_in" -> report.audit.rowsIn.toDouble,
      "enrich.rows_out" -> report.audit.rowsOut.toDouble,
      "candidates" -> (report.goodFiles.size + report.quarantined.size).toDouble))
  }

  private def outputFiles: Int = Workload.dataFiles(new File(cfg.outputDir)).size

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** Every mismatch between the batch and the expectation. */
  def check(r: RunReport): Seq[String] = {
    val e = expected
    val errs = Seq.newBuilder[String]
    def want(ok: Boolean, what: => String): Unit = if (!ok) errs += what
    val good = r.goodFiles.map(p => new File(p).getName).toSet
    want(good == e.goodFiles, s"good files ${good.size} != ${e.goodFiles.size}")
    want(r.quarantined.map(q => new File(q._1).getName).toSet == e.badFiles &&
      r.quarantined.forall(_._2 == Set("store_id")),
      s"quarantined ${r.quarantined.size} != ${e.badFiles.size}")
    want(r.staleActiveFiles.isEmpty, s"stale files ${r.staleActiveFiles}")
    want(r.audit.rowsIn == e.rows && r.audit.rowsOut == e.rows,
      s"rows in/out ${r.audit.rowsIn}/${r.audit.rowsOut} != ${e.rows}")
    want(r.customerMartRows == e.customerMartRows,
      s"customer mart rows ${r.customerMartRows} != ${e.customerMartRows}")
    want(r.salesMartRows == e.salesMartRows,
      s"sales mart rows ${r.salesMartRows} != ${e.salesMartRows}")
    val cents = (c: String) => (sum(col(c)) * 100).cast("long")
    val cm = spark.read.parquet(s"${cfg.outputDir}/customers_data_mart")
      .agg(cents("total_sales")).head().getLong(0)
    want(cm == e.totalSalesCents, s"customer mart total $cm != ${e.totalSalesCents}")
    val sm = spark.read.parquet(s"${cfg.outputDir}/sales_team_data_mart")
      .agg(cents("total_sales"), count(when(col("incentive") > 0, 1))).head()
    want(sm.getLong(0) == e.totalSalesCents,
      s"sales mart total ${sm.getLong(0)} != ${e.totalSalesCents}")
    want(sm.getLong(1) == e.rankOneRows,
      s"rank-1 incentive rows ${sm.getLong(1)} != ${e.rankOneRows}")
    val partRoot = new File(s"${cfg.outputDir}/sales_team_data_mart_partitioned")
    val partRows = spark.read.parquet(partRoot.getPath).count()
    want(partRows == e.salesMartRows, s"partitioned rows $partRows != ${e.salesMartRows}")
    val dirs = Option(partRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("sales_month="))
      .flatMap(m => m.listFiles().filter(_.getName.startsWith("store_id=")))
    want(dirs.length == e.partitionDirs &&
      dirs.forall(d => Workload.dataFiles(d).size == 1),
      s"partition dirs ${dirs.length} != ${e.partitionDirs} (one file each)")
    val done = names(cfg.processedDir)
    val err = names(cfg.errorDir)
    want(done == e.goodFiles && err == e.badFiles && names(cfg.inputDir).isEmpty,
      s"file placement: processed ${done.size}, error ${err.size}, " +
        s"left ${names(cfg.inputDir).size}")
    val c = java.sql.DriverManager.getConnection(dbUrl)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT status, COUNT(*) FROM product_staging_table GROUP BY status")
      val byStatus = Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => rs.getString(1) -> rs.getLong(2)).toMap
      want(byStatus == Map("I" -> e.goodFiles.size.toLong),
        s"ledger rows $byStatus, want ${e.goodFiles.size} x 'I'")
    } finally c.close()
    errs.result()
  }

  /** Per-layer metrics of one traced batch. */
  def layers(acct: BatchAccount, b: BatchResult): Seq[(String, Double)] = {
    val triage = acct.spansNamed("ingest.triage")
    val union = acct.spansNamed("ingest.unionFold")
    val triageJobs = triage.flatMap(acct.jobsUnder).size.toDouble
    val unionPlan = union.map(s => s.seconds -
      acct.coveredSeconds(acct.jobsUnder(s), s.startMs, s.endMs)).sum
    val ioMarts = acct.spanSeconds("io.") + acct.spanSeconds("marts.")
    Seq(
      "ingest.triage_s" -> acct.spanSeconds("ingest.triage"),
      "ingest.triage_jobs" -> triageJobs,
      "ingest.jobs_per_file" -> triageJobs / b.extra("candidates"),
      "ingest.union_s" -> acct.spanSeconds("ingest.unionFold"),
      "ingest.union_jobs" -> union.flatMap(acct.jobsUnder).size.toDouble,
      "ingest.union_plan_s" -> unionPlan,
      "ingest.rows_read" -> acct.plan("scan:csv", "numOutputRows").toDouble,
      "fs.move_s" -> acct.spanSeconds("fs.move"),
      "fs.renames" -> acct.spansNamed("fs.move").size.toDouble,
      "fs.list_calls" -> acct.spansNamed("fs.list").size.toDouble,
      "ledger.s" -> acct.spanSeconds("ledger."),
      "ledger.calls" -> acct.spansNamed("ledger.").size.toDouble,
      "enrich.rows_in" -> b.extra("enrich.rows_in"),
      "enrich.rows_out" -> b.extra("enrich.rows_out"),
      "enrich.broadcast_joins" -> acct.execs.map(_.broadcastJoins)
        .foldLeft(0)(math.max).toDouble,
      "io.write_flat_s" -> acct.spanSeconds("io.writeFlat"),
      "io.write_partitioned_s" -> acct.spanSeconds("io.writePartitioned"),
      "app.readback_s" -> acct.spanSeconds("app.readback"),
      "share.triage_union" -> (acct.spanSeconds("ingest.triage") + unionPlan) / acct.wall,
      "share.io_marts" -> ioMarts / acct.wall)
  }

  def close(): Unit = if (dbUrl.nonEmpty) dropDb()
}
