package graft.ingest

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingestion with the reference's three-layer schema handling
  * (SURVEY.md §1.5; reference main.py:136-178, 223-258):
  *
  *  1. header-only probe (S1) — driver-side, no Spark job or scan;
  *  2. mandatory-column contract check (F2) — files missing any
  *     contract column are rejected (quarantine path);
  *  3. conform (P1/X1) — extra columns beyond the contract are folded
  *     into one `additional_column` string via concat_ws(", ", …),
  *     every file is projected to the same 9 columns.
  *
  * Divergence from the reference (documented, SURVEY.md §7.4): money
  * is DECIMAL(10,2) not float, and types come from explicit casts of
  * an all-string read, not from inferSchema — deterministic at any
  * scale and under ANSI mode.
  */
object CsvIngest {

  /** The mandatory-column contract (resources/dev/config.py:40). */
  val mandatoryColumns: Seq[String] = Seq(
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost")

  val Money: DecimalType = DecimalType(10, 2)

  /** Canonical 9-column fact schema (main.py:223-233). */
  val factSchema: StructType = StructType(Seq(
    StructField("customer_id", IntegerType),
    StructField("store_id", IntegerType),
    StructField("product_name", StringType),
    StructField("sales_date", DateType),
    StructField("sales_person_id", IntegerType),
    StructField("price", Money),
    StructField("quantity", IntegerType),
    StructField("total_cost", Money),
    StructField("additional_column", StringType)))

  /** S1 — header probe (main.py:139-141): Spark's own CSV helpers read,
    * parse and make safe the first non-blank line on the driver, equal to
    * the header read's `columns` (CsvIngestSpec) with no Spark job.
    */
  def probeColumns(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    CSVUtils.readHeaderLine(new Path(path), opts, spark.sessionState.newHadoopConf())
      .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, opts).toSeq)
      .getOrElse(Nil)
  }

  /** Contract check: Left(missing columns) if the file violates the
    * contract, Right(extra columns) otherwise (main.py:146-153).
    */
  def validate(spark: SparkSession, path: String): Either[Set[String], Seq[String]] = {
    val cols = probeColumns(spark, path)
    val missing = mandatoryColumns.toSet -- cols.toSet
    if (missing.nonEmpty) Left(missing)
    else Right(cols.filterNot(mandatoryColumns.contains))
  }

  /** Split candidate files into (good, bad-with-missing-cols). */
  def triage(spark: SparkSession, paths: Seq[String])
      : (Seq[String], Seq[(String, Set[String])]) = {
    val checked = paths.map(p => p -> validate(spark, p))
    (checked.collect { case (p, Right(_)) => p },
      checked.collect { case (p, Left(m)) => (p, m) })
  }

  /** Conform one (validated) file to the 9-column contract, extras
    * folded into `additional_column` (main.py:245-256).
    */
  def conform(spark: SparkSession, path: String): DataFrame =
    conformed(spark, probeColumns(spark, path), Seq(path))

  /** O3 — the reference's conform + union (main.py:235-258), one read
    * per distinct header in first-seen order: plan depth is O(headers),
    * not O(files). Held equal to the per-file fold in CsvIngestSpec.
    */
  def unionFold(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "unionFold needs at least one path")
    val headers = paths.map(probeColumns(spark, _))
    headers.distinct.map(h =>
      conformed(spark, h, paths.zip(headers).collect { case (p, `h`) => p }))
      .reduce(_ union _)
  }

  /** One scan of files sharing `header`; its all-string schema needs
    * no inference job. Spark CSV applies a user schema by POSITION
    * (`enforceSchema` defaults to true), so rows land in the right
    * columns only because every path here has exactly this header:
    * [[unionFold]]'s grouping by identical header is what makes a
    * permuted or extra-column file conform correctly.
    */
  private def conformed(spark: SparkSession, header: Seq[String],
                        paths: Seq[String]): DataFrame = {
    val raw = spark.read.option("header", "true")
      .schema(StructType(header.map(StructField(_, StringType))))
      .csv(paths: _*)
    val extras = header.filterNot(mandatoryColumns.contains)
    // nullif(_, NULL) keeps every value but declares concat_ws's never-null
    // output nullable, as the contract is for any header; the optimizer drops it
    val add = if (extras.isEmpty) lit(null).cast(StringType)
      else nullif(concat_ws(", ", extras.map(col): _*), lit(null))
    raw.withColumn("additional_column", add)
      .select(factSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
  }
}
