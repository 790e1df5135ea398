package graft

import graft.ingest.CsvIngest
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._

object CsvIngestSpec {

  /** The reference's literal shape (main.py:235-258): every file
    * conformed on its own and unioned by position over an empty seed,
    * plan depth O(files). The oracle `CsvIngest.unionFold` is held to.
    */
  def referenceFold(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val seed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], CsvIngest.factSchema)
    paths.map(CsvIngest.conform(spark, _)).foldLeft(seed)(_ union _)
  }

  /** Same schema (nullability included) and the same multiset of rows. */
  def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }
}

class CsvIngestSpec extends SparkSpec {
  import CsvIngestSpec._

  lazy val dir: String = tempDir("csv_ingest_")
  lazy val f1: String = Fixtures.writeF1(dir)
  lazy val f2: String = Fixtures.writeF2(dir)
  lazy val f3: String = Fixtures.writeF3(dir)

  test("header probe returns the contract columns for F1") {
    assert(CsvIngest.probeColumns(spark, f1) == CsvIngest.mandatoryColumns)
  }

  test("validate accepts F1 (no extras) and F2 (payment_mode extra)") {
    assert(CsvIngest.validate(spark, f1) == Right(Nil))
    assert(CsvIngest.validate(spark, f2) == Right(Seq("payment_mode")))
  }

  test("validate rejects F3 with missing store_id") {
    assert(CsvIngest.validate(spark, f3) == Left(Set("store_id")))
  }

  test("triage splits good and bad files") {
    val (good, bad) = CsvIngest.triage(spark, Seq(f1, f2, f3))
    assert(good == Seq(f1, f2))
    assert(bad == Seq((f3, Set("store_id"))))
  }

  test("conform F1: contract schema, null additional_column, 500 rows") {
    val df = CsvIngest.conform(spark, f1)
    assert(df.schema == CsvIngest.factSchema)
    assert(df.count() == 500)
    assert(df.filter(col("additional_column").isNotNull).count() == 0)
  }

  test("conform F2: extras folded into additional_column") {
    val df = CsvIngest.conform(spark, f2)
    // the contract exactly, nullability included, extras or not
    assert(df.schema == CsvIngest.factSchema)
    assert(df.count() == 1000)
    val vals = df.select("additional_column").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("cash", "UPI"))
  }

  test("conform preserves the total_cost = price * quantity invariant") {
    val df = CsvIngest.conform(spark, f1)
    val bad = df.filter(col("total_cost") =!= col("price") * col("quantity"))
    assert(bad.count() == 0)
  }

  test("union fold of one header group equals the empty-seed reference fold (Q15)") {
    val f1b = Fixtures.writeF1(dir, name = "f1b_sales.csv", seed = 99L)
    val folded = CsvIngest.unionFold(spark, Seq(f1, f1b))
    assert(folded.count() == 1000)
    assertSameRows(folded, referenceFold(spark, Seq(f1, f1b)))
  }

  test("union fold mixes heterogeneous headers (F1 + F2)") {
    val df = CsvIngest.unionFold(spark, Seq(f1, f2))
    assert(df.count() == 1500)
    assert(df.filter(col("additional_column").isNull).count() == 500)
  }

  private def writeRaw(name: String, bytes: Array[Byte]): String =
    Files.write(Paths.get(dir, name), bytes).toString

  private def writeText(name: String, text: String): String =
    writeRaw(name, text.getBytes(UTF_8))

  private val contractRow = "1,121,sugar,2023-05-05,1,50,2,100"

  test("header probe equals Spark's inferred header on every edge case") {
    val contract = CsvIngest.mandatoryColumns.mkString(",")
    val cases = Seq(
      "quoted comma" -> writeText("h_comma.csv", "\"a,b\",c\n1,2\n"),
      "escaped quote" -> writeText("h_quote.csv",
        "\"say \\\"hi\\\"\",\"x\"\"y\",z\n1,2,3\n"),
      "empty name" -> writeText("h_empty.csv", "a,,c\n1,2,3\n"),
      "case-insensitive duplicates" -> writeText("h_dup.csv", "a0,B1,b2,a3\n1,2,3,4\n"),
      "leading blank lines" -> writeText("h_blank.csv", s"\n  \n\n$contract\n$contractRow\n"),
      "CRLF" -> writeText("h_crlf.csv", s"$contract,payment_mode\r\n$contractRow,cash\r\n"),
      "UTF-8 BOM" -> writeRaw("h_bom.csv",
        Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ s"$contract\n$contractRow\n".getBytes(UTF_8)),
      "space-padded names" -> writeText("h_pad.csv", " a , b ,c \n1,2,3\n"),
      "header only" -> writeText("h_only.csv", s"$contract,payment_mode\n"),
      "zero bytes" -> writeRaw("h_zero.csv", Array.emptyByteArray))
    cases.foreach { case (what, p) =>
      assert(CsvIngest.probeColumns(spark, p) ==
        spark.read.option("header", "true").csv(p).columns.toSeq, what)
    }
    val (_, bad) = CsvIngest.triage(spark, Seq(cases.last._2))
    assert(bad == Seq((cases.last._2, CsvIngest.mandatoryColumns.toSet)))
  }

  test("triage and union fold construction start no Spark job") {
    val f1b = Fixtures.writeF1(dir, name = "f1b_sales.csv", seed = 99L)
    val (_, triageJobs) = jobsStartedBy(CsvIngest.triage(spark, Seq(f1, f2, f3)))
    assert(triageJobs == 0)
    val (folded, foldJobs) = jobsStartedBy(CsvIngest.unionFold(spark, Seq(f1, f1b, f2)))
    assert(foldJobs == 0)
    val csvRelations = folded.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.fileFormat.isInstanceOf[CSVFileFormat] => r
    }
    assert(csvRelations.size == 2, "one CSV relation per distinct header")
  }

  test("grouped union fold equals the reference per-file fold, by name") {
    val f1b = Fixtures.writeF1(dir, name = "f1b_sales.csv", seed = 99L)
    // contract columns permuted, another extra column: rows must land by
    // name, and must not be grouped with F1's or F2's header
    val permuted = writeText("f_permuted.csv",
      "total_cost,quantity,price,sales_person_id,sales_date,product_name," +
        "store_id,channel,customer_id\n" +
        "100.00,2,50,4,2023-05-05,sugar,122,web,7\n" +
        "212.00,1,212,7,2023-06-01,quaker oats,123,shop,11\n")
    val paths = Seq(f1, permuted, f1b, f2)
    val folded = CsvIngest.unionFold(spark, paths)
    assertSameRows(folded, referenceFold(spark, paths))
    assert(folded.count() == 2002)
    val p = folded.filter(col("additional_column").isin("web", "shop"))
      .select("customer_id", "store_id", "sales_person_id", "total_cost")
      .collect().map(_.toSeq).toSet
    assert(p == Set(Seq(7, 122, 4, BigDecimal("100.00").bigDecimal),
      Seq(11, 123, 7, BigDecimal("212.00").bigDecimal)))
  }
}
