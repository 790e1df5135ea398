package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import scala.collection.mutable

/** Size of one ETL workload's input. Stores get ids 101…; store `s`
  * employs salespeople `s*personsPerStore+1 …`; sales dates fall in
  * `months` consecutive months from January 2023.
  */
final case class EtlShape(files: Int, rowsPerFile: Int, customers: Int,
                          stores: Int, personsPerStore: Int, months: Int)

object EtlShape {
  /** Many small files: the per-file layers do the work. */
  val manyFiles = EtlShape(files = 12, rowsPerFile = 500, customers = 500,
    stores = 10, personsPerStore = 3, months = 6)
  /** Few large files: parse, join, aggregate and write do the work. */
  val largeBatch = EtlShape(files = 8, rowsPerFile = 20000,
    customers = 15000, stores = 20, personsPerStore = 10, months = 12)
}

/** What a correct batch produces, computed from the generated rows
  * alone (money in cents).
  */
final case class EtlExpected(goodFiles: Set[String], badFiles: Set[String],
                             rows: Long, customerMartRows: Long,
                             salesMartRows: Long, totalSalesCents: Long,
                             rankOneRows: Long, partitionDirs: Int)

/** Seeded sales CSVs with the reference generator's value domains
  * (8 fixed-price products, quantity 1–10, total_cost = price ×
  * quantity). 10% of files lack `store_id` and must be quarantined,
  * 25% carry an extra `payment_mode` column: three distinct headers.
  */
object EtlInputs {
  val products: Seq[(String, Long)] = Seq(
    "quaker oats" -> 21200L, "sugar" -> 5000L, "maida" -> 2000L,
    "besan" -> 5200L, "refined oil" -> 11000L, "clinic plus" -> 150L,
    "dantkanti" -> 10000L, "nutrella" -> 4000L)

  private val base = Seq("customer_id", "store_id", "product_name",
    "sales_date", "sales_person_id", "price", "quantity", "total_cost")

  private def money(cents: Long): String = BigDecimal(cents, 2).toString

  def storeId(s: Int): Int = 101 + s

  def generate(shape: EtlShape, seed: Long, dir: File): EtlExpected = {
    dir.mkdirs()
    val rng = new scala.util.Random(seed)
    val nBad = math.max(1, math.round(shape.files * 0.10).toInt)
    val nExtra = math.round(shape.files * 0.25).toInt
    // 0 = contract header, 1 = extra column, 2 = missing store_id
    val kinds = rng.shuffle(Seq.fill(nBad)(2) ++ Seq.fill(nExtra)(1) ++
      Seq.fill(shape.files - nBad - nExtra)(0))
    val d0 = LocalDate.of(2023, 1, 1)
    val custMonths = mutable.HashSet.empty[Long]
    val salesGroups = mutable.HashMap.empty[(Int, Int, Int), Long]
    var rows = 0L
    var total = 0L
    val good = Set.newBuilder[String]
    val bad = Set.newBuilder[String]
    kinds.zipWithIndex.foreach { case (kind, i) =>
      val name = f"sales_$i%04d.csv"
      if (kind == 2) bad += name else good += name
      val header = kind match {
        case 0 => base
        case 1 => base :+ "payment_mode"
        case _ => base.filterNot(_ == "store_id") :+ "payment_mode"
      }
      val w = new BufferedWriter(new FileWriter(new File(dir, name)), 1 << 16)
      try {
        w.write(header.mkString(","))
        (0 until shape.rowsPerFile).foreach { _ =>
          val cust = 1 + rng.nextInt(shape.customers)
          val s = rng.nextInt(shape.stores)
          val (product, price) = products(rng.nextInt(products.size))
          val month = rng.nextInt(shape.months)
          val date = d0.plusMonths(month.toLong).withDayOfMonth(1 + rng.nextInt(28))
          val person = s * shape.personsPerStore + 1 +
            rng.nextInt(shape.personsPerStore)
          val qty = 1 + rng.nextInt(10)
          val cost = price * qty
          val pay = if (rng.nextBoolean()) "cash" else "UPI"
          val storeCol = if (kind != 2) s"${storeId(s)}," else ""
          val extra = if (kind != 0) s",$pay" else ""
          w.write(s"\n$cust,$storeCol$product,$date,$person," +
            s"${money(price)},$qty,${money(cost)}$extra")
          if (kind != 2) {
            rows += 1
            total += cost
            custMonths += cust.toLong * 1000 + month
            val k = (s, person, month)
            salesGroups(k) = salesGroups.getOrElse(k, 0L) + cost
          }
        }
      } finally w.close()
    }
    val rankOne = salesGroups.groupBy { case ((s, _, m), _) => (s, m) }
      .values.map { g =>
        val top = g.values.max
        g.values.count(_ == top).toLong
      }.sum
    EtlExpected(good.result(), bad.result(), rows, custMonths.size.toLong,
      salesGroups.size.toLong, total, rankOne,
      salesGroups.keySet.map { case (s, _, m) => (s, m) }.size)
  }

  /** Load the three dimension tables and an empty run ledger into an
    * embedded Derby database, with the reference MySQL schemas.
    */
  def loadDerby(url: String, shape: EtlShape): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      st.execute("CREATE TABLE customer (customer_id INT, first_name VARCHAR(40), " +
        "last_name VARCHAR(40), address VARCHAR(80), pincode VARCHAR(10), " +
        "phone_number VARCHAR(20), customer_joining_date DATE)")
      st.execute("CREATE TABLE store (id INT, address VARCHAR(80), " +
        "store_pincode VARCHAR(10), store_manager_name VARCHAR(40), " +
        "store_opening_date DATE, reviews VARCHAR(80))")
      st.execute("CREATE TABLE sales_team (id INT, first_name VARCHAR(40), " +
        "last_name VARCHAR(40), manager_id INT, is_manager CHAR(1), " +
        "address VARCHAR(80), pincode VARCHAR(10), joining_date DATE)")
      st.execute("CREATE TABLE product_staging_table (id INT GENERATED ALWAYS " +
        "AS IDENTITY, file_name VARCHAR(255), file_location VARCHAR(1024), " +
        "created_date TIMESTAMP, updated_date TIMESTAMP, status CHAR(1))")
      def insert(sql: String, n: Int)(fill: (java.sql.PreparedStatement, Int) => Unit): Unit = {
        val ps = c.prepareStatement(sql)
        (1 to n).foreach { i => fill(ps, i); ps.addBatch() }
        ps.executeBatch()
        ps.close()
      }
      val joined = java.sql.Date.valueOf("2021-01-15")
      insert("INSERT INTO customer VALUES (?,?,?,?,?,?,?)", shape.customers) { (ps, i) =>
        ps.setInt(1, i); ps.setString(2, s"first$i"); ps.setString(3, s"last$i")
        ps.setString(4, s"addr $i"); ps.setString(5, f"56${i % 10000}%04d")
        ps.setString(6, f"98765${i}%05d"); ps.setDate(7, joined)
      }
      insert("INSERT INTO store VALUES (?,?,?,?,?,?)", shape.stores) { (ps, i) =>
        val id = storeId(i - 1)
        ps.setInt(1, id); ps.setString(2, s"store addr $id"); ps.setString(3, s"60$id")
        ps.setString(4, s"manager$id"); ps.setDate(5, java.sql.Date.valueOf("2020-06-15"))
        ps.setString(6, s"review $id")
      }
      insert("INSERT INTO sales_team VALUES (?,?,?,?,?,?,?,?)",
        shape.stores * shape.personsPerStore) { (ps, i) =>
        ps.setInt(1, i); ps.setString(2, s"sp_first$i"); ps.setString(3, s"sp_last$i")
        ps.setInt(4, 1); ps.setString(5, if (i == 1) "Y" else "N")
        ps.setString(6, s"sp addr $i"); ps.setString(7, f"5601${i % 100}%02d")
        ps.setDate(8, java.sql.Date.valueOf("2022-03-01"))
      }
      c.commit()
    } finally c.close()
  }
}
