package graft

import graft.functions.DocFingerprint
import graft.marts.RetailMarts
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks over ScalaCheck-generated data (SURVEY.md
  * §5.2 item 4). One generated dataset per seed, several seeds — a
  * Spark action per forAll case would be pathologically slow, so the
  * generator feeds dataset-level assertions instead.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 60)
    ws <- Gen.listOfN(n, Gen.oneOf(
      "spark", "table", "row", "join", "the", "a", "data", "ключ", "值",
      "x1", "!", "", " ", "word-with-dash", "UPPER", "123"))
  } yield ws.mkString(" ")

  test("char_hist expression == pure-Scala reference on generated text") {
    graft.functions.CharHist.register(spark)
    (1L to 3L).foreach { seed =>
      val texts = sample(Gen.listOfN(200, textGen), seed)
      val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("i", "t")
        .select(col("i"), graft.functions.CharHist.of(col("t")).as("h"))
        .collect()
      rows.foreach { r =>
        assert(r.getAs[scala.collection.Seq[Int]]("h") ==
          graft.functions.CharHist.reference(texts(r.getInt(0))),
          s"seed=$seed text='${texts(r.getInt(0))}'")
      }
    }
  }

  test("sq8_adc expression == pure-Scala reference on generated codes") {
    graft.functions.Sq8Adc.register(spark)
    val caseGen: Gen[(Seq[Long], Seq[Double], Seq[Double])] = for {
      nWords <- Gen.choose(1, 8)
      words <- Gen.listOfN(nWords, Gen.choose(Long.MinValue, Long.MaxValue))
      dim <- Gen.choose(0, nWords * 8)
      q <- Gen.listOfN(dim, Gen.choose(-4.0, 4.0))
      ws <- Gen.listOfN(dim, Gen.choose(-0.05, 0.05))
    } yield (words, q, ws)
    (1L to 3L).foreach { seed =>
      val cases = sample(Gen.listOfN(80, caseGen), seed)
      val rows = cases.zipWithIndex
        .map { case ((w, q, ws), i) => (i, w, q, ws) }
        .toDF("i", "w", "q", "ws")
        .select(col("i"), graft.functions.Sq8Adc.of(
          col("w"), col("q"), col("ws")).as("a"))
        .collect()
      rows.foreach { r =>
        val (w, q, ws) = cases(r.getInt(0))
        val got = r.getDouble(1)
        val want = graft.functions.Sq8Adc.reference(w, q, ws)
        assert(got == want, s"seed=$seed i=${r.getInt(0)}")
      }
    }
  }

  test("hist_l1 expression == pure-Scala reference on generated histograms") {
    graft.functions.HistL1.register(spark)
    val histGen: Gen[Seq[Int]] =
      Gen.listOfN(37, Gen.choose(0, 600)).map(_.toSeq)
    (1L to 3L).foreach { seed =>
      val pairs = sample(Gen.listOfN(150, Gen.zip(histGen, histGen)), seed)
      val rows = pairs.zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("i", "a", "b")
        .select(col("i"), graft.functions.HistL1.of(col("a"), col("b")).as("l1"))
        .collect()
      rows.foreach { r =>
        val (a, b) = pairs(r.getInt(0))
        assert(r.getAs[Int]("l1") == graft.functions.HistL1.reference(a, b),
          s"seed=$seed i=${r.getInt(0)}")
      }
    }
  }

  test("fingerprint expression == pure-Scala reference on arbitrary text") {
    DocFingerprint.register(spark)
    (1L to 3L).foreach { seed =>
      val texts = sample(Gen.listOfN(200, textGen), seed)
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), col("text"),
          DocFingerprint.of(col("text")).as("fp"))
        .collect()
      rows.foreach { r =>
        assert(r.getAs[Long]("fp") ==
          DocFingerprint.reference(r.getAs[String]("text")),
          s"text=${r.getAs[String]("text")}")
      }
    }
  }

  test("windowed-sum+distinct == groupBy-sum on generated sales") {
    (1L to 3L).foreach { seed =>
      val rows = sample(Gen.listOfN(400, for {
        cust <- Gen.choose(1, 10)
        month <- Gen.choose(1, 6)
        amount <- Gen.choose(1, 99999)
      } yield (cust, f"2023-0$month", BigDecimal(amount) / 100)), seed)
      val df = rows.toDF("cust", "month", "amount")
        .withColumn("amount", col("amount").cast("decimal(18,2)"))
      val grouped = df.groupBy("cust", "month")
        .agg(sum("amount").as("total"))
      val windowed = df.withColumn("total",
          sum("amount").over(org.apache.spark.sql.expressions.Window
            .partitionBy("cust", "month")))
        .select("cust", "month", "total").distinct()
      assert(grouped.exceptAll(windowed).count() == 0)
      assert(windowed.exceptAll(grouped).count() == 0)
    }
  }

  test("mart money conservation holds on generated enriched facts") {
    (1L to 2L).foreach { seed =>
      val rows = sample(Gen.listOfN(300, for {
        cust <- Gen.choose(1, 8)
        store <- Gen.oneOf(121, 122, 123)
        person <- Gen.choose(1, 9)
        day <- Gen.choose(1, 28)
        cost <- Gen.choose(100, 500000)
      } yield (cust, store, person, f"2023-05-$day%02d",
        BigDecimal(cost) / 100)), seed)
      val enriched = rows
        .toDF("customer_id", "store_id", "sales_person_id", "d", "total_cost")
        .select(col("customer_id"), col("store_id"), col("sales_person_id"),
          col("d").cast("date").as("sales_date"),
          col("total_cost").cast("decimal(10,2)"),
          lit("fn").as("first_name"), lit("ln").as("last_name"),
          lit("a").as("address"), lit("p").as("phone_number"),
          lit("sf").as("sales_person_first_name"),
          lit("sl").as("sales_person_last_name"))
      val martSum = RetailMarts.customerMart(enriched)
        .agg(sum("total_sales")).collect()(0).getDecimal(0)
      val factSum = enriched.agg(sum("total_cost")).collect()(0).getDecimal(0)
      assert(martSum.compareTo(factSum) == 0)
    }
  }

  test("conform yields the 9-column contract for any extra-column set") {
    import graft.ingest.CsvIngest
    val dir = tempDir("prop_conform_")
    val values = CsvIngest.mandatoryColumns.zip(
      Seq("1", "121", "sugar", "2023-05-05", "1", "50", "2", "100")).toMap
    // a small extras pool and three column orders, so headers recur
    // across files and the grouped fold merges some of them
    val files = (1L to 8L).map { seed =>
      val extras = sample(Gen.someOf("x_pay", "x_note", "x_ref"), seed).toSeq
      val header = new scala.util.Random(seed % 3)
        .shuffle(CsvIngest.mandatoryColumns ++ extras)
      def row(i: Int) = header.map(c =>
        if (c == "customer_id") s"${seed * 10 + i}"
        else values.getOrElse(c, s"${c}_$seed")).mkString(",")
      val p = java.nio.file.Paths.get(dir, s"f$seed.csv")
      java.nio.file.Files.write(p,
        (header.mkString(",") +: Seq(row(0), row(1))).mkString("\n").getBytes)
      val out = CsvIngest.conform(spark, p.toString)
      assert(out.columns.toSeq == CsvIngest.factSchema.fieldNames.toSeq)
      assert(out.count() == 2)
      val add = out.select("additional_column").collect()(0).getString(0)
      val extrasInHeader = header.filterNot(CsvIngest.mandatoryColumns.contains)
      if (extras.isEmpty) assert(add == null)
      else assert(add == extrasInHeader.map(c => s"${c}_$seed").mkString(", "))
      p.toString
    }
    (1L to 3L).foreach { seed =>
      val mix = sample(Gen.atLeastOne(files), seed).toSeq
      CsvIngestSpec.assertSameRows(CsvIngest.unionFold(spark, mix),
        CsvIngestSpec.referenceFold(spark, mix))
    }
  }

  test("exact dedup keeps one row per distinct key, lowest id") {
    (1L to 3L).foreach { seed =>
      val rows = sample(Gen.listOfN(200, for {
        id <- Gen.choose(0L, 10000L)
        t <- Gen.oneOf("a", "b", "c", "d", "e", "f")
      } yield (id, t)), seed).distinctBy(_._1)
      val df = rows.toDF("doc_id", "text")
      val out = Dedup.exactDedup(df, "text", "doc_id").collect()
        .map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id")).toMap
      val expected = rows.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
      assert(out == expected)
    }
  }

  test("BM25 reference parity on generated corpora (unicode, empty, punct-only docs)") {
    (10L to 12L).foreach { seed =>
      val texts = sample(Gen.listOfN(80, textGen), seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val qs = Seq(1 -> Seq("spark", "data"), 2 -> Seq("join"))
      val got = graft.operators.Search.bm25(docs, qs, k = 80).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(3))).toMap
      // reference parity on arbitrary generated text (incl. unicode,
      // empties, punctuation-only docs)
      val tokd = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> "[^a-z0-9]+".r.replaceAllIn(t.toLowerCase, " ")
          .split(" ").filter(_.nonEmpty).toSeq
      }.filter(_._2.nonEmpty)
      val n = tokd.size.toDouble
      if (n > 0) {
        val avgdl = tokd.map(_._2.size.toLong).sum.toDouble / n
        def df(t: String) = tokd.count(_._2.contains(t)).toDouble
        qs.foreach { case (qid, ts) =>
          tokd.foreach { case (id, dt) =>
            val micro = ts.map { t =>
              val tf = dt.count(_ == t).toLong
              if (tf == 0L || df(t) == 0.0) 0L
              else math.floor(
                math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
                  (tf.toDouble * 2.2) /
                  (tf.toDouble + 1.2 * (0.25 + 0.75 * (dt.size / avgdl))) *
                  1000000.0 + 0.5).toLong
            }.sum
            val want = if (micro == 0L && ts.forall(t => dt.count(_ == t) == 0))
              None else Some(micro / 1e6)
            assert(got.get((qid, id)) == want,
              s"seed=$seed q=$qid doc=$id: got ${got.get((qid, id))}, want $want")
          }
        }
      }
    }
  }

  test("RRF properties: self-fusion preserves order; input partitioning is irrelevant") {
    val ranks = (1 to 30).map(i => (1L, 100L + i, i)).toDF("query_id", "vec_id", "rnk")
    // fusing a ranking with itself must reproduce it (doubled scores,
    // same order)
    val self = graft.operators.Search.rrfFusion(ranks, ranks, k = 30)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(self.map(_._1).toSeq == (1 to 30).map(i => 100L + i),
      "self-fusion must preserve the input order")
    self.foreach { case (vid, rnk, rrf) =>
      assert(rrf == 2L * (1000000000L / (60L + rnk)),
        s"self-fusion score must double: $vid")
    }
    // physical row order / partitioning must not change the result
    val b = (1 to 30).map(i => (1L, 200L - i, i)).toDF("query_id", "vec_id", "rnk")
    val x = graft.operators.Search.rrfFusion(ranks, b, k = 10)
      .collect().map(_.toSeq).toSeq
    val y = graft.operators.Search
      .rrfFusion(ranks.repartition(7), b.repartition(3), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(x == y)
  }

  test("bottom-k aggregator is a commutative, associative, " +
    "duplicate-absorbing monoid on arbitrary streams") {
    // the qs42 batch ≡ stream argument reduced to its algebra: any
    // parenthesization/order/duplication of the fold equals the
    // k-smallest-distinct of the whole multiset
    val agg = new graft.functions.BottomKAggregator(5)
    def fold(xs: Seq[Long]): Seq[Long] = xs.foldLeft(agg.zero)(agg.reduce)
    (1L to 5L).foreach { seed =>
      val xs = sample(Gen.listOfN(60, Gen.choose(0L, 40L)), seed)
      val want = xs.distinct.sorted.take(5)
      assert(fold(xs) == want, s"seed=$seed")
      // random 3-way split, merged in both association orders
      val (a, rest) = xs.splitAt(xs.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      val (fa, fb, fc) = (fold(a), fold(b), fold(c))
      assert(agg.merge(agg.merge(fa, fb), fc) == want)
      assert(agg.merge(fa, agg.merge(fb, fc)) == want)
      assert(agg.merge(fc, agg.merge(fb, fa)) == want)
      // idempotent under duplication of any shard
      assert(agg.merge(fold(xs ++ a), fa) == want)
    }
  }

  test("count-min counters: shard merge == whole-corpus build") {
    // counter SUMS are the monoid; the frame-level claim behind
    // qs41's batch ≡ stream: counters over any row partition, summed,
    // equal counters over the union
    import graft.operators.Sketch
    (1L to 2L).foreach { seed =>
      val toks = sample(Gen.listOfN(150, for {
        s <- Gen.oneOf("sA", "sB")
        t <- Gen.oneOf("a", "b", "c", "dd", "ee", "fff", "值")
        n <- Gen.choose(1L, 4L)
      } yield (s, t, n)), seed)
      val whole = toks.toDF("source", "item", "tf")
      val key = Sketch.cmCounters(whole).collect()
        .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)),
          r.getLong(3))).toMap
      val (p1, p2) = toks.splitAt(toks.length / 2)
      def cnt(p: Seq[(String, String, Long)]) =
        Sketch.cmCounters(p.toDF("source", "item", "tf")).collect()
          .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)),
            r.getLong(3))).toMap
      val merged = (cnt(p1).toSeq ++ cnt(p2).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(merged == key, s"seed=$seed")
    }
  }
}
