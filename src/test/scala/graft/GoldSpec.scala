package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unit semantics of the silver/gold/serving operators on tiny literal
  * frames — the edge rules the reference implies (keep-first dedup, orphan
  * filtering, null-division guards, first-match-wins segmentation, bounds).
  */
class GoldSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def ts(s: String) = Timestamp.valueOf(s)

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  private def ordersDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), orderSchema)

  private val custSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  private def custDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), custSchema)

  test("csv source: explicit schema, header, malformed fields coerced to null") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "orders.csv")
    val w = new java.io.PrintWriter(f)
    w.println("o_orderkey,o_custkey,o_totalprice,o_orderdate")
    w.println("1,10,99.5,2020-01-02 00:00:00")
    w.println("2,11,not_a_number,2020-01-03 00:00:00")
    w.close()
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType)))
    val df = Tables.readCsv(spark, f.getAbsolutePath, schema, "orders_csv")
    val rows = df.orderBy("o_orderkey").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(2) == 99.5)
    assert(rows(1).isNullAt(2)) // "not_a_number" coerced to null, row kept
    // missing-column validation fails fast
    val bad = StructType(schema.fields :+ StructField("nope", LongType))
    intercept[IllegalArgumentException] {
      Tables.requireColumns(df, Seq("nope"), "orders_csv")
    }
  }

  test("silver cleanOrders: drops nulls, bad dates, bad amounts, orphans; keep-first dedup") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 50.0, ts("2020-01-02 00:00:00"), "1-URGENT"),
      Row(1L, 11L, "O", 60.0, ts("2020-01-01 00:00:00"), "1-URGENT"), // dup key, earlier date wins
      Row(2L, 10L, "O", -5.0, ts("2020-01-03 00:00:00"), "2-HIGH"), // bad amount
      Row(3L, 10L, "O", 10.0, ts("1980-01-01 00:00:00"), "2-HIGH"), // date < floor
      Row(4L, null, "O", 10.0, ts("2020-01-04 00:00:00"), "2-HIGH"), // null key
      Row(5L, 99L, "O", 10.0, ts("2020-01-05 00:00:00"), "2-HIGH"), // orphan
      Row(6L, 10L, "O", 10.0, null, "2-HIGH"))) // null date
    val cust = custDf(Seq(Row(10L, "Customer#10", 1, 0.0, "BUILDING"),
      Row(11L, "Customer#11", 1, 0.0, "BUILDING")))
    val out = Silver.cleanOrders(orders, cust).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    // keep-first by (o_orderdate, o_custkey): the 2020-01-01 row survives
    assert(out.head.getLong(1) == 11L)
  }

  test("silver cleanCustomers: trim + initcap + contains guard") {
    val cust = custDf(Seq(
      Row(1L, "  Customer#1  ", 1, 0.0, "  BUILDING "),
      Row(2L, "no hash here", 1, 0.0, "AUTOMOBILE"),
      Row(3L, null, 1, 0.0, "MACHINERY")))
    val out = Silver.cleanCustomers(cust).collect()
    assert(out.length == 1)
    assert(out.head.getString(1) == "Customer#1")
    assert(out.head.getString(4) == "Building")
  }

  test("qualityCounters: one row, per-rule would-drop counts") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 50.0, ts("2020-01-02 00:00:00"), "1-URGENT"),
      Row(2L, 10L, "O", -5.0, ts("2020-01-03 00:00:00"), "2-HIGH"),
      Row(3L, 99L, "O", 10.0, ts("2020-01-05 00:00:00"), "2-HIGH"),
      Row(4L, null, "O", 10.0, ts("2020-01-04 00:00:00"), "2-HIGH")))
    val cust = custDf(Seq(
      Row(10L, "Customer#10", 1, 0.0, "BUILDING"),
      Row(null, "Customer#null", 1, 0.0, "BUILDING"), // invalid id
      Row(11L, "no hash", 1, 0.0, "BUILDING"), // fails the name guard
      Row(12L, null, 1, 0.0, "BUILDING"), // null name also fails the guard
      Row(13L, "Customer#13", 1, 0.0, "BUILDING"),
      Row(13L, "Customer#13b", 1, 0.0, "BUILDING"))) // duplicate of 13
    val r = Silver.qualityCounters(orders, cust).collect().head
    assert(r.getAs[Long]("initial_rows") == 4L)
    assert(r.getAs[Long]("dropped_missing") == 1L)
    assert(r.getAs[Long]("dropped_bad_amount") == 1L)
    assert(r.getAs[Long]("dropped_orphan_client") == 2L) // orphan 99 + null key
    assert(r.getAs[Long]("cust_initial_rows") == 6L)
    assert(r.getAs[Long]("cust_dropped_invalid_id") == 1L)
    assert(r.getAs[Long]("cust_dropped_invalid_name") == 2L)
    assert(r.getAs[Long]("cust_dropped_duplicates") == 1L)
  }

  test("buildFact: left join keeps orphans as 'Inconnu', derives jour/mois/annee") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 50.0, ts("2020-03-15 10:30:00"), "1-URGENT"),
      Row(2L, 99L, "O", 60.0, ts("2020-04-01 00:00:00"), "1-URGENT")))
    val cust = custDf(Seq(Row(10L, "Customer#10", 7, 0.0, "BUILDING")))
    val nation = spark.createDataFrame(Seq((7, "FRANCE"))).toDF("n_nationkey", "n_name")
    val out = Gold.buildFact(orders, cust, nation).orderBy("o_orderkey").collect()
    assert(out(0).getAs[String]("pays") == "FRANCE")
    assert(out(1).getAs[String]("pays") == "Inconnu")
    assert(out(0).getAs[String]("mois") == "2020-03")
    assert(out(0).getAs[Long]("annee") == 2020L)
    assert(out(0).getAs[java.sql.Date]("jour").toString == "2020-03-15")
  }

  test("dimClients: customers without orders get zero counts and horizon recency") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 100.0, ts("2020-06-01 00:00:00"), "1-URGENT"),
      Row(2L, 10L, "O", 50.0, ts("2020-01-01 00:00:00"), "1-URGENT")))
    val cust = custDf(Seq(Row(10L, "A", 1, 0.0, "B"), Row(20L, "B", 1, 0.0, "B")))
    val li = spark.createDataFrame(Seq((1L, 5L), (1L, 6L), (2L, 5L)))
      .toDF("l_orderkey", "l_partkey")
    val ref = Gold.referenceDate(orders)
    val out = Gold.dimClients(cust, orders, li, ref).orderBy("c_custkey").collect()
    val a = out(0)
    assert(a.getAs[Long]("total_orders") == 2L)
    assert(a.getAs[Double]("total_spend") == 150.0)
    assert(a.getAs[Double]("avg_order_value") == 75.0)
    assert(a.getAs[Long]("product_count") == 2L)
    assert(a.getAs[Long]("recency_days") == 0L)
    assert(a.getAs[Long]("tenure_days") == 152L)
    val b = out(1)
    assert(b.getAs[Long]("total_orders") == 0L)
    assert(b.getAs[Double]("total_spend") == 0.0)
    assert(b.getAs[Double]("avg_order_value") == 0.0)
    assert(b.getAs[Long]("recency_days") == Gold.HorizonDays.toLong)
  }

  test("scoreClients: segment clause order is first-match-wins") {
    import spark.implicits._
    val feats = Seq(
      // high prob + high monetary => VIP (not Actifs, though it also matches)
      (1L, 20L, 5000.0, 250.0, 10L, 5L, 300L, 20L, 5000.0, 250.0),
      // low freq + stale => Dormants
      (2L, 1L, 10.0, 10.0, 1L, 300L, 350L, 1L, 10.0, 10.0))
      .toDF("c_custkey", "freq_12m", "monetary_12m", "monetary_avg_12m",
        "product_diversity_12m", "recency_days", "tenure_days",
        "total_orders_all", "total_spend_all", "avg_order_value_all")
    val t = Gold.ScoreThresholds(freq75 = 10, freq95 = 18, mon75 = 1000,
      mon95 = 4000, rec25 = 30, rec75 = 200, maxDiv = 10)
    val out = Gold.scoreClients(feats, t).orderBy("c_custkey").collect()
    assert(out(0).getAs[String]("segment_label") == "VIP")
    assert(out(1).getAs[String]("segment_label") == "Dormants")
    // prob weights: clipped freq 18/18=1 -> .45; rec 1-5/365 -> ~.2959;
    // mon clipped 4000/4000 -> .15; div 10/10 -> .10
    assert(math.abs(out(0).getAs[Double]("prob_reachat_12m") - 0.995890) < 1e-6)
  }

  test("detectColumn / normalizeColumns: case-insensitive synonym resolution, fail-fast miss") {
    import spark.implicits._
    val df = Seq((1L, 10.0)).toDF("Client_ID", "Amount")
    assert(Tables.detectColumn(df, Seq("id_client", "client_id")).contains("Client_ID"))
    assert(Tables.detectColumn(df, Seq("produit", "product"), required = false).isEmpty)
    val e = intercept[IllegalArgumentException] {
      Tables.detectColumn(df, Seq("nope", "niente"))
    }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("Client_ID"))
    val norm = Tables.normalizeColumns(df, Seq(
      "id_client" -> Seq("id_client", "client_id", "customer_id"),
      "montant" -> Seq("montant", "amount", "price"),
      "produit" -> Seq("produit", "product", "item")))
    assert(norm.columns.toSeq == Seq("id_client", "montant"))
  }

  test("bronze raw copy: verbatim bytes, sha-256 manifest, idempotent, no staging debris") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_bronze_src")
    val bronze = Files.createTempDirectory("graft_bronze").toString
    sys.addShutdownHook {
      Streams.deleteRec(srcDir.toFile); Streams.deleteRec(new java.io.File(bronze))
    }
    val f = srcDir.resolve("clients.csv")
    Files.write(f, "id;nom\n1;Ada\n2;Grace\n".getBytes("UTF-8"))
    val m = Bronze.ingest(Seq(f.toString), bronze)
    assert(m.map(_.name) == Seq("clients.csv"))
    val copied = java.nio.file.Paths.get(bronze, "clients.csv")
    assert(java.util.Arrays.equals(Files.readAllBytes(copied), Files.readAllBytes(f)))
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    assert(m.head.sha256 == expect && m.head.bytes == Files.size(f))
    // re-ingest is an idempotent overwrite through the staged move
    assert(Bronze.copyToBronze(f.toString, bronze) == m.head)
    val debris = new java.io.File(bronze).listFiles().filter(_.getName.startsWith("."))
    assert(debris.isEmpty, s"staging debris: ${debris.mkString(",")}")
    // a missing source object fails fast, like the reference's task retry
    intercept[IllegalArgumentException] {
      Bronze.copyToBronze(srcDir.resolve("absent.csv").toString, bronze)
    }
  }

  test("compactSink: fewer files, identical rows, clean swap, incremental form scoped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    sys.addShutdownHook(Streams.deleteRec(new java.io.File(dir)))
    val fact = Gold.buildFact(Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf))
    // 8 writer tasks per partition = the daily-append small-file mess
    fact.repartition(8).write.mode("overwrite").partitionBy("annee").parquet(dir)
    def checksum() = spark.read.parquet(dir)
      .agg(count(lit(1)), sum("o_orderkey"), Tables.moneySum(col("o_totalprice")))
      .first().toSeq
    val pre = checksum()
    val nPartitions = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("annee="))

    // incremental form: compacting ONE partition leaves the rest alone
    val (b1, a1) = Pipeline.compactSink(spark, dir, "annee",
      targetBytes = Long.MaxValue, onlyPartitions = Seq("1995"))
    assert(b1 > a1 && a1 == 1, s"1995 not compacted to one file: $b1 -> $a1")

    val (before, after) = Pipeline.compactSink(spark, dir, "annee",
      targetBytes = Long.MaxValue)
    assert(after == nPartitions, s"expected 1 file per partition, got $after")
    assert(after < before || before == nPartitions)
    assert(checksum() == pre, "compaction changed the data")
    // the atomic swap leaves no staging/trash dirs behind
    val debris = new java.io.File(dir).listFiles().filter(_.getName.startsWith("."))
      .filterNot(f => f.getName == "._SUCCESS.crc") // spark's own marker
    assert(debris.forall(!_.isDirectory), s"staging debris: ${debris.mkString(",")}")
  }

  test("compactSink crash matrix: every fault point recovers to a whole partition, no row lost") {
    final class Crash extends RuntimeException("injected crash")
    val fact = Gold.buildFact(Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf))
    for (point <- Seq("staged-written", "marker-created", "old-renamed",
        "swapped", "marker-removed")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
      fact.repartition(8).write.mode("overwrite").partitionBy("annee").parquet(dir)
      def checksum() = spark.read.parquet(dir)
        .agg(count(lit(1)), sum("o_orderkey"), Tables.moneySum(col("o_totalprice")))
        .first().toSeq
      val pre = checksum()
      intercept[Crash] {
        Pipeline.compactSink(spark, dir, "annee", targetBytes = Long.MaxValue,
          onlyPartitions = Seq("1995"),
          tick = q => if (q == point) throw new Crash)
      }
      // recovery (also run on every compaction entry) heals the layout:
      // a marker-proven staged dir is promoted, a half-staged attempt
      // aborted, swap leftovers swept — never a missing partition
      Pipeline.recoverCompaction(new java.io.File(dir))
      assert(new java.io.File(dir, "annee=1995").isDirectory,
        s"$point: partition missing after recovery")
      assert(checksum() == pre, s"$point: rows changed after recovery")
      val debris = new java.io.File(dir).listFiles().filter { f =>
        val n = f.getName
        n.startsWith(".") && (n.endsWith(".compact") || n.endsWith(".old") ||
          n.endsWith(".commit"))
      }
      assert(debris.isEmpty, s"$point: swap debris left: ${debris.mkString(",")}")
      // the retried maintenance pass completes the compaction
      val (_, after) = Pipeline.compactSink(spark, dir, "annee",
        targetBytes = Long.MaxValue, onlyPartitions = Seq("1995"))
      assert(after == 1, s"$point: retry did not compact (files=$after)")
      assert(checksum() == pre, s"$point: rows changed after retry")
      Streams.deleteRec(new java.io.File(dir))
    }
  }

  test("approx thresholds score like the exact ones: segments agree, probs close") {
    val feats = Gold.clientFeatures(Tables.orders(spark, sf), Tables.lineitem(spark, sf),
      Gold.referenceDate(Gold.validOrders(Tables.orders(spark, sf))))
    val exact = Gold.scoreClients(feats, Gold.scoreThresholds(feats))
      .select("c_custkey", "segment_label", "prob_reachat_12m").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val approx = Gold.scoreClients(feats, Gold.scoreThresholdsApprox(feats))
      .select("c_custkey", "segment_label", "prob_reachat_12m").collect()
    assert(approx.length == exact.size)
    val agree = approx.count { r =>
      exact(r.getLong(0))._1 == r.getString(1)
    }
    // t-digest rel.err 0.01 (the reference's own setting) moves at most
    // a sliver of clients across a percentile boundary
    assert(agree.toDouble / approx.length >= 0.95,
      s"only $agree/${approx.length} segment labels agree")
    approx.foreach { r =>
      val d = math.abs(exact(r.getLong(0))._2 - r.getDouble(2))
      assert(d <= 0.05, s"client ${r.getLong(0)}: prob drift $d")
    }
  }

  test("referenceDate: degrades to typed NULL on empty input (empty slice → empty report)") {
    val empty = ordersDf(Seq())
    val ref = Gold.referenceDate(empty)
    // the literal itself is NULL but carries the source column's type …
    assert(spark.range(1).select(ref.as("ref")).first().isNullAt(0))
    // … so a trailing-window predicate still ANALYZES (an untyped
    // lit(null) would fail DATATYPE_MISMATCH here) and evaluates NULL →
    // every row filtered → the gold family degrades to empty frames
    assert(empty.filter(col("o_orderdate") >= ref - expr("INTERVAL 365 DAYS"))
      .count() == 0L)
  }

  test("monthlyGrowth: lag semantics with null/zero guard") {
    import spark.implicits._
    val cm = Seq(("2020-01", 100.0), ("2020-02", 150.0), ("2020-03", 0.0),
      ("2020-04", 50.0)).toDF("mois", "ca")
    val out = Serving.monthlyGrowth(cm).collect()
    assert(out(0).isNullAt(out(0).fieldIndex("growth_pct"))) // no prev
    assert(out(1).getAs[Double]("growth_pct") == 0.5)
    assert(out(3).isNullAt(out(3).fieldIndex("growth_pct"))) // prev == 0
  }

  test("pipeline: full medallion flow writes silver + 13 gold tables, invariants hold") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    val res = Pipeline.run(spark, sf, out)
    // exact per-sink counts: a sink dropped or written twice by the
    // concurrent fan-out changes this map
    assert(res.rows == Map(
      "fact_achats" -> 1500L, "dim_clients" -> 150L, "client_features" -> 150L,
      "client_scores" -> 150L, "segment_summary" -> 5L, "ca_monthly" -> 80L,
      "ca_country" -> 25L, "ca_product" -> 62L, "cohort_first_purchase" -> 26L,
      "gold_daily" -> 1094L, "gold_weekly" -> 343L, "gold_distribution" -> 12L,
      "gold_monthly_growth" -> 80L))
    assert(res.quality == Map(
      "initial_rows" -> 1500L, "dropped_missing" -> 0L, "dropped_invalid_date" -> 0L,
      "dropped_bad_amount" -> 0L, "dropped_orphan_client" -> 0L,
      "cust_initial_rows" -> 150L, "cust_dropped_duplicates" -> 0L,
      "cust_dropped_invalid_id" -> 0L, "cust_dropped_invalid_name" -> 0L))
    Pipeline.checkGold(spark, out)
    // fact sink is partitioned by year → directory per annee
    val factDirs = new java.io.File(s"$out/gold/fact_achats").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(factDirs.nonEmpty && factDirs.forall(_.startsWith("annee=")))
  }

  test("sink readback: the schema-bound read equals the inferred one, flat and annee-partitioned") {
    val out = java.nio.file.Files.createTempDirectory("graft_readback").toString
    val fact = Gold.buildFact(Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf))
    def roundTrip(df: DataFrame, dir: String, partitions: Seq[String]): Unit = {
      df.write.partitionBy(partitions: _*).parquet(dir)
      val bound = Pipeline.readBack(spark, df, dir, partitions)
      val inferred = spark.read.parquet(dir)
      assert(bound.schema == inferred.schema, dir)
      assert(bound.count() == inferred.count(), dir)
    }
    roundTrip(fact, s"$out/fact", Seq("annee"))
    roundTrip(Gold.caMonthly(fact), s"$out/flat", Nil)
  }

  test("kpis: exact global aggregate with derived basket average") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 100.0, ts("2020-01-01 00:00:00"), "X"),
      Row(2L, 10L, "O", 50.0, ts("2020-01-02 00:00:00"), "X"),
      Row(3L, 11L, "O", 30.0, ts("2020-01-03 00:00:00"), "X")))
    val r = Serving.kpis(orders).collect().head
    assert(r.getAs[Double]("ca_total") == 180.0)
    assert(r.getAs[Long]("nb_achats") == 3L)
    assert(r.getAs[Long]("nb_clients") == 2L)
    assert(r.getAs[Double]("panier_moyen") == 60.0)
  }

  test("topClients: spend ties broken by customer key ascending") {
    val orders = ordersDf(Seq(
      Row(1L, 30L, "O", 100.0, ts("2020-01-01 00:00:00"), "X"),
      Row(2L, 20L, "O", 100.0, ts("2020-01-02 00:00:00"), "X"),
      Row(3L, 10L, "O", 200.0, ts("2020-01-03 00:00:00"), "X")))
    val out = Serving.topClients(orders, k = 3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
  }

  test("caCube yields all four grains; rollup three") {
    val orders = ordersDf(Seq(
      Row(1L, 10L, "O", 100.0, ts("2020-01-01 00:00:00"), "X"),
      Row(2L, 10L, "O", 50.0, ts("2021-01-01 00:00:00"), "X")))
    val cust = custDf(Seq(Row(10L, "A", 7, 0.0, "B")))
    val nation = spark.createDataFrame(Seq((7, "FRANCE"))).toDF("n_nationkey", "n_name")
    val fact = Gold.buildFact(orders, cust, nation)
    val cube = Serving.caCube(fact).collect()
    // grains: (FRANCE,2020) (FRANCE,2021) (FRANCE,ALL) (ALL,2020) (ALL,2021) (ALL,-1 total)
    assert(cube.length == 6)
    val total = cube.filter(r => r.getString(0) == "ALL" && r.getLong(1) == -1L)
    assert(total.head.getDouble(2) == 150.0)
    val rollup = Serving.caRollup(fact).collect()
    assert(rollup.length == 4) // 2 months + country subtotal + grand total
  }

  test("weekly groups to Monday starts; daily to calendar days") {
    val orders = ordersDf(Seq(
      Row(1L, 1L, "O", 10.0, ts("2024-01-10 05:00:00"), "X"), // Wed
      Row(2L, 1L, "O", 20.0, ts("2024-01-12 23:00:00"), "X"), // Fri same ISO week
      Row(3L, 1L, "O", 30.0, ts("2024-01-15 00:00:00"), "X"))) // next Mon
    val weekly = Serving.weekly(orders).collect()
    assert(weekly.length == 2)
    assert(weekly(0).getAs[java.sql.Date]("semaine").toString == "2024-01-08")
    assert(weekly(0).getAs[Double]("ca") == 30.0)
    val daily = Serving.daily(orders.withColumn("jour", to_date(col("o_orderdate")))).collect()
    assert(daily.length == 3)
  }

  test("distribution: equal-width bins clamp max into last bucket") {
    val orders = ordersDf((1 to 13).map(i =>
      Row(i.toLong, 1L, "O", i * 10.0, ts("2020-01-01 00:00:00"), "X")))
    val fact = orders // distribution only uses o_totalprice + o_orderkey
    val out = Serving.distribution(fact).collect()
    assert(out.map(_.getAs[Long]("count")).sum == 13L)
    assert(out.last.getAs[Long]("bucket") == 11L)
    assert(out.last.getAs[Long]("count") == 2L) // 120 and 130 share last bin
  }

  test("clientDeciles: distributed ntile matches SQL ntile when clients < buckets") {
    // 7 clients, 10 buckets: SQL ntile puts one client in each of deciles
    // 1..7, ordered by spend desc with key tiebreak
    val orders = ordersDf((1 to 7).map(i =>
      Row(i.toLong, i.toLong, "O", i * 100.0, ts("2020-01-01 00:00:00"), "X")))
    val out = Serving.clientDeciles(orders.withColumn("pays", lit("X"))).collect()
    assert(out.length == 7)
    assert(out.map(_.getAs[Long]("decile")).toSeq == (1L to 7L))
    assert(out.forall(_.getAs[Long]("clients") == 1L))
    // decile 1 = the top spender (client 7, 700.0)
    assert(out.head.getAs[Double]("ca") == 700.0)
  }

  test("clientDeciles: distributed ntile equals window ntile across sizes") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    for (n <- Seq(1, 9, 10, 11, 25, 100, 997)) {
      val orders = ordersDf((1 to n).map(i =>
        Row(i.toLong, i.toLong, "O", (rnd.nextInt(500) + 1) * 1.0,
          ts("2020-01-01 00:00:00"), "X")))
      val dist = Serving.clientDeciles(orders.withColumn("pays", lit("X")))
        .collect().map(_.mkString("|")).toSeq
      val ref = orders.groupBy(col("o_custkey").as("c_custkey"))
        .agg(Tables.moneySum(col("o_totalprice")).as("total_spend"))
        .withColumn("decile", ntile(10).over(
          Window.orderBy(desc("total_spend"), col("c_custkey"))).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("clients"), round(sum("total_spend"), 2).as("ca"),
          min("total_spend").as("min_spend"), max("total_spend").as("max_spend"))
        .orderBy("decile").collect().map(_.mkString("|")).toSeq
      assert(dist == ref, s"n=$n")
    }
  }

  test("kpisApprox: HLL++ client count within 5% of exact, other KPIs identical") {
    val fact = Gold.buildFact(Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf))
    val exact = Serving.kpis(fact).collect().head
    val approx = Serving.kpisApprox(fact).collect().head
    assert(approx.getAs[Double]("ca_total") == exact.getAs[Double]("ca_total"))
    assert(approx.getAs[Long]("nb_achats") == exact.getAs[Long]("nb_achats"))
    assert(approx.getAs[Double]("panier_moyen") == exact.getAs[Double]("panier_moyen"))
    val e = exact.getAs[Long]("nb_clients").toDouble
    val a = approx.getAs[Long]("nb_clients_approx").toDouble
    assert(math.abs(a - e) / e <= 0.05, s"approx $a vs exact $e")
  }

  test("toJsonRecords: one valid JSON object per row, values round-trip") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.5), (2L, "b", -1.0)).toDF("id", "name", "v")
    val out = Serving.toJsonRecords(df).collect().map(_.getString(0))
    assert(out.length == 2)
    // parse back with Spark's own JSON reader: schema and values survive
    val parsed = spark.read.json(out.toSeq.toDS()).orderBy("id").collect()
    assert(parsed.map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
      r.getAs[Double]("v"))).toSeq == Seq((1L, "a", 2.5), (2L, "b", -1.0)))
  }

  test("topProductsPerRegion: per-group cut, revenue ties broken by product name") {
    import spark.implicits._
    val orders = ordersDf(Seq(
      Row(1L, 1L, "O", 10.0, ts("2020-01-01 00:00:00"), "p"),
      Row(2L, 2L, "O", 10.0, ts("2020-01-02 00:00:00"), "p")))
    val li = Seq(
      (1L, 100L, 50.0), (1L, 200L, 50.0), (1L, 300L, 20.0), (1L, 400L, 10.0),
      (2L, 500L, 99.0))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
    val part = Seq((100L, "beta"), (200L, "alpha"), (300L, "gamma"),
      (400L, "delta"), (500L, "omega")).toDF("p_partkey", "p_name")
    val cust = custDf(Seq(Row(1L, "c1", 1, 0.0, "m"), Row(2L, "c2", 2, 0.0, "m")))
    val nation = Seq((1, 10), (2, 20)).toDF("n_nationkey", "n_regionkey")
    val region = Seq((10, "EUROPE"), (20, "ASIA")).toDF("r_regionkey", "r_name")
    val out = Gold.topProductsPerRegion(orders, li, part, cust, nation, region)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSeq
    // EUROPE: alpha/beta tie at 50 -> name ascending; delta (4th) cut
    assert(out == Seq(
      ("ASIA", "omega", 1),
      ("EUROPE", "alpha", 1), ("EUROPE", "beta", 2), ("EUROPE", "gamma", 3)))
  }

  test("cohortRetention: offsets count distinct returners against the acquisition month") {
    val orders = ordersDf(Seq(
      Row(1L, 1L, "O", 10.0, ts("2020-01-05 00:00:00"), "p"), // c1 cohort 2020-01
      Row(2L, 1L, "O", 10.0, ts("2020-01-20 00:00:00"), "p"), // same month, not double-counted
      Row(3L, 1L, "O", 10.0, ts("2020-03-01 00:00:00"), "p"), // back at offset 2
      Row(4L, 2L, "O", 10.0, ts("2020-01-09 00:00:00"), "p"), // c2 cohort 2020-01, never returns
      Row(5L, 3L, "O", 10.0, ts("2020-02-15 00:00:00"), "p"), // c3 cohort 2020-02
      Row(6L, 3L, "O", 10.0, ts("2020-02-28 23:00:00"), "p")))
    val out = Gold.cohortRetention(orders)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("2020-01", 0L, 2L),   // both January clients active in month 0
      ("2020-01", 2L, 1L),   // only c1 returns, two months later
      ("2020-02", 0L, 1L)))
  }

  test("basketPairs: lift over chance, support threshold, basket-local pairing") {
    import spark.implicits._
    val li = Seq(
      // parts 10 & 20 co-occur in 3 of 4 orders; 30 appears alone
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L),
      (4L, 30L), (4L, 30L)) // duplicate line: same part twice in one order
      .toDF("l_orderkey", "l_partkey")
    val out = Gold.basketPairs(li, minSupport = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // lift(10,20) = (3/4) / ((3/4)*(3/4)) = 4/3; the (10,30)/(20,30)
    // pairs sit below minSupport and the duplicated 30-line counts once
    assert(out == Seq((10L, 20L, 3L, 1.333333)))
  }

  test("dailyDense fills calendar gaps with zero rows, endpoints inclusive") {
    val fact = ordersDf(Seq(
      Row(1L, 1L, "O", 10.0, ts("2020-01-01 08:00:00"), "p"),
      Row(2L, 1L, "O", 20.0, ts("2020-01-04 09:00:00"), "p"), // 3-day gap
      Row(3L, 2L, "O", 5.0, ts("2020-01-04 10:00:00"), "p")))
      .withColumn("jour", to_date(col("o_orderdate")))
    val out = Serving.dailyDense(fact).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("2020-01-01", 10.0, 1L), ("2020-01-02", 0.0, 0L),
      ("2020-01-03", 0.0, 0L), ("2020-01-04", 25.0, 2L)))
  }

  test("cohortRetentionPivot: wide triangle, zero-filled cells, fixed columns") {
    val orders = ordersDf(Seq(
      Row(1L, 1L, "O", 10.0, ts("2020-01-05 00:00:00"), "p"),
      Row(2L, 1L, "O", 10.0, ts("2020-03-01 00:00:00"), "p"),  // offset 2
      Row(3L, 2L, "O", 10.0, ts("2020-01-09 00:00:00"), "p")))
    val out = Gold.cohortRetentionPivot(orders)
    assert(out.columns.toSeq == "cohort" +: (0 to 12).map(i => s"m$i"))
    val row = out.collect().head
    assert(row.getString(0) == "2020-01")
    assert(row.getLong(1) == 2L)   // m0: both clients
    assert(row.getLong(2) == 0L)   // m1: nobody (zero-filled, not null)
    assert(row.getLong(3) == 1L)   // m2: client 1 returns
  }

  test("dailyAnomaly: spike flagged, flat window yields null z, frames calendar-aligned") {
    // 13 flat days at 10.0, then a spike; the two-day gap before the
    // spike must enter the frame as zeros (dense series), not be skipped
    val rows = (1 to 13).map(i =>
      Row(i.toLong, 1L, "O", 10.0, ts(f"2020-01-$i%02d 08:00:00"), "p")) :+
      Row(99L, 1L, "O", 500.0, ts("2020-01-16 08:00:00"), "p")
    val fact = ordersDf(rows).withColumn("jour", to_date(col("o_orderdate")))
    val out = Serving.dailyAnomaly(fact).collect()
      .map(r => r.getDate(0).toString -> r).toMap
    // constant early window: sd 0 -> z null, not flagged
    assert(out("2020-01-05").isNullAt(4) && !out("2020-01-05").getBoolean(5))
    // the spike day is flagged
    assert(out("2020-01-16").getBoolean(5))
    // gap days exist and carry ca = 0 (calendar alignment)
    assert(out.contains("2020-01-14") && out("2020-01-14").getDouble(1) == 0.0)
  }

  test("incremental kpis: algebraic fields exact, HLL estimate bounded, split-invariant") {
    val orders = Tables.orders(spark, sf)
    val cut = lit("1996-01-01 00:00:00").cast("timestamp")
    def split(p: org.apache.spark.sql.Column) = Serving.kpisPartial(orders.filter(p))
    val merged = Serving.kpisFromPartials(
      split(col("o_orderdate") < cut).unionByName(split(col("o_orderdate") >= cut)))
      .collect().head
    val exact = Serving.kpis(Gold.buildFact(orders, Tables.customer(spark, sf),
      Tables.nation(spark, sf))).collect().head
    assert(merged.getDouble(0) == exact.getDouble(0))   // ca_total: bit-exact
    assert(merged.getLong(1) == exact.getLong(1))       // nb_achats
    assert(merged.getDouble(3) == exact.getDouble(3))   // panier_moyen
    val est = merged.getLong(2).toDouble
    val clients = exact.getLong(2).toDouble
    assert(math.abs(est - clients) / clients < 0.05, s"estimate $est vs exact $clients")
    // sketch union is split-invariant: a one-partial "merge" (no split)
    // lands on the same estimate the two-way split produced
    val single = Serving.kpisFromPartials(split(lit(true))).collect().head
    assert(single.getLong(2) == merged.getLong(2))
    // the fully-exact Verify tier: algebraic partial + persisted key-set
    // merge must be indistinguishable from a one-pass recompute — every
    // field, including the distinct count, bit-for-bit
    val hist = col("o_orderdate") < cut
    val exactInc = Serving.kpisExactIncremental(
      split(hist),
      Gold.validOrders(orders.filter(hist)).select("o_custkey").distinct(),
      orders.filter(!hist)).collect().head
    assert(exactInc.getDouble(0) == exact.getDouble(0))
    assert(exactInc.getLong(1) == exact.getLong(1))
    assert(exactInc.getLong(2) == exact.getLong(2))
    assert(exactInc.getDouble(3) == exact.getDouble(3))
  }

  test("incremental ca_monthly: merged partials equal the full recompute, mid-month cutoff") {
    // cutoff INSIDE January: the month straddles the partial/delta split,
    // so the merge must re-aggregate at the month grain, not concatenate.
    // Amounts with odd cents exercise the integer-cents merge path.
    val orders = ordersDf(Seq(
      Row(1L, 1L, "O", 10.01, ts("2020-01-05 00:00:00"), "p"),
      Row(2L, 1L, "O", 20.02, ts("2020-01-20 00:00:00"), "p"), // post-cutoff, same month
      Row(3L, 2L, "O", 30.33, ts("2020-02-01 00:00:00"), "p"),
      Row(4L, 2L, "O", -5.0, ts("2020-02-02 00:00:00"), "p"),  // invalid: dropped both paths
      Row(5L, 3L, "O", 40.4, ts("2020-03-15 00:00:00"), "p")))
    val cut = ts("2020-01-10 00:00:00")
    val merged = Gold.caMonthlyFromPartials(
      Gold.caMonthlyPartial(orders.filter(col("o_orderdate") < lit(cut)))
        .unionByName(Gold.caMonthlyPartial(orders.filter(col("o_orderdate") >= lit(cut)))))
      .collect().map(_.mkString("|")).toSeq
    val full = Gold.caMonthlyFromPartials(Gold.caMonthlyPartial(orders))
      .collect().map(_.mkString("|")).toSeq
    assert(merged == full)
    assert(merged == Seq("2020-01|30.03", "2020-02|30.33", "2020-03|40.4"))
  }

  private def overlapOrders() = ordersDf(Seq(
    // cust 1: both years; cust 2: 1994 only (twice — distinct must dedup);
    // cust 3: 1995 only; cust 4: both but its 1995 order is INVALID
    // (price 0) so it must land in only-1994; cust 5: out-of-range year
    Row(1L, 1L, "F", 10.0, ts("1994-03-01 00:00:00"), "1-URGENT"),
    Row(2L, 1L, "F", 10.0, ts("1995-03-01 00:00:00"), "1-URGENT"),
    Row(3L, 2L, "F", 10.0, ts("1994-04-01 00:00:00"), "1-URGENT"),
    Row(4L, 2L, "F", 10.0, ts("1994-05-01 00:00:00"), "1-URGENT"),
    Row(5L, 3L, "F", 10.0, ts("1995-06-01 00:00:00"), "1-URGENT"),
    Row(6L, 4L, "F", 10.0, ts("1994-07-01 00:00:00"), "1-URGENT"),
    Row(7L, 4L, "F", 0.0, ts("1995-07-01 00:00:00"), "1-URGENT"),
    Row(8L, 5L, "F", 10.0, ts("1993-07-01 00:00:00"), "1-URGENT")))

  test("customerOverlap: membership flags reproduce INTERSECT/EXCEPT, invalid orders excluded") {
    val expected = Seq(1L, 2L, 1L, 0.25) // both={1}, only94={2,4}, only95={3}
    val fused = Gold.customerOverlap(overlapOrders(), 1994, 1995).head()
    assert(fused.toSeq == expected)
    // the Intersect/Except operator form returns the identical row
    val sets = Gold.customerOverlapSets(overlapOrders(), 1994, 1995).head()
    assert(sets.toSeq == expected)
  }

  test("customerOverlapApprox: inclusion-exclusion estimate within 5% of exact") {
    val orders = Tables.orders(spark, sf)
    val exact = Gold.customerOverlap(orders).head()
    val approx = Gold.customerOverlapApprox(orders).head()
    val exactBoth = exact.getAs[Long]("n_both").toDouble
    val estBoth = approx.getAs[Long]("n_both_approx").toDouble
    assert(exactBoth > 0)
    // HLL at default lgK=12 is ~1.6% 1σ per sketch; inclusion-exclusion
    // over three estimates compounds it — 5% is the honest bound
    assert(math.abs(estBoth - exactBoth) / exactBoth <= 0.05,
      s"approx $estBoth vs exact $exactBoth")
    val exactU = exactBoth + exact.getAs[Long]("n_only_first") +
      exact.getAs[Long]("n_only_second")
    assert(math.abs(approx.getAs[Long]("n_union") - exactU) / exactU <= 0.05)
  }

  test("eventsHopping: each event lands in exactly its 4 covering windows") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 2.0),   // exactly on a window start
      (2L, 1L, "2024-01-01 10:14:59", "view", 1.0))   // same 15-min bucket
      .toDF("event_id", "user_id", "t", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = Serving.eventsHopping(e).collect()
      .map(r => r.getAs[java.sql.Timestamp]("w_start").toString ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    // both events share the 15-min bucket, so every window holds both
    assert(out.map(_._1).toSeq == Seq("2024-01-01 09:15:00.0", "2024-01-01 09:30:00.0",
      "2024-01-01 09:45:00.0", "2024-01-01 10:00:00.0"))
    assert(out.forall(_._2 == (2L, 3.0)))
  }

  test("overwritePartition: only the batch's partition rewritten, other partitions' files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dynover").toString
    sys.addShutdownHook(Streams.deleteRec(new java.io.File(dir)))
    val fact = Gold.buildFact(Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf))
    fact.write.mode("overwrite").partitionBy("annee").parquet(dir)
    def fileState(y: Int) = new java.io.File(s"$dir/annee=$y").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val files1995 = fileState(1995)
    val pre = Pipeline.partitionState(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val out = Pipeline.overwritePartition(spark, dir,
      fact.filter(col("annee") === 1996)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // dynamic mode: 1995's files are bit-for-bit the ones written before
    assert(fileState(1995) == files1995)
    // 1996: same rows, doubled revenue; every other year unchanged
    assert(out(1996)._1 == pre(1996)._1)
    assert(math.abs(out(1996)._2 - 2 * pre(1996)._2) < 1e-6)
    assert(out.removed(1996) == pre.removed(1996))
  }

  test("deleteKey: only the key's partitions rewritten, key gone, bystanders bit-for-bit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gdpr_t").toString
    sys.addShutdownHook(Streams.deleteRec(new java.io.File(dir)))
    val rows = Seq(
      (1L, 10L, "1995-03-01"), (2L, 10L, "1995-06-01"),   // victim: 1995 only
      (3L, 20L, "1995-04-01"), (4L, 20L, "1996-04-01"),   // bystander both years
      (5L, 30L, "1996-07-01"))
      .map { case (ok, ck, d) => Row(ok, ck, "O", 10.0, ts(s"$d 08:00:00"), "p") }
    val fact = ordersDf(rows).withColumn("annee", year(col("o_orderdate")))
    fact.write.mode("overwrite").partitionBy("annee").parquet(dir)
    def files1996 = new java.io.File(s"$dir/annee=1996").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val pre1996 = files1996
    val out = Pipeline.deleteKey(spark, dir, 10L).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1995 -> 1L, 1996 -> 2L)) // victim's 2 rows gone
    assert(files1996 == pre1996)               // 1996 never rewritten
    assert(spark.read.parquet(dir).filter(col("o_custkey") === 10L).count() == 0)
  }

  test("customerOverlapMatrix: cells agree with the 2-year operator") {
    val o = Tables.orders(spark, sf)
    val m = Gold.customerOverlapMatrix(o).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val pair = Gold.customerOverlap(o, 1995, 1996).head()
    val (n1, n2, both) = m((1995, 1996))
    assert(both == pair.getAs[Long]("n_both"))
    assert(n1 - both == pair.getAs[Long]("n_only_first"))
    assert(n2 - both == pair.getAs[Long]("n_only_second"))
  }

  test("dailyAnomalyRobust: spike flagged, baseline days not, MAD from the dense series") {
    // 14 alternating 10/12 days then a 500 spike: median 12 is NOT
    // dragged by the outlier (the rolling-mean form's weakness), MAD = 2
    val rows = (1 to 14).map(i =>
      Row(i.toLong, 1L, "O", if (i % 2 == 1) 10.0 else 12.0,
        ts(f"2020-01-$i%02d 08:00:00"), "p")) :+
      Row(99L, 1L, "O", 500.0, ts("2020-01-15 08:00:00"), "p")
    val fact = ordersDf(rows).withColumn("jour", to_date(col("o_orderdate")))
    val out = Serving.dailyAnomalyRobust(fact).collect()
      .map(r => r.getDate(0).toString -> r).toMap
    assert(out("2020-01-15").getBoolean(3))                  // spike flagged
    assert(!out("2020-01-01").getBoolean(3))                 // 10.0 day: normal
    // median lands between the alternating levels: sorted 15 values =
    // seven 10s, seven 12s, 500 → median 12.0, so a 12-day has z 0
    assert(out("2020-01-02").getDouble(2) == 0.0)
  }

  test("customer growth accounting: first-month counting, retention/churn identities") {
    val rows = Seq(
      (1L, 1L, "1995-01-10"), (2L, 1L, "1995-02-10"),   // c1: Jan + Feb
      (3L, 2L, "1995-01-20"),                           // c2: Jan only -> churns
      (4L, 3L, "1995-02-05"), (5L, 3L, "1995-02-25"))   // c3: new in Feb, 2 orders
      .map { case (ok, ck, d) => Row(ok, ck, "O", 10.0, ts(s"$d 08:00:00"), "p") }
    val o = ordersDf(rows)
    val cum = Serving.customersCumulative(o).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cum.toSeq == Seq(("1995-01", 2L, 2L), ("1995-02", 1L, 3L)))
    val churn = Serving.customerChurnMonthly(o).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // (mois, active, retained, new, churned)
    assert(churn.toSeq == Seq((1L, 2L, 0L, 2L, 0L), (2L, 2L, 1L, 1L, 1L)))
  }

  test("spendTrend: exact slope/intercept/R² on a literal linear series") {
    // three consecutive days at 10/20/30: slope exactly 10 $/day,
    // intercept 10, R² 1.0 — exact because the moments are integers
    val rows = Seq(
      Row(1L, 1L, "O", 10.0, ts("2020-01-01 08:00:00"), "p"),
      Row(2L, 1L, "O", 20.0, ts("2020-01-02 08:00:00"), "p"),
      Row(3L, 1L, "O", 30.0, ts("2020-01-03 08:00:00"), "p"))
    val fact = ordersDf(rows).withColumn("jour", to_date(col("o_orderdate")))
    val r = Serving.spendTrend(fact).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 10.0 && r.getDouble(2) == 10.0 && r.getDouble(3) == 1.0)
  }

  test("featureCorr: exact ±1 on perfectly (anti)correlated literal features") {
    import spark.implicits._
    val feats = Seq((1L, 1.0, 30L), (2L, 2.0, 20L), (3L, 3.0, 10L))
      .toDF("freq_12m", "monetary_12m", "recency_days")
    val out = Gold.featureCorr(feats).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // exact moments make these EXACTLY ±1.0, not 0.999999…
    assert(out(("freq_12m", "monetary_12m")) == (3L, 1.0))
    assert(out(("freq_12m", "recency_days")) == (3L, -1.0))
    assert(out(("monetary_12m", "recency_days")) == (3L, -1.0))
  }

  test("abMetrics: per-arm moments match a reference computation under the same hash") {
    val rows = (1 to 40).map(i =>
      Row(i.toLong, i.toLong, "O", 10.0 + i, ts("2020-01-01 08:00:00"), "p"))
    val out = Gold.abMetrics(ordersDf(rows)).collect()(0)
    // reference arms from the same published hash definition
    def arm(ck: Long) = (((ck + 17) * 2654435761L) % 4294967296L) * 100 / 4294967296L < 50
    val (a, b) = (1 to 40).map(i => (arm(i), 10.0 + i)).partition(_._1)
    def stats(v: Seq[Double]) = {
      val c = v.map(x => math.round(x * 100))
      val (n, s, ss) = (c.size.toLong, c.sum, c.map(x => x * x).sum)
      (n, s.toDouble / n / 100.0,
        (n * ss.toDouble - s.toDouble * s.toDouble) / (n * (n - 1)) / 10000.0)
    }
    val ((na, ma, va), (nb, mb, vb)) = (stats(a.map(_._2)), stats(b.map(_._2)))
    // same HALF_UP 6dp rounding as Spark's round()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Long]("n_a") == na && out.getAs[Long]("n_b") == nb)
    assert(out.getAs[Double]("mean_a") == r6(ma))
    assert(out.getAs[Double]("var_b") == r6(vb))
    val t = (ma - mb) / math.sqrt(va / na + vb / nb)
    assert(math.abs(out.getAs[Double]("welch_t") - t) < 1e-5)
  }

  test("mergeUpsert: all four MERGE branches, cents accumulate exactly") {
    import spark.implicits._
    val base = Seq((1L, 2L, 1010L), (2L, 1L, 500L), (7L, 3L, 700L))
      .toDF("o_custkey", "n_orders", "cents")
    val chg = Seq(
      (1L, 1L, 245L, "U"),   // matched U  -> accumulate
      (7L, 1L, 100L, "D"),   // matched D  -> delete
      (9L, 2L, 400L, "U"),   // unmatched U -> insert
      (14L, 1L, 100L, "D"))  // unmatched D -> no-op
      .toDF("o_custkey", "c_n", "c_cents", "op")
    val out = Gold.mergeUpsert(base, chg).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    // 10.10 + 2.45 = 12.55 — exact in cents, where double addition of
    // the rounded halves would be 12.549999…
    assert(out.toSeq == Seq(
      1L -> (3L, 12.55), 2L -> (1L, 5.0), 9L -> (2L, 4.0)))
  }

  test("mergeChanges: every 7th key tagged D, others U, cutoff honoured") {
    val chg = Gold.mergeChanges(Tables.orders(spark, sf), "1995-12-31").collect()
    assert(chg.nonEmpty)
    assert(chg.forall(r =>
      r.getAs[String]("op") == (if (r.getLong(0) % 7 == 0) "D" else "U")))
  }

  test("copurchaseTriangles: K4 gives 4 triangles (3 per corner), open wedge gives none") {
    import spark.implicits._
    val li = Seq(
      // order 1 = K4 over parts 1..4 -> C(4,3)=4 triangles, 3 per node
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      // orders 2,3 build wedge 10-11-12 with NO closing 10-12 edge
      (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L),
      // order 4 repeats edge 1-2 (must dedupe, not double-count)
      (4L, 1L), (4L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val out = Gold.copurchaseTriangles(li).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq == Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("copurchaseTrianglesApprox: invP=1 degenerates to the exact tier, bit for bit") {
    // p=1 keeps every edge and scales by 1 — the sampled tier must then
    // BE the exact tier (proves the two share one counting core)
    val e = Gold.itemPairEdges(Tables.lineitem(spark, sf))
    val exact = Gold.copurchaseTrianglesFrom(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val p1 = Gold.copurchaseTrianglesApprox(e, invP = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(p1 == exact)
  }

  test("copurchaseTrianglesApprox: global estimate within the error floor; deterministic under repartition") {
    val e = Gold.itemPairEdges(Tables.lineitem(spark, sf))
    val exactTot = Gold.triangleCounts(e)
      .agg(sum("n_triangles")).head.getLong(0)
    val estTot = Gold.triangleCounts(e.filter(
        pmod(xxhash64(col("a"), col("b"), lit(42L)), lit(2L)) === 0L))
      .agg(sum("n_triangles") * 8).head.getLong(0)
    // measured across 5 seeds at sf0.001: rel-err 0.008-0.075 (0.003-0.012
    // at sf0.01 — DOULION variance shrinks with triangle count); the floor
    // is 2x the worst observed seed, failing only on a real estimator bug
    val relErr = math.abs(estTot - exactTot).toDouble / exactTot
    assert(relErr <= 0.15, s"global estimate $estTot vs exact $exactTot (relErr $relErr)")
    // hash coin, not Math.random: the estimate is a pure function of the
    // data — a repartitioned input must reproduce the output exactly
    val out1 = Gold.copurchaseTrianglesApprox(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val out2 = Gold.copurchaseTrianglesApprox(e.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out1 == out2)
    assert(out1.nonEmpty && out1.forall(_._2 % 8 == 0)) // invP³ integer scaling
  }

  test("localSupplierVolume: nation-equality closes the join cycle; mismatched-nation lines excluded") {
    import spark.implicits._
    val region = Seq((0, "ASIA"), (1, "EUROPE")).toDF("r_regionkey", "r_name")
    val nation = Seq((10, "JAPAN", 0), (11, "FRANCE", 1), (12, "CHINA", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((1L, 10), (2L, 12)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((100L, 10), (101L, 11), (102L, 12))
      .toDF("s_suppkey", "s_nationkey")
    val orders = Seq((1000L, 1L, "1996-06-01"), (1001L, 2L, "1996-07-01"),
      (1002L, 1L, "1999-01-01")) // outside window
      .toDF("o_orderkey", "o_custkey", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val li = Seq(
      (1000L, 100L, 100.0, 0.0),  // JAPAN cust x JAPAN supp -> counts
      (1000L, 102L, 999.0, 0.0),  // JAPAN cust x CHINA supp -> cycle excludes
      (1000L, 101L, 999.0, 0.0),  // FRANCE supp -> not ASIA
      (1001L, 102L, 50.0, 0.5),   // CHINA x CHINA -> 25.0
      (1002L, 100L, 999.0, 0.0))  // order outside window
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = Gold.localSupplierVolume(customer, orders, li, supplier, nation, region)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(out == Seq("JAPAN" -> 100.0, "CHINA" -> 25.0))
  }

  test("ordersQuarantine: every disposition reachable, first-match-wins priority, money at stake") {
    import spark.implicits._
    val orders = Seq(
      (null.asInstanceOf[java.lang.Long], 1L, "1995-01-01", 10.0),  // missing
      (java.lang.Long.valueOf(1L), 1L, "1989-06-01", 20.0),         // invalid_date
      (java.lang.Long.valueOf(2L), 1L, "1995-01-01", -5.0),         // bad_amount
      // bad date AND bad amount -> date wins (priority pin)
      (java.lang.Long.valueOf(5L), 1L, "1989-06-01", -1.0),
      (java.lang.Long.valueOf(3L), 1L, "1995-01-01", 30.0),         // valid (first)
      (java.lang.Long.valueOf(3L), 1L, "1995-02-01", 40.0),         // duplicate
      (java.lang.Long.valueOf(4L), 99L, "1995-01-01", 50.0))        // orphan_customer
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val customer = Seq(1L).toDF("c_custkey")
    val out = Silver.ordersQuarantine(orders, customer).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(
      "missing" -> (1L, 10.0), "invalid_date" -> (2L, 19.0),
      "bad_amount" -> (1L, -5.0), "duplicate" -> (1L, 40.0),
      "orphan_customer" -> (1L, 50.0), "valid" -> (1L, 30.0)))
  }

  test("keySkewProfile: hot key leads with exact shares, cum_share reaches 1 when keys <= topN") {
    import spark.implicits._
    val df = (Seq.fill(6)(7L) ++ Seq(1L, 2L, 3L, 4L)).toDF("o_custkey")
    val out = Skew.keySkewProfile(df, "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.head == (7L, 6L, 0.6, 0.6))
    assert(out.length == 5 && out.last._4 == 1.0)
    // cum_share is monotone
    assert(out.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("shippingPriority: all three filters strict, semi-join membership, exact scaled revenue") {
    import spark.implicits._
    val cust = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val ord = Seq(
      (10L, 1L, "1995-03-14", "1-URGENT"),  // qualifies
      (11L, 1L, "1995-03-15", "2-HIGH"),    // order date NOT < cutoff
      (12L, 2L, "1995-03-01", "3-MEDIUM"))  // wrong segment
      .toDF("o_orderkey", "o_custkey", "d", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val li = Seq(
      (10L, "1995-03-16", 100.0, 0.10),     // kept: 100*(0.9) = 90
      (10L, "1995-03-20", 50.0, 0.00),      // kept: 50
      (10L, "1995-03-15", 999.0, 0.00),     // shipdate NOT > cutoff
      (11L, "1995-03-16", 10.0, 0.00),
      (12L, "1995-03-16", 10.0, 0.00))
      .toDF("l_orderkey", "sd", "l_extendedprice", "l_discount")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd")
    val out = Gold.shippingPriority(cust, ord, li).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 10L && r.getDouble(1) == 140.0 &&
      r.getAs[String]("o_orderpriority") == "1-URGENT")
  }

  test("chi2CountryTicket: zero under proportional counts, N under perfect association, zero cells kept") {
    import spark.implicits._
    def f(rows: Seq[(String, Double)]) = rows.toDF("pays", "o_totalprice")
    // proportional: each country 1 hi + 1 lo -> independence, chi2 = 0
    val indep = f(Seq(("A", 200000.0), ("A", 1.0), ("B", 200000.0), ("B", 1.0)))
    val r0 = Gold.chi2CountryTicket(indep).head()
    assert(r0.getAs[Long]("dof") == 1L && r0.getAs[Double]("chi2") == 0.0)
    // perfect association: A all-hi, B all-lo -> chi2 = N = 4; the A-lo
    // and B-hi cells are EMPTY — they only contribute if the grid keeps
    // zero cells, which is exactly what this pins
    val assoc = f(Seq(("A", 200000.0), ("A", 200000.0), ("B", 1.0), ("B", 1.0)))
    val r1 = Gold.chi2CountryTicket(assoc).head()
    assert(r1.getAs[Double]("chi2") == 4.0)
  }

  test("supplierHhi: int-month grouping renders date_format months; exact HHI on literal shares") {
    import spark.implicits._
    // r17: grouping moved to an int month index with the yyyy-MM string
    // rebuilt AFTER the month-grain aggregate — this pins (a) the
    // rendered string equals date_format's for every row's month, and
    // (b) the HHI arithmetic: one supplier -> 1.0, two equal -> 0.5,
    // 3:1 split -> (9+1)/16 = 0.625
    val li = Seq(
      ("1996-01-15", 1L, 100.0),                      // Jan: single supplier
      ("1996-02-01", 1L, 50.0), ("1996-02-20", 2L, 50.0), // Feb: equal split
      ("1997-12-31", 1L, 75.0), ("1997-12-31", 2L, 25.0)) // Dec'97: 3:1
      .toDF("d", "l_suppkey", "gross")
      .select(col("d").cast("timestamp").as("l_shipdate"), col("l_suppkey"),
        col("gross").as("l_extendedprice"), lit(0.0).as("l_discount"))
    val out = Gold.supplierHhi(li).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1996-01", "1996-02", "1997-12"))
    val expected = li.select(date_format(col("l_shipdate"), "yyyy-MM")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out.map(_.getString(0)).toSeq == expected)
    assert(out.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 1.0), (2L, 0.5), (2L, 0.625)))
  }

  test("eventsSlidingUniques: hour-grain pre-aggregation equals the naive window() expansion") {
    // r17: the exact tier now collapses to (hour, user) before the 6x
    // window expansion; this pins bit-equality against the naive
    // window(ts, 6h, 1h) form it replaced, over the real test events
    val e = Tables.events(spark, sf)
    def key(a: Any): java.time.LocalDateTime = a match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case l: java.time.LocalDateTime => l
    }
    val naive = e.groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
      .select(col("w.start").as("w_start"), col("n_events"), col("n_users"))
      .collect().map(r => key(r.get(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val opt = Serving.eventsSlidingUniques(e).collect()
      .map(r => key(r.get(0)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(opt == naive)
  }
}
