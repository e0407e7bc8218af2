package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end medallion flow (reference tools/run.py:131-146 →
  * flows_spark/{silver,gold}_transformation_spark.py): bronze (typed
  * scans) → silver (cleaned parquet) → gold (star schema + serving
  * aggregates), one SparkSession, all sinks parquet.
  *
  * Deliberate improvements over the reference (SURVEY §3.4/§7):
  *  - ONE session for the whole flow (the reference pays session startup
  *    per stage — 3× on its own benchmark);
  *  - the fact subtree is cached before fanning out to the 10+ gold
  *    sinks (the reference re-executes it per sink);
  *  - the fact sink is partitioned by `annee` — at 100 TB the fact table
  *    is the big one, and year partitions give partition pruning to every
  *    downstream time-ranged scan;
  *  - silver quality counters are computed in one pass, not one action
  *    per rule;
  *  - independent sinks are written concurrently through [[FanOut]]: the
  *    2 silver sinks together, then the 13 gold sinks with their readback
  *    counts, `fact_achats` (the largest) first. Up to sf0.01 the flow is
  *    ~130 jobs of about two tasks each, so a single calling thread leaves
  *    most task slots idle; the pool is bounded by `defaultParallelism`
  *    since one in-flight job per slot already fills them. `fact` and
  *    `feats` enter [[CacheOnce]] on the caller's thread before the
  *    fan-out, so all sinks share one cached copy;
  *  - the quality pass stays sequential, ahead of the silver writes:
  *    overlapping it saves little more and would blur its cost in a trace,
  *    where an action that starts before the first silver write is the
  *    quality step;
  *  - sinks are read back with the schema of the frame just written
  *    ([[readBack]]), saving the footer-inference job per sink.
  */
object Pipeline {

  case class Result(rows: Map[String, Long], quality: Map[String, Long])

  def run(spark: SparkSession, sfDir: String, outDir: String): Result = {
    // ---- silver -----------------------------------------------------------
    val rawOrders = Tables.orders(spark, sfDir)
    val rawCustomer = Tables.customer(spark, sfDir)
    val quality = Silver.qualityCounters(rawOrders, rawCustomer).first()
    val qualityMap = quality.schema.fieldNames.map(n =>
      n -> quality.getAs[Long](n)).toMap

    val silver = Seq(
      "orders" -> Silver.cleanOrders(rawOrders, rawCustomer),
      "customer" -> Silver.cleanCustomers(rawCustomer))
    FanOut(spark, silver.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(s"$outDir/silver/$name") })

    // ---- gold -------------------------------------------------------------
    val Seq(orders, customer) = silver.map { case (name, df) =>
      readBack(spark, df, s"$outDir/silver/$name") }
    val nation = Tables.nation(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    val part = Tables.part(spark, sfDir)

    val ref = Gold.referenceDate(Gold.validOrders(orders))
    val fact = CacheOnce(Gold.buildFact(orders, customer, nation))
    val feats = CacheOnce(Gold.clientFeatures(orders, lineitem, ref))
    val scored = Gold.scoreClients(feats, Gold.scoreThresholds(feats))

    // (name, frame, partition columns); fact_achats first, the largest sink
    val gold: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("fact_achats", fact, Seq("annee")),
      ("dim_clients", Gold.dimClients(customer, orders, lineitem, ref), Nil),
      ("client_features", feats, Nil),
      ("client_scores", scored, Nil),
      ("segment_summary", Gold.segmentSummary(scored), Nil),
      ("ca_monthly", Gold.caMonthly(fact), Nil),
      ("ca_country", Gold.caCountry(fact), Nil),
      ("ca_product", Gold.caProduct(orders, lineitem, part), Nil),
      ("cohort_first_purchase", Gold.cohort(fact), Nil),
      ("gold_daily", Serving.daily(fact), Nil),
      ("gold_weekly", Serving.weekly(fact), Nil),
      ("gold_distribution", Serving.distribution(fact), Nil),
      ("gold_monthly_growth", Serving.monthlyGrowth(Gold.caMonthly(fact)), Nil))

    val rows = FanOut(spark, gold.map { case (name, df, partitions) => () =>
      val dir = s"$outDir/gold/$name"
      df.write.mode("overwrite").partitionBy(partitions: _*).parquet(dir)
      name -> readBack(spark, df, dir, partitions).count()
    }).toMap
    fact.unpersist()
    feats.unpersist()
    Result(rows, qualityMap)
  }

  /** Reads a sink back with the schema of the frame just written there,
    * which skips the one-job footer inference of an inferring
    * `spark.read.parquet`. Partition columns are left out of that schema,
    * so their types come from the directory names as in an inferring read
    * (a long `annee` reads back as int); GoldSpec pins the equality. */
  private[graft] def readBack(spark: SparkSession, df: DataFrame, dir: String,
      partitions: Seq[String] = Nil): DataFrame =
    spark.read.schema(StructType(df.schema.filterNot(f => partitions.contains(f.name))))
      .parquet(dir)

  /** Small-file compaction for a Hive-partitioned parquet sink — the
    * maintenance job every long-lived 100 TB table needs: daily appends
    * leave each partition with one file per writing task, and scan/
    * listing cost grows with file COUNT, not bytes. Rewrites each
    * partition into `ceil(bytes / targetBytes)` files (never zero) by
    * hash-repartitioning WITHIN the partition column, writes to a staging
    * dir, and swaps directories only after the staged copy is complete —
    * readers never observe a half-compacted table. Work is proportional
    * to the partitions rewritten; `onlyPartitions` restricts the pass to
    * named partition values (the incremental form: compact yesterday,
    * not history). Returns (filesBefore, filesAfter).
    *
    * CRASH SAFETY: a directory swap is two renames (live→trash,
    * staged→live) and a crash between them would leave NO live
    * partition — the same two-rename hole the manifest sinks closed.
    * Here an INTENT MARKER (`.<dir>.commit`) is created only once the
    * staged copy is complete and removed only once the swap is done, so
    * every crash point is mechanically recoverable: [[recoverCompaction]]
    * (run on entry, and safe to run any time) promotes a marker-proven
    * staged dir whose live dir is missing, aborts a half-staged attempt
    * whose live dir survived, and sweeps swap leftovers. The
    * crash-injection matrix in GoldSpec drives every `tick` point.
    * PipelineSpec gates: row-set identical, file count reduced,
    * partition pruning still works on the compacted layout. */
  def compactSink(spark: SparkSession, dir: String, partitionCol: String,
      targetBytes: Long = 128L * 1024 * 1024,
      onlyPartitions: Seq[String] = Nil,
      tick: String => Unit = _ => ()): (Int, Int) = {
    val root = new java.io.File(dir)
    recoverCompaction(root)
    def parquets(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(k => k.isFile && k.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquets)
    }
    val partDirs = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partitionCol="))
      .filter(f => onlyPartitions.isEmpty ||
        onlyPartitions.contains(f.getName.stripPrefix(s"$partitionCol=")))
    val before = partDirs.map(parquets(_).size).sum
    partDirs.foreach { pd =>
      val files = parquets(pd)
      val bytes = files.map(_.length()).sum
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.size > n) {
        val staged = new java.io.File(pd.getParentFile, s".${pd.getName}.compact")
        val marker = new java.io.File(pd.getParentFile, s".${pd.getName}.commit")
        val trash = new java.io.File(pd.getParentFile, s".${pd.getName}.old")
        Streams.deleteRec(staged); marker.delete(); Streams.deleteRec(trash)
        spark.read.parquet(pd.toString)
          .repartition(n)
          .write.mode("overwrite").parquet(staged.toString)
        tick("staged-written")
        // the marker is created only AFTER the staged write returned, so
        // its existence proves the staged copy is whole — recovery may
        // promote it without inspecting parquet footers
        require(marker.createNewFile(), s"compaction marker already exists for $pd")
        tick("marker-created")
        require(pd.renameTo(trash), s"compaction swap failed: $pd -> $trash")
        tick("old-renamed")
        require(staged.renameTo(pd), s"compaction swap failed: $staged -> $pd")
        tick("swapped")
        marker.delete()
        tick("marker-removed")
        Streams.deleteRec(trash)
      }
    }
    (before, partDirs.map(parquets(_).size).sum)
  }

  /** Finish or abort any compaction swap a crashed [[compactSink]] left
    * behind; idempotent, run on every compaction entry (a production
    * table would also run it on open). The intent marker disambiguates
    * every crash point: marker + missing live dir + staged dir = the
    * crash hit between the two renames and the staged copy is proven
    * whole → promote it (then the old data in trash is superseded);
    * marker + live dir intact = the crash hit before the first rename →
    * abort the attempt (the next compaction pass redoes it); a
    * markerless trash/staging leftover is post-swap (or pre-marker)
    * debris → sweep. Dot-prefixed names keep every transient state
    * invisible to Spark's file listing, so readers only ever see whole
    * live dirs. */
  private[graft] def recoverCompaction(root: java.io.File): Unit = {
    val kids = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(f => f.isFile && f.getName.startsWith(".") &&
        f.getName.endsWith(".commit"))
      .foreach { marker =>
        val name = marker.getName.stripPrefix(".").stripSuffix(".commit")
        val pd = new java.io.File(root, name)
        val staged = new java.io.File(root, s".$name.compact")
        val trash = new java.io.File(root, s".$name.old")
        if (!pd.isDirectory && staged.isDirectory)
          require(staged.renameTo(pd), s"compaction recovery failed: $staged -> $pd")
        else if (pd.isDirectory && staged.isDirectory)
          Streams.deleteRec(staged)
        marker.delete()
        Streams.deleteRec(trash)
      }
    // leftovers without a marker: a pre-marker staged attempt (never
    // swap-eligible) or a post-swap trash — both safe to sweep
    kids.filter(f => f.isDirectory && f.getName.startsWith(".") &&
        (f.getName.endsWith(".old") || f.getName.endsWith(".compact")))
      .foreach { d =>
        val name = d.getName.stripPrefix(".")
          .stripSuffix(".old").stripSuffix(".compact")
        if (!new java.io.File(root, s".$name.commit").isFile) Streams.deleteRec(d)
      }
  }

  /** Dynamic partition overwrite — the partition-level MERGE every
    * backfill/restatement job runs: rewrite ONLY the partitions present
    * in the incoming batch, leave every other partition's files
    * untouched (`partitionOverwriteMode=dynamic` per-write option —
    * static mode would drop the whole table first; a read-modify-write
    * of 100 TB to restate one year is the anti-pattern this replaces).
    * Returns the post-state aggregate per partition so the oracle can
    * check BOTH that the restated partition changed and that the others
    * survived bit-for-bit. */
  def overwritePartition(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    batch.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("annee")
      .parquet(dir)
    partitionState(spark, dir)
  }

  /** Surgical key deletion (right-to-be-forgotten) from an
    * annee-partitioned sink: find the partitions that actually contain
    * the key (one partition-pruned aggregate), rewrite ONLY those with
    * the key anti-filtered, via [[overwritePartition]]'s dynamic mode —
    * every other partition's files stay bit-for-bit in place. The 100 TB
    * contrast: a naive `read → filter → overwrite` rewrites the whole
    * table to delete one customer; this rewrites
    * |partitions containing the key|. Returns the end state per
    * partition. */
  /** Minimal read schema for an EMPTY annee-partitioned fact sink (a
    * zero-row partitionBy write leaves no part files to infer from; see
    * [[Tables.parquetOr]]). Only the columns this module touches on the
    * empty path — non-empty sinks never consult it. */
  private val emptySinkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("o_custkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("o_totalprice",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("annee",
      org.apache.spark.sql.types.LongType)))

  def deleteKey(spark: SparkSession, dir: String, custkey: Long): DataFrame = {
    val sink = Tables.parquetOr(spark, dir, emptySinkSchema)
    val years = sink.filter(col("o_custkey") === custkey)
      .select("annee").distinct().collect().map(_.getAs[Number](0).intValue())
    if (years.nonEmpty)
      overwritePartition(spark, dir,
        sink.filter(col("annee").isin(years.toIndexedSeq: _*) &&
          col("o_custkey") =!= custkey)
          // sever lineage from the files being replaced — Spark refuses
          // to overwrite a path an active plan still reads
          .localCheckpoint(true))
    partitionState(spark, dir)
  }

  /** Per-partition post-state of an annee-partitioned fact sink. */
  def partitionState(spark: SparkSession, dir: String): DataFrame =
    Tables.parquetOr(spark, dir, emptySinkSchema)
      .groupBy("annee")
      .agg(count(lit(1)).as("n"), Tables.moneySum(col("o_totalprice")).as("ca"))
      .orderBy("annee")

  /** Post-hoc gold validation (port of reference scripts/check_gold.py:
    * expected columns per table, montant ≥ 0 invariant, non-empty). */
  def checkGold(spark: SparkSession, outDir: String): Unit = {
    val expected = Map(
      "fact_achats" -> Seq("o_orderkey", "o_custkey", "o_orderdate",
        "o_totalprice", "pays", "jour", "mois", "annee"),
      "dim_clients" -> Seq("c_custkey", "c_name", "first_purchase", "last_purchase",
        "recency_days", "tenure_days", "total_orders", "total_spend",
        "avg_order_value", "product_count"),
      "client_scores" -> Seq("c_custkey", "prob_reachat_12m",
        "expected_value_12m", "value_at_risk_12m", "segment_label"),
      "ca_monthly" -> Seq("mois", "ca"))
    expected.foreach { case (name, cols) =>
      val df = spark.read.parquet(s"$outDir/gold/$name")
      Tables.requireColumns(df, cols, name)
      require(df.limit(1).count() == 1, s"$name is empty")
    }
    val fact = spark.read.parquet(s"$outDir/gold/fact_achats")
    require(fact.filter(col("o_totalprice") < 0).isEmpty,
      "fact_achats contains negative amounts")
    val scores = spark.read.parquet(s"$outDir/gold/client_scores")
    require(scores.filter(col("prob_reachat_12m") < 0 ||
      col("prob_reachat_12m") > 1).isEmpty, "prob out of [0,1]")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val res = run(spark, sfDir, outDir)
    checkGold(spark, outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] ok in $secs%.1fs rows=${res.rows.toSeq.sortBy(_._1)} quality=${res.quality.toSeq.sortBy(_._1)}")
    spark.stop()
  }
}
