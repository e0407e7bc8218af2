package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Bronze, Catalog, Digests, Pipeline, Serving, SparkEntry}

/** The benchmark harness. It drives the engine from outside through its
  * public functions only. One JVM performs the set-up (several times) and
  * then exactly one operation on one client thread; run.py starts JVMs
  * back to back (a closed loop) and aggregates their records.
  *
  * Workloads:
  *  - medallion: a fresh SparkSession, Bronze.copyToBronze of the five
  *    source tables the flow reads, Pipeline.run into the same output
  *    dir, then three dashboard refreshes over the gold tables just written;
  *  - analytics: SparkEntry.unpersistShared, then one pass over registry
  *    bodies of the extension families, each materialized to the noop
  *    sink, so every shared frame and memoized answer is rebuilt.
  *
  * The operation is checked; a failed check or an exception marks it
  * failed, and run.py leaves its time out of every timing.
  *
  * Usage: Harness --workload W --seed N --trace 0|1 --data DIR --work DIR
  *   --record FILE --goldens FILE --cpus N [--stamp.KEY VALUE]…
  *   [--perturb] [--write-goldens]
  * `--perturb` corrupts one stored golden so the check must fail (the
  * harness's own tests use it); `--write-goldens` records the goldens of
  * this input instead of checking them. The record (JSON) is the JVM's
  * output.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, trace: Boolean,
      data: String, work: String, record: String, goldens: Goldens,
      writeGoldens: Boolean, cpus: Int, stamp: Map[String, String])

  /** One operation's outcome: the client calls it made, harness-side
    * counters, and the failure message if it failed. */
  final case class Op(seconds: Double, calls: Seq[(String, Double)],
      counters: Map[String, Double], error: Option[String],
      traced: Boolean, span: Option[Ledger.Span], gcSeconds: Double,
      cpuSeconds: Double, stealSeconds: Double, checkSeconds: Double)

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val writing = args.contains("--write-goldens")
    // the stored value --perturb corrupts: one every operation checks
    val perturbed = if (!args.contains("--perturb")) None
      else Some(if (kv("workload") == "analytics") "digest:kmeans_segments" else "rows:ca_monthly")
    val o = Opts(kv("workload"), kv("seed").toLong, kv("trace") == "1",
      kv("data"), kv("work"), kv("record"), new Goldens(kv("goldens"), writing, perturbed),
      writing, kv("cpus").toInt,
      kv.collect { case (k, v) if k.startsWith("stamp.") => k.drop(6) -> v })
    val w: Workload = o.workload match {
      case "medallion" => new Medallion(o)
      case "analytics" => new Analytics(o)
      case "rerun_defect" => new RerunDefect(o)
      case other => sys.error(s"unknown workload $other")
    }
    new Runner(o, w).run()
  }

  // ------------------------------------------------------------ sessions
  class Sessions(o: Opts) {
    private var current: Option[SparkSession] = None
    val conf: Seq[(String, String)] = Seq(
      "spark.master" -> s"local[${o.cpus}]",
      "spark.app.name" -> "perfbench",
      "spark.sql.shuffle.partitions" -> o.cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      // the engine's bench session settings (graft.Bench)
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.local.dir" -> s"${o.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${o.work}/warehouse")

    /** Stop the current session (if any) and start a fresh one. */
    def fresh(listeners: Boolean): SparkSession = {
      stop()
      val b = SparkSession.builder()
      (conf ++ (if (listeners) Ledger.listenerConfs else Nil)).foreach {
        case (k, v) => b.config(k, v)
      }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      current = Some(s)
      s
    }

    def stop(): Unit = {
      current.foreach(_.stop())
      current = None
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  // ------------------------------------------------------------ workloads
  /** A workload: its set-up, one operation and that operation's check. */
  abstract class Workload(val o: Opts) {
    val sessions = new Sessions(o)
    var spark: SparkSession = _
    /** Calls made by the current operation: (name, milliseconds). */
    protected val calls = mutable.ArrayBuffer.empty[(String, Double)]
    protected val counters = mutable.Map.empty[String, Double]

    /** One client call into a layer: timed, and a span when tracing. */
    protected def call[T](name: String, layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = Ledger.span(name, layer)(body)
      calls += name -> (System.nanoTime() - t0) / 1e6
      r
    }

    /** One set-up: a fresh session and the catalog of the source tables. */
    def setup(listeners: Boolean): Unit = {
      spark = sessions.fresh(listeners)
      Catalog.registerTables(spark, o.data)
    }
    /** Called before each operation, outside its clock; `listeners` says
      * whether a new session must register the tracing listeners. */
    def beforeOp(listeners: Boolean): Unit = ()
    /** The timed body of one operation. */
    protected def body(): Unit
    /** Correctness check of the operation just run, outside its clock. */
    protected def check(): Unit

    def runOp(traced: Boolean): Op = {
      calls.clear(); counters.clear()
      val gc0 = Runner.gcSeconds()
      val cpu0 = Runner.cpuSeconds()
      val steal0 = Runner.stealSeconds()
      var span: Option[Ledger.Span] = None
      val t0 = System.nanoTime()
      val err = try {
        Ledger.span("op", "op") {
          span = Ledger.current
          body()
        }
        None
      } catch { case e: Throwable => Some(Runner.msg(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val gc = Runner.gcSeconds() - gc0
      val cpu = Runner.cpuSeconds() - cpu0
      val steal = Runner.stealSeconds() - steal0
      val c0 = System.nanoTime()
      val checked = err.orElse(try { check(); None }
        catch { case e: Throwable => Some(Runner.msg(e)) })
      Op(secs, calls.toList, counters.toMap, checked, traced,
        if (traced) span else None, gc, cpu, steal, (System.nanoTime() - c0) / 1e9)
    }
  }

  /** Five source tables `Pipeline.run` reads. */
  val MedallionTables = Seq("orders", "customer", "nation", "lineitem", "part")
  /** Dashboard refreshes after each medallion run (the first one is cold). */
  val Refreshes = 3

  /** The reference flow end to end, as one scheduled run deploys it: a
    * fresh SparkSession (its own SparkContext, like the reference's one
    * Spark application per flow), bronze copies, Pipeline.run, then
    * `Refreshes` dashboard refreshes over the gold tables just written. */
  class Medallion(o: Opts) extends Workload(o) {
    val bronze = s"${o.work}/medallion_bronze"
    val out = s"${o.work}/medallion_out"
    private val expect = Expect.load(o.data)
    private var result: Pipeline.Result = _
    private val refresh = new Refresh(() => spark, out, o.seed, o.goldens)

    override def beforeOp(listeners: Boolean): Unit = spark = sessions.fresh(listeners)

    protected def body(): Unit = {
      val bytes = MedallionTables.map { t =>
        call("bronze.copyToBronze", "bronze")(
          Bronze.copyToBronze(s"${o.data}/$t.parquet", bronze)).bytes
      }
      counters("bronze.bytes") = bytes.sum.toDouble
      result = call("pipeline.run", "pipeline")(Pipeline.run(spark, bronze, out))
      val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      refresh.clear()
      (1 to Refreshes).foreach(_ => refresh.run((name, layer, req) => call(name, layer)(req())))
      counters("catalog.files_discovered") =
        (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble
    }

    protected def check(): Unit = Ledger.span("check", "check") {
      Pipeline.checkGold(spark, out)
      Checks.equal("quality", expect.quality, result.quality)
      Checks.equal("gold rows", expect.goldRows,
        result.rows.filter { case (k, _) => expect.goldRows.contains(k) })
      val silver = Seq("orders", "customer").map(t =>
        t -> spark.read.parquet(s"$out/silver/$t").count()).toMap
      Checks.equal("silver rows", expect.silverRows, silver)
      result.rows.foreach { case (t, n) => o.goldens.check(s"rows:$t", n.toString) }
      refresh.check(expect.kpis)
      if (o.writeGoldens) refresh.writeAll()
      counters("silver.rows") = silver.values.sum.toDouble
      val files = Checks.files(new File(s"$out/gold")).filter(_.getName.endsWith(".parquet"))
      counters("gold.files") = files.size.toDouble
      counters("gold.bytes") = files.map(_.length()).sum.toDouble
    }
  }

  /** One dashboard refresh: Catalog.registerGold, seven full gold reads
    * and eight endpoints (Serving.kpis plus seven Catalog.fetchCollection
    * calls with sort spec, limit and fields), in an order and with
    * parameters drawn from the seed. Every response is digested and must
    * match the committed golden of its (endpoint, parameters). */
  class Refresh(spark: () => SparkSession, out: String, seed: Long, goldens: Goldens) {
    private val rng = new Random(seed)
    private val reads = Seq("ca_monthly", "ca_country", "ca_product",
      "segment_summary", "client_scores", "dim_clients", "cohort_first_purchase")
    /** (view, sort specs to choose from, fields to project). Every sort
      * ends on a unique key, so the limited row set is deterministic. */
    private val fetches = Seq(
      ("gold_ca_monthly", Seq("mois", "ca:desc,mois"), Seq("mois", "ca")),
      ("gold_ca_country", Seq("ca:desc,pays", "pays"), Seq("pays", "ca")),
      ("gold_ca_product", Seq("ca:desc,produit", "produit:desc"), Seq("produit", "ca")),
      ("gold_client_scores", Seq("prob_reachat_12m:desc,c_custkey",
        "value_at_risk_12m:desc,c_custkey"), Seq("c_custkey", "prob_reachat_12m",
        "expected_value_12m", "value_at_risk_12m", "segment_label")),
      ("gold_dim_clients", Seq("total_spend:desc,c_custkey", "recency_days,c_custkey"),
        Seq("c_custkey", "c_name", "recency_days", "total_orders", "total_spend")),
      ("gold_daily", Seq("jour:desc", "ca:desc,jour"), Seq("jour", "ca", "achats")),
      ("gold_segment_summary", Seq("clients:desc,segment_label", "segment_label"),
        Seq("segment_label", "clients", "ca_12m")))
    private val limits = Seq(10, 50, 100, 500)
    private type Request = (String, String, String, () => Seq[Row])
    private val readReqs: Seq[Request] = reads.map(t => (s"read:$t", s"catalog.read:$t",
      "catalog", () => spark().table(s"gold_$t").collect().toSeq))
    private val kpis: Request = ("kpis", "serving.kpis", "serving",
      () => Serving.kpis(spark().table("gold_fact_achats")).collect().toSeq)
    private def fetch(view: String, sort: String, limit: Int, cols: Seq[String]): Request =
      (s"fetch:$view?sort=$sort&limit=$limit&fields=${cols.mkString(",")}",
        s"catalog.fetch:$view", "catalog",
        () => Catalog.fetchCollection(spark(), view, sort, limit, cols).collect().toSeq)
    /** The 15 requests of a refresh: (key, call name, layer, request). */
    val requests: Seq[Request] = rng.shuffle(readReqs ++
      fetches.map { case (view, sorts, fields) =>
        fetch(view, sorts(rng.nextInt(sorts.size)), limits(rng.nextInt(limits.size)),
          if (rng.nextBoolean()) fields else Nil)
      } :+ kpis)
    /** Every request any seed can draw: the keys the goldens cover. */
    private def allRequests: Seq[Request] = readReqs ++ (for {
      (view, sorts, fields) <- fetches; sort <- sorts; limit <- limits
      cols <- Seq(fields, Nil)
    } yield fetch(view, sort, limit, cols)) :+ kpis
    private val responses = mutable.ArrayBuffer.empty[Map[String, Seq[Row]]]

    def clear(): Unit = responses.clear()

    /** One refresh; `call(name, layer, request)` times one client call. */
    def run(call: (String, String, () => Seq[Row]) => Seq[Row]): Unit = {
      call("catalog.registerGold", "catalog", () => { Catalog.registerGold(spark(), out); Nil })
      responses += requests.map { case (key, name, layer, req) =>
        key -> call(name, layer, req) }.toMap
    }

    /** A full read has no defined row order; a fetch is sorted. */
    private def digest(key: String, rows: Seq[Row]): String =
      Checks.digest(if (key.startsWith("read:")) rows.sortBy(_.toString) else rows)

    /** kpis must equal the harness's own aggregate over the silver orders
      * in integer cents (and the generator's), and every response its
      * golden. */
    def check(generated: (Long, Long, Long)): Unit = {
      val rows = spark().read.parquet(s"$out/silver/orders")
        .select("o_custkey", "o_totalprice").collect()
        .filter(r => r.getDouble(1) > 0 && r.getDouble(1) <= graft.Gold.MaxAmount)
      val own = (rows.map(r => math.round(r.getDouble(1) * 100)).sum,
        rows.length.toLong, rows.map(_.getLong(0)).distinct.length.toLong)
      responses.foreach { resp =>
        val k = resp("kpis").head
        val got = (math.round(k.getAs[Double]("ca_total") * 100),
          k.getAs[Long]("nb_achats"), k.getAs[Long]("nb_clients"))
        Checks.equal("kpis vs silver orders", own, got)
        Checks.equal("kpis vs generator", generated, got)
        resp.foreach { case (key, rows) => goldens.check(s"digest:$key", digest(key, rows)) }
      }
    }

    /** Records the golden of every request any seed can draw. */
    def writeAll(): Unit = allRequests.foreach { case (key, _, _, req) =>
      goldens.check(s"digest:$key", digest(key, req()))
    }
  }

  /** One pass over registry bodies of the extension families, each
    * materialized to the noop sink, after releasing every shared frame
    * and memoized answer. */
  class Analytics(o: Opts) extends Workload(o) {
    /** (body, module): two bodies per extension family, then one serving
      * and one gold body over the same tables. */
    val bodies: Seq[(String, String)] = Seq(
      "kmeans_segments" -> "ml", "knn_ivf" -> "ml",
      "product_rank" -> "graph", "product_kcore" -> "graph",
      "dedup_clusters" -> "llm", "bpe_learn" -> "llm",
      "bm25_search" -> "search", "tfidf_top_terms" -> "search",
      "event_sessions_stream" -> "streaming", "events_upsert_publish" -> "streaming",
      "client_deciles" -> "serving", "dim_clients" -> "gold")
    private val frames = mutable.Map.empty[String, DataFrame]

    protected def body(): Unit = {
      frames.clear()
      call("spark_entry.unpersistShared", "spark")(SparkEntry.unpersistShared(blocking = true))
      bodies.foreach { case (name, module) =>
        call(name, module) {
          val df = SparkEntry.queries(name)(spark, o.data)
          df.write.format("noop").mode("overwrite").save()
          frames(name) = df
        }
      }
    }

    /** Each body's order-independent digest must equal its golden. */
    protected def check(): Unit = Ledger.span("check", "check") {
      bodies.foreach { case (name, _) =>
        o.goldens.check(s"digest:$name",
          Digests.resultDigest(Digests.canonical(name, frames(name))))
      }
    }
  }

  /** Two Pipeline.run calls in one session on the same output dir. */
  class RerunDefect(o: Opts) extends Workload(o) {
    private val med = new Medallion(o)
    protected def body(): Unit = {
      MedallionTables.foreach(t =>
        Bronze.copyToBronze(s"${o.data}/$t.parquet", med.bronze))
      Pipeline.run(spark, med.bronze, med.out)
      Pipeline.run(spark, med.bronze, med.out)
    }
    protected def check(): Unit = Pipeline.checkGold(spark, med.out)
  }
}
