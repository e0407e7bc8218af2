package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Persisted inputs the query bodies read: sink copies, incremental
  * partials and indexes written once per (session, dataset), cloned
  * sessions with their own conf, the maintained views' warm-sink
  * scaffolding, and the read-back aggregate of the format round trips. */
object Fixtures {
  /** The annee-partitioned fact sink (what Pipeline.run stages for
    * fact_achats), written once per session for the pruning-dependent
    * readers. */
  private[queries] def factSink(s: SparkSession, d: String): String =
    Shared.dir(s, "fact_sink", d)(
      fact(s, d).write.mode("overwrite").partitionBy("annee").parquet(_))

  /** Annee-partitioned fact copy that the dynamic-overwrite restatement
    * mutates (factSink stays pristine for the pruning queries); shared by
    * partition_overwrite (end-state proof) and snapshot_diff (row-level
    * reconciliation of the same restatement). */
  private[queries] def restatedFactDir(s: SparkSession, d: String): String =
    Shared.dir(s, "dyn_overwrite", d) { p =>
      fact(s, d).write.mode("overwrite").partitionBy("annee").parquet(p)
      Pipeline.overwritePartition(s, p,
        fact(s, d).filter(col("annee") === 1996)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
    }

  /** Cloned session carrying the approx-distinct rewrite — ISOLATED
    * from the main session on purpose: installing the rule is the
    * switch, so every query planned on the shared session (Verify plans
    * them concurrently) keeps its exact count(DISTINCT). */
  private[queries] def rewriteSession(s: SparkSession): SparkSession =
    Shared.session(s, "rewriteSession") {
      val ns = s.newSession()
      org.apache.spark.sql.graftbridge.Bridge.addOptimizerRule(
        ns, graft.plans.ApproxDistinctRewrite)
      ns
    }

  /** Cloned session for the triangle tiers with AQE's SMJ→SHJ conversion
    * left at Spark's default (off). The bench-wide 64 MB threshold keys
    * on COMPRESSED post-shuffle bytes, but the triangle endpoint joins
    * carry packed adjacency ARRAYS that a ShuffledHashJoin pins UNPACKED
    * in its build relation — measured at sf1 as a hash-relation OOM
    * ("Can't acquire 268435456 bytes to build hash relation"). With the
    * conversion off, AQE still broadcasts a genuinely small adjacency
    * (keeps the local shape), and once it outgrows broadcast the join
    * stays sort-merge, which SPILLS instead of pinning. Join strategy
    * only — results unchanged; shared frames built on the parent session
    * are reused here through the SharedState CacheManager's
    * canonical-plan matching. (The alternative, merge hints on the two
    * joins, also kills the legitimate small-scale broadcast: +65%
    * at sf0.1.) */
  private[queries] def triangleSession(s: SparkSession): SparkSession =
    Shared.session(s, "triangleSession") {
      val ns = s.newSession()
      ns.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      ns
    }

  /** The corpus-half dedup index (what a production ingest job maintains):
    * doc-level sha2 hashes and (doc_id, n, shingle-hash) rows for
    * documents below the delta boundary, written once per (session,
    * dataset). dedup_incremental only READS this — re-deriving the corpus
    * frames from text per delta batch is exactly what an incremental
    * design must not do at 100 TB. (On a cluster the shingle index would
    * be bucketed by `h` so the delta join co-locates without shuffling
    * the index; local parquet keeps the same read path.) */
  private[queries] def dedupIndex(s: SparkSession, d: String, oldDocs: Long = 400): String =
    Shared.dir(s, "dedup_idx", d) { p =>
      Tables.documents(s, d).filter(col("doc_id") < oldDocs)
        .select(sha2(col("text"), 256).as("h"))
        .write.mode("overwrite").parquet(s"$p/exact")
      docShingles(s, d).filter(col("doc_id") < oldDocs)
        .write.mode("overwrite").parquet(s"$p/shingles")
    }

  /** Persisted IVF coarse-quantizer centroids over the already-indexed
    * vectors (vec_id < 400) — the ANN analog of [[dedupIndex]]: written
    * once per (session, dataset); knn_ivf_incremental only READS this
    * and scans the post-cutoff delta, never refitting KMeans or
    * rescanning indexed vectors. */
  private[queries] def ivfIndex(s: SparkSession, d: String, oldVecs: Long = 400): String =
    Shared.session(s, ("ivfIndex", d)) {
      // artifacts dir, NOT a temp dir: the DuckDB oracle re-derives the
      // argmin assignment from this exact parquet after the JVM exits
      val p = s"${Tables.oracleArtifactsDir(d)}/ivf_idx"
      Ml.ivfCentroids(Tables.embeddings(s, d).filter(col("vec_id") < oldVecs))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Full-corpus IVF coarse-quantizer centroids for [[knn_ivf]]'s
    * search path — persisted to the same oracle-artifacts dir so the
    * DuckDB oracle restates assignment, probing, and the cosine top-k
    * from the identical centroid values the Spark plan folded. */
  private[queries] def ivfFullIndex(s: SparkSession, d: String): String =
    Shared.session(s, ("ivfFullIndex", d)) {
      val p = s"${Tables.oracleArtifactsDir(d)}/ivf_full"
      Ml.ivfCentroids(Tables.embeddings(s, d))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Persisted per-month revenue partial up to the refresh cutoff (what
    * the last gold refresh left behind): written once per (session,
    * dataset) in mergeable integer-cents form. ca_monthly_incremental
    * only READS this and scans the post-cutoff delta — the historical
    * orders are never rescanned, the refresh shape a 100 TB fact table
    * requires (the reference instead re-runs the whole pipeline,
    * tools/run.py:131-146). */
  val IncrementalCutoff = "1997-01-01 00:00:00"
  private[queries] def caPartialDir(s: SparkSession, d: String): String =
    Shared.dir(s, "ca_partial", d)(
      Gold.caMonthlyPartial(historyOrders(s, d)).write.mode("overwrite").parquet(_))

  /** The orders a persisted partial covers (before [[IncrementalCutoff]])
    * and the delta an incremental refresh scans (from it on). */
  private[queries] def historyOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderdate") < lit(IncrementalCutoff).cast("timestamp"))
  private[queries] def deltaOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderdate") >= lit(IncrementalCutoff).cast("timestamp"))

  /** Persisted base of the order-revenue JOIN view: the pre-cutoff
    * orders ⋈ pre-cutoff lines partial, written once — refreshes merge
    * against it by key, never re-join it. Same lifecycle as
    * [[caPartialDir]]. */
  private[queries] def joinPartialDir(s: SparkSession, d: String): String =
    Shared.dir(s, "join_partial", d) { p =>
      Gold.orderRevenuePartial(historyOrders(s, d),
          Tables.lineitem(s, d).filter(col("l_shipdate") < lit(IncrementalCutoff).cast("timestamp")))
        .write.mode("overwrite").parquet(p)
    }

  /** Persisted KPI partial (pre-cutoff): algebraic fields + a binary
    * DataSketches HLL sketch of client keys — the merge-not-recount form
    * of a distinct count. Same cutoff and lifecycle as [[caPartialDir]]. */
  private[queries] def kpisPartialDir(s: SparkSession, d: String): String =
    Shared.dir(s, "kpi_partial", d)(
      Serving.kpisPartial(historyOrders(s, d)).write.mode("overwrite").parquet(_))

  /** Multi-file orders fixture for the streaming-maintenance queries: 8
    * parquet files so AvailableNow at 2 files/trigger yields real
    * micro-batches (the single testdata file would collapse to one).
    * Shared per (session, dataset); [[warmMaintBase]] splits it into
    * history and tail. */
  private[queries] def ordersStreamDir(s: SparkSession, d: String): String =
    Shared.dir(s, "orders_stream", d)(
      Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(_))

  /** Warm maintained-view scaffolding. A maintained view's steady-state
    * unit of work is "merge ONE arriving delta into the standing sink" —
    * not "replay the whole history into an empty sink", which is what a
    * fresh-sink invocation measures (4 micro-batches × a full
    * sink-generation rewrite each, all of it one-time bootstrap cost in
    * production). So: split the 8-chunk stream fixture into history (6
    * files) and a one-trigger tail delta (2 files), bootstrap the view
    * over the history into a BASE sink once per (session, dataset), and
    * let every invocation merge only the tail. The final state covers the
    * full history either way, so the oracle hash is unchanged. This warm
    * body is the one Bench times and Verify dumps: the first call per
    * (session, dataset) bootstraps the 6 history files from an empty sink
    * (3 micro-batches), so Verify's oracle check covers the cold
    * from-empty path as well as the tail merge; its crash/redelivery
    * machinery stays covered by StreamsSpec/SinkDurabilitySpec, which
    * call Streams.* directly. */
  private[queries] def warmMaintBase(s: SparkSession, d: String, kind: String)
      (maintain: (String, String) => Unit): (String, String) =
    Shared.session(s, ("warmMaintBase", d, kind)) {
      def tmp(tag: String) = Shared.tempDir(s"graft_${kind}_$tag")
      val parts = new java.io.File(ordersStreamDir(s, d)).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val (hist, tail, base) = (tmp("hist"), tmp("tail"), tmp("base"))
      // an EMPTY source writes a single part file, not 8 — degrade to "no
      // history" (everything is the tail, no bootstrap runs, the merge
      // starts from the empty base sink = the cold path)
      val (h, t) = parts.splitAt(math.max(0, parts.length - 2))
      h.foreach(f => java.nio.file.Files.createLink(hist.resolve(f.getName), f.toPath))
      t.foreach(f => java.nio.file.Files.createLink(tail.resolve(f.getName), f.toPath))
      if (h.nonEmpty) maintain(hist.toString, base.toString)
      (base.toString, tail.toString)
    }

  /** Copy the committed base sink to a fresh scratch dir so each timed
    * invocation merges the tail delta into ITS OWN warm sink — passes
    * stay independent (sum-merge is not idempotent) while the measured
    * cost is the per-trigger merge. The copy is bench scaffolding, not
    * operator cost: the sink is view-grain (months / top clients), a
    * handful of small files at any corpus scale. */
  private[queries] def scratchSinkCopy(baseSink: String, kind: String): String = {
    val scratch = Shared.tempDir(s"graft_${kind}_scratch")
    val basePath = java.nio.file.Paths.get(baseSink)
    val walk = java.nio.file.Files.walk(basePath)
    try walk.forEach { p =>
      val dst = scratch.resolve(basePath.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    scratch.toString
  }

  /** The per-status aggregate a format round trip (orders written as
    * CSV or ORC, read back with the parquet schema) answers with: the
    * timestamp min/max ride along so a null-coerced parse breaks the hash. */
  private[queries] def roundtripSummary(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        Tables.moneySum(col("o_totalprice")).as("total"),
        countDistinct("o_custkey").as("n_customers"),
        min("o_orderdate").as("first_date"),
        max("o_orderdate").as("last_date"))
      .orderBy("o_orderstatus")
}
