package graft

import java.nio.file.Files

/** Empty-input sweep over the WHOLE query registry: every entry must
  * degrade gracefully on zero-row source tables — an empty result, or a
  * single all-zero/NULL aggregate row — never a crash.
  *
  * At 100 TB an empty slice is routine (a partition of the calendar with
  * no orders, a tenant with no documents, a cold-start maintained view),
  * and Spark 4's default ANSI mode turns what used to be quiet NULL
  * arithmetic into thrown errors: the round-10 fuzz run caught exactly
  * this class in `customerOverlap` (0/0 Jaccard over an empty year-set
  * threw DIVIDE_BY_ZERO). This gate makes the class structural: the
  * sweep executes all registry queries against schema-correct zero-row
  * parquet and asserts the only failures are the documented fail-loud
  * preconditions below.
  */
class EmptyInputSpec extends SparkSpec {

  /** Schema-correct zero-row copies of all ten driver tables, written
    * once per JVM. */
  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty-sf").toFile
    dir.deleteOnExit()
    Tables.required.keys.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/$t.parquet")
    }
    dir.getAbsolutePath
  }

  /** Queries whose EMPTY-input failure is the documented contract:
    * enforced preconditions that must fail loudly rather than produce a
    * silently-wrong result. Keep this list justified line by line. */
  private val failLoudOnEmpty: Map[String, String] = Map(
    "negative_samples" ->
      "require(n >= 2) — contrastive sampling over <2 docs is undefined (prep.scala:129)",
    // ML TRAINERS: fitting a model on zero rows is undefined — each now
    // fails with a clear require instead of a Spark-ML-internal error.
    // Relational/serving/graph/file-layout queries all degrade to empty
    // or NULL-metric results; only training has no sensible empty output.
    "kmeans_segments" -> "require — kmeans: no feature rows to cluster (ml.scala)",
    "kmeans_silhouette" -> "require — kmeans: no feature rows to cluster (ml.scala)",
    "embedding_pca" -> "require — no embedding rows to decompose (ml.scala)",
    "knn_ivf" -> "require — no embedding rows to index (ml.scala)",
    "knn_ivf_incremental" -> "require — ivfCentroids: no corpus (ml.scala)",
    "propensity_model" -> "require — no valid orders to train on (ml.scala)",
    "propensity_backtest" -> "require — no valid orders to train on (ml.scala)"
  )

  test("all registry queries degrade gracefully on zero-row tables") {
    val failures = scala.collection.mutable.ListBuffer[(String, String)]()
    val unexpectedPasses = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val outcome: Option[String] =
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)}")
        }
      (outcome, failLoudOnEmpty.contains(name)) match {
        case (Some(err), false) => failures += ((name, err))
        case (None, true)       => unexpectedPasses += name
        case _                  => ()
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} queries crash on empty input (expected graceful degradation):\n" +
        failures.map { case (n, e) => s"  $n — $e" }.mkString("\n"))
    assert(unexpectedPasses.isEmpty,
      "whitelisted fail-loud queries now pass on empty input — prune the whitelist: " +
        unexpectedPasses.mkString(", "))
  }
}
