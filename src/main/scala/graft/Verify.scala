package graft
import java.nio.file.{Files, Paths}
import EntryPoint.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = query-name subset (iteration aid; the driver passes 2)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = EntryPoint.session(EntryPoint.cpus("4"))
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark's scheduler interleaves their jobs, so
    // one long shuffle doesn't serialize the whole dump. Failures stay
    // isolated per query.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // determinism digests for the no-oracle queries: computed from the
    // parquet just written (exactly what the driver checks), compared
    // against the committed goldens; mismatches print as `digest
    // MISMATCH` (crosscheck fails the sweep on them) rather than
    // failing the query row — the digest pins OUR tree against OUR
    // history and must not convert an environment delta into a driver
    // correctness failure (see graft.Digests).
    val dataset = Paths.get(sfDir).getFileName.toString
    val digests = scala.collection.concurrent.TrieMap.empty[String, String]
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, body) =>
      // correctness-dump posture: a tier-switch query runs its exact body
      // here so the oracle hash-checks the query code itself; Bench
      // always measures the registry (derived/warm/sketch) body
      val fn = SparkEntry.exactTiers.get(name).fold(body)(_.body)
      Future {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          if (Digests.queries(name)) {
            val dg = Digests.resultDigest(
              Digests.canonical(name, spark.read.parquet(s"$outDir/$name")))
            digests.put(name, dg)
            Digests.golden.get((name, dataset)).foreach { want =>
              if (want != dg)
                System.err.println(s"[verify] digest MISMATCH $name: got $dg want $want")
            }
          }
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    futures.foreach(Await.result(_, Duration.Inf))
    pool.shutdown() // non-daemon workers would keep the forked JVM alive
    // artifacts substitution: oracle SQL that reads persisted model
    // state (IVF centroids) carries a placeholder — concretize it to
    // this dataset's stable artifacts path so the dumped SQL is
    // runnable by the driver's DuckDB after this JVM exits
    val art = Tables.oracleArtifactsDir(sfDir)
    // bounded-error oracles additionally read this run's own dump (the
    // estimate parquet) — concretize the out-dir token the same way
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${jsonString(k)}: ${jsonString(v.replace(SparkEntry.ArtifactsToken, art)
          .replace(SparkEntry.OutDirToken, outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // computed no-oracle digests (regeneration source for Digests.golden)
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      digests.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonString(s"$k|$dataset")}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
