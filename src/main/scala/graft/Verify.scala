package graft
import java.nio.file.{Files, Paths}
import EntryPoint.jsonString
import graft.queries.{Digest, Oracle, OracleSql, QuerySpec}
/** Driver-run correctness dump: each SparkEntry spec's result → parquet,
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
    val futures = SparkEntry.specs
      .filter(q => only.forall(_.contains(q.name)))
      .map { case QuerySpec(name, body, check) =>
      // every query dumps its registry body, the one Bench times; a
      // sketch estimate is checked by its bounded-error oracle
      Future {
        val t0 = System.nanoTime()
        try {
          body(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          check match {
            case Digest(golden, canon) =>
              val dg = Digests.resultDigest(canon(Tables.parquet(spark, s"$outDir/$name")))
              digests.put(name, dg)
              golden.get(dataset).foreach { want =>
                if (want != dg)
                  System.err.println(s"[verify] digest MISMATCH $name: got $dg want $want")
              }
            case _ =>
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
    val json = SparkEntry.specs
      .collect { case QuerySpec(name, _, Oracle(sql)) =>
        s"${jsonString(name)}: ${jsonString(sql.replace(OracleSql.ArtifactsToken, art)
          .replace(OracleSql.OutDirToken, outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // computed no-oracle digests (regeneration source for the Digest goldens)
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      digests.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonString(s"$k|$dataset")}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
