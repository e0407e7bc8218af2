package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic R× scale-up of a test dataset for the empirical scale
  * soak (`tools/scale_soak.py` → BENCH_SCALE.json): the output is R
  * shards with IDENTICAL internal statistics and R× global
  * cardinalities, so every suite query's expected cost growth is
  * ≤ ~linear unless its complexity class is genuinely worse — which is
  * exactly what the soak exists to catch.
  *
  * Shard construction, per table:
  *  - entity keys INTERLEAVE (new = old·R + shard) rather than offset,
  *    so every absolute-threshold filter in the suite (`vec_id < 10`
  *    probes, `doc_id < 400` index boundary, …) keeps selecting the
  *    same FRACTION of the data it selects at the base SF;
  *  - referential integrity holds within each shard by construction —
  *    all foreign keys transform with the same interleave;
  *  - fixed dimensions (region, nation) stay fixed, as TPC-H keeps them
  *    at every SF;
  *  - document text gets a per-shard BIJECTIVE letter rotation
  *    (`translate`): bijections preserve n-gram equality, so
  *    within-shard dup/near-dup structure is preserved exactly, while
  *    cross-shard shingle overlap collapses to noise — an R× corpus
  *    must not be R carbon copies, or every near-dup query's candidate
  *    count grows quadratically instead of linearly;
  *  - embeddings get a per-shard deterministic ±1 sign flip per
  *    dimension (a diagonal ORTHOGONAL transform): within-shard cosines
  *    and L2 distances are preserved bit-exactly, cross-shard cosines
  *    collapse to ~0 (random ± sums), so ANN structure scales the way a
  *    genuinely larger corpus does. Shard 0 is the identity everywhere:
  *    the base dataset embeds verbatim.
  *
  * Timestamps, money values, and categorical columns copy through
  * unchanged — time-grain aggregates see the same group count with R×
  * rows per group, which is precisely what a larger SF does.
  */
object GenScale {
  private def splitmix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-shard ±1 per dimension; shard 0 = identity. Distinct salt from
    * Llm.hyperplanes so shard patterns never coincide with LSH planes. */
  private[graft] def shardSigns(shard: Int, dim: Int): Seq[Double] =
    if (shard == 0) Seq.fill(dim)(1.0)
    else (0 until dim).map(d =>
      if ((splitmix(0x5CA1E000L + shard.toLong * 8192 + d) & 1L) == 1L) 1.0 else -1.0)

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private def rot(s: String, k: Int): String = {
    val i = k % s.length
    s.drop(i) + s.take(i)
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, rStr) = args.take(3)
    val r = rStr.toInt
    require(r >= 1, "replication factor must be >= 1")
    // events.parquet may carry TIMESTAMP(NANOS) at some SFs: the conf
    // reads it as long and it is written back as int64
    val spark = EntryPoint.session(EntryPoint.cpus("32"))

    // SINGLE-FILE layout, exactly like the driver's testdata: the
    // streaming file source selects leaves via
    // `pathGlobFilter=events.parquet`, so a DIRECTORY named
    // events.parquet would silently contribute zero files and every
    // streaming query would drain an empty stream (caught by the r15
    // soak's impossible <1 ratios). Write via coalesce(1) into a
    // scratch dir, then move the part file to `<out>/<table>.parquet`.
    def writeSingle(df: DataFrame, table: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"genscale_$table")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString
        .endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(outDir, s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Streams.deleteRec(tmp.toFile)
      System.err.println(s"[genscale] $table written")
    }

    // fixed dims copy through verbatim
    for (t <- Seq("region", "nation"))
      writeSingle(Tables.parquet(spark, s"$inDir/$t.parquet"), t)

    def scale(table: String, keys: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val src = Tables.parquet(spark, s"$inDir/$table.parquet")
      writeSingle((0 until r).map { i =>
        extra(keys.foldLeft(src)((df, k) =>
          df.withColumn(k, col(k) * r + i)), i)
      }.reduce(_ unionByName _), table)
    }

    scale("customer", Seq("c_custkey"))
    scale("supplier", Seq("s_suppkey"))
    scale("part", Seq("p_partkey"))
    scale("orders", Seq("o_orderkey", "o_custkey"))
    scale("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scale("events", Seq("event_id", "user_id"))
    scale("documents", Seq("doc_id"), (df, i) => df.withColumn("text",
      translate(translate(col("text"), Lower, rot(Lower, i)),
        Upper, rot(Upper, i))))
    val dim = Tables.parquet(spark, s"$inDir/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    scale("embeddings", Seq("vec_id"), (df, i) =>
      df.withColumn("embedding",
        zip_with(col("embedding"), typedlit(shardSigns(i, dim)),
          (x, sg) => x * sg).cast("array<float>")))
    spark.stop()
  }
}
