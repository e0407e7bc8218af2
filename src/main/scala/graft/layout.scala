package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-skipping layout: Z-order (Morton) clustering
  * for the write path.
  *
  * Why it matters at 100 TB: parquet scans prune row groups / files on
  * min-max statistics. Range-partitioning by ONE key gives perfect
  * pruning on that key and none on any other — every file spans the full
  * range of the second dimension. Interleaving the bits of two keys and
  * range-partitioning by the interleaved value bounds every file to a small
  * rectangle in BOTH dimensions (~1/sqrt(n) of each), so selective
  * predicates on either column (or both) skip most of the data. This is
  * the same layout trick Delta/Iceberg expose as `ZORDER BY` /
  * `sort_order`, expressed here with plain Spark primitives:
  * bit-twiddling columns, `repartitionByRange`, `sortWithinPartitions`.
  *
  * Everything is codegen'd column arithmetic (shifts/masks — bitwise ops
  * never hit ANSI overflow), so the key costs a few ALU ops per row
  * inside the scan projection.
  */
object Layout {

  /** Spread the low 21 bits of `x` so consecutive input bits land 2
    * apart (standard Morton magic-number shifts, public domain bit
    * twiddling). 21+21 interleaved bits stay inside a positive long. */
  private[graft] def part1by1(x: Column): Column = {
    val m0 = lit(0x1FFFFFL)
    val v0 = x.bitwiseAND(m0)
    val v1 = (v0.bitwiseOR(shiftleft(v0, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val v2 = (v1.bitwiseOR(shiftleft(v1, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val v3 = (v2.bitwiseOR(shiftleft(v2, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val v4 = (v3.bitwiseOR(shiftleft(v3, 2))).bitwiseAND(lit(0x3333333333333333L))
    (v4.bitwiseOR(shiftleft(v4, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton key over two non-negative columns, each first scaled to 21
    * bits against its [min, max] range (driver scalars from a stats
    * pass — the reference's own two-phase threshold pattern). Equal
    * min/max degenerates to bucket 0. */
  def zValue(a: Column, aMin: Long, aMax: Long,
      b: Column, bMin: Long, bMax: Long): Column = {
    val buckets = (1L << 21) - 1
    def scale(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else floor((c - lit(lo)).cast("double") * buckets / (hi - lo)).cast("long")
    part1by1(scale(a, aMin, aMax))
      .bitwiseOR(shiftleft(part1by1(scale(b, bMin, bMax)), 1))
  }

  /** Write `df` clustered by the Z-order of (`colA`, `colB`) into
    * `nFiles` range-partitioned, internally sorted files. Min-max stats
    * of every file then bound BOTH columns, so single- or two-sided
    * predicates prune. The sort is per-partition (no global sort
    * barrier beyond the range exchange that a one-key layout pays
    * anyway). */
  def zorderWrite(df: DataFrame, colA: String, colB: String, path: String,
      nFiles: Int): Unit = {
    val r = df.agg(min(colA), max(colA), min(colB), max(colB)).head()
    val z = zValue(col(colA), r.getLong(0), r.getLong(1),
      col(colB), r.getLong(2), r.getLong(3))
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-files compaction — the table-maintenance job every
    * streaming/incremental sink eventually needs (a micro-batch or
    * per-task sink at 100 TB degrades into millions of KB-scale files;
    * every later scan then pays a task and an open per file). Rewrites
    * a fragmented dataset into ⌈rows / targetRecordsPerFile⌉ files and
    * PROVES integrity the way a production compactor must: row count
    * and the order-independent [[Catalog.tableChecksum]] digest are
    * compared before/after — a compaction that loses or duplicates one
    * row cannot report ok. One metrics row out, carrying the raw digests
    * (not just a match flag): rows and digests restate in SQL over the
    * source table, so the audit row is ORACLE-CHECKED end to end —
    * DuckDB computes the same polynomial checksum and ⌈rows/target⌉
    * file count from the original data, and a compaction that loses or
    * duplicates one row hash-mismatches the driver's compare. LayoutSpec
    * gates the file arithmetic (files_before is fixture-dependent and
    * stays out of SQL); StreamsSpec separately proves the digest flips
    * on a single-cent change. Complements [[Pipeline.compactSink]] —
    * that one is the in-place per-partition dir swap; this is the
    * audited whole-dataset rewrite. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetRecordsPerFile: Long): DataFrame = {
    import spark.implicits._
    def files(d: String): Long =
      new java.io.File(d).listFiles().count(f => f.getName.endsWith(".parquet"))
    val before = Tables.parquet(spark, inDir)
    val bSum = Catalog.tableChecksum(before).head()
    val nFiles = math.max(1L, (bSum.getLong(0) + targetRecordsPerFile - 1)
      / targetRecordsPerFile).toInt
    before.repartition(nFiles).write.mode("overwrite").parquet(outDir)
    val aSum = Catalog.tableChecksum(Tables.parquet(spark, outDir)).head()
    Seq((files(inDir), files(outDir), bSum.getLong(0), aSum.getLong(0),
      bSum.getLong(1), aSum.getLong(1)))
      .toDF("files_before", "files_after", "rows_before", "rows_after",
        "checksum_before", "checksum_after")
  }

  /** Snapshot reconciliation — the row-level diff behind a restatement
    * audit or CDC validation: two physical versions of a keyed table
    * compared by one full-outer join on the key, every row classified
    * added / removed / changed / same, and the money delta accumulated
    * in exact cents. [[Catalog.tableChecksum]] answers "did anything
    * change"; this answers "WHAT changed, where, and by how much" —
    * summarized at (annee, status) grain so a 100 TB diff emits a
    * year-sized report, not a row dump.
    *
    * Scale shape: the join is key-partitioned on both sides (the one
    * unavoidable shuffle of any reconciliation); comparison is a cents
    * equality on 8-byte longs, never a row-string compare, and the
    * aggregate rides the join's partitioning. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("o_orderkey"), col("annee").as("annee_1"),
      Tables.cents(col("o_totalprice")).as("c1"))
    val b = v2.select(col("o_orderkey"), col("annee").as("annee_2"),
      Tables.cents(col("o_totalprice")).as("c2"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .select(
        coalesce(col("annee_1"), col("annee_2")).as("annee"),
        when(col("c1").isNull, "added")
          .when(col("c2").isNull, "removed")
          .when(col("c1") =!= col("c2"), "changed")
          .otherwise("same").as("status"),
        (coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L))).as("dc"))
      .groupBy("annee", "status")
      .agg(count(lit(1)).as("n"), (sum("dc") / 100.0).as("delta"))
      .orderBy("annee", "status")
  }
}
