package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders + schema validation for the driver test star schema.
  *
  * Mirrors the reference's fail-fast `_validate_columns`
  * (reference: flows/silver_transformation.py:25-28,
  * flows_spark/silver_transformation_spark.py:21-24) but with the
  * validation applied at load time against explicit required-column
  * lists, rather than schema inference (the reference infers CSV schema,
  * flows_spark/bronze_ingestion_spark.py:24-25 — we read typed parquet).
  *
  * Every parquet read of the engine — source tables, sinks, fixtures,
  * dumps — goes through [[parquet]] / [[parquetOr]], which resolve the
  * schema from one footer on the driver instead of a schema-inference
  * job (SourceGateSpec holds the rule). Loading a source table starts no
  * Spark job.
  */
object Tables {

  val required: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label")
  )

  /** Null-safe decode of an ARRAY&lt;DOUBLE&gt; cell from a driver-folded row
    * (the `percentile(col, array(...))` → literals two-phase shape).
    * Spark materializes array cells as `mutable.ArraySeq`, so
    * `.asInstanceOf[Seq[Double]]` (bare `Seq` = `immutable.Seq` in
    * Scala 2.13) throws ClassCastException on every NON-empty input —
    * `Row.getSeq` is the only correct decode. A NULL cell (aggregate
    * over zero rows) degrades to `orElse`. The single shared decode for
    * every percentile-array fold (score thresholds, equi-depth
    * histogram edges, PSI decile edges); a grep-gate spec asserts no
    * call site ever reintroduces the cast. */
  def doubleSeqAt(r: Row, i: Int, orElse: => Seq[Double] = Seq.empty): Seq[Double] =
    Option(r.getSeq[Double](i)).getOrElse(orElse)

  /** Fail-fast column validation (≙ reference `_validate_columns`). */
  def requireColumns(df: DataFrame, cols: Seq[String], table: String): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"table '$table' missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** Fuzzy column resolution (F20, reference train_predictor.py:19-26 /
    * train_advisor.py:56-65): the first candidate whose lowercase name
    * matches a column wins; a required miss fails fast with both lists.
    * Pure schema work — no data touched. */
  def detectColumn(df: DataFrame, candidates: Seq[String],
      required: Boolean = true): Option[String] = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val hit = candidates.iterator.map(_.toLowerCase).collectFirst(
      Function.unlift(byLower.get))
    require(hit.isDefined || !required,
      s"missing column: expected one of ${candidates.mkString("[", ", ", "]")}, " +
        s"found ${df.columns.mkString("[", ", ", "]")}")
    hit
  }

  /** Rename whatever [[detectColumn]] resolves to its canonical name —
    * the reference's `rename(columns={detected: target})` idiom
    * (train_predictor.py:52-67). Targets mapped to None (no synonym
    * present, not required) pass through untouched. */
  def normalizeColumns(df: DataFrame,
      synonyms: Seq[(String, Seq[String])],
      required: Set[String] = Set.empty): DataFrame =
    synonyms.foldLeft(df) { case (acc, (target, cands)) =>
      detectColumn(acc, cands, required.contains(target))
        .filter(_ != target)
        .fold(acc)(found => acc.withColumnRenamed(found, target))
    }

  /** CSV scan with an explicit schema (S1) — the reference infers
    * (flows_spark/bronze_ingestion_spark.py:24-25); we declare, which is
    * both the fail-fast and the at-scale choice (schema inference reads
    * the data twice). PERMISSIVE mode nulls malformed fields, matching
    * the silver layer's `errors="coerce"` semantics (P2). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, table: String): DataFrame = {
    val df = spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    requireColumns(df, schema.fieldNames.toSeq, table)
  }

  /** A parquet read whose schema is resolved on the driver from one
    * footer, so no schema-inference job runs. A schema-less
    * `spark.read.parquet` starts a one-task job to read a footer; a
    * parquet file carries its schema in its own metadata, so reading
    * that footer here gives the same answer without a job. The file is
    * the first data file under `paths`, by name, partition directories
    * included and `_`/`.` names skipped as Spark's file listing skips
    * them. Its schema is the Spark schema its writer stored there, or
    * else its parquet schema converted under the session's conf (nanos
    * as long, timestamp-NTZ inference, binary as string, int96), both
    * exactly as the inferring read takes them. Partition columns are not
    * in a data file, so they come from the directory names as in an
    * inferring read. Paths with no data file take the inferring read, so
    * a missing path fails with Spark's own error. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    read(spark, paths, footerSchema(spark, paths))

  /** [[parquet]] that tolerates a FILE-LESS directory: a partitionBy
    * write of zero rows creates no part files (only `_SUCCESS`), so there
    * is no footer to resolve, and `empty` — the writer's own schema —
    * binds the read instead, which then yields an empty frame. A dir with
    * data never consults `empty`. */
  def parquetOr(spark: SparkSession, dir: String, empty: => StructType): DataFrame =
    read(spark, Seq(dir), footerSchema(spark, Seq(dir)).orElse(Some(empty)))

  private def read(spark: SparkSession, paths: Seq[String],
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))

  /** The data schema [[parquet]] binds: read from the footer of the first
    * data file under `paths`, without partition columns. None when no
    * path holds a data file. */
  private[graft] def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) firstDataFile(fs, fs.getFileStatus(path)) else None
    }.nextOption().map { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Spark's listing rule: `.`-names, `_`-names other than `k=v`
    * partition dirs, and in-flight `._COPYING_` copies are not data. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val kids = fs.listStatus(st.getPath)
        .filterNot(k => hidden(k.getPath.getName)).sortBy(_.getPath.getName)
      kids.find(_.isFile).orElse(
        kids.iterator.filter(_.isDirectory).flatMap(firstDataFile(fs, _)).nextOption())
    }

  /** Collision-free short tag for a path (16 hex chars of SHA-256) —
    * for sink prefixes and scratch names that must never alias across
    * dataset dirs (a 32-bit `hashCode` collision between two dirs in
    * one session would drop the other's memoized view). */
  private[graft] def pathTag(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Stable on-disk oracle-artifacts dir for a dataset: persisted model
    * state (e.g. IVF coarse-quantizer centroids) that the driver's
    * DuckDB oracle must `read_parquet` AFTER the dumping JVM has exited
    * — so unlike every scratch sink this lives at a deterministic path
    * derived from the dataset dir and carries NO shutdown-delete hook.
    * Contents are tiny by construction (nlist×dim doubles per index)
    * and rewritten by each session's first use, so staleness cannot
    * outlive the run that dumps the SQL referencing it. Verify
    * substitutes [[queries.OracleSql.ArtifactsToken]] in oracle SQL with this
    * path at dump time. */
  private[graft] def oracleArtifactsDir(sfDir: String): String = {
    val tag = pathTag(sfDir)
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_oracle_art_$tag")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** A test table's resolved relation, memoized per (session, dir,
    * table) as a [[Shared.session]] entry, as a catalog keeps a
    * registered table. Resolving costs a driver-side file listing and a
    * footer read ([[parquet]]), and a 191-query bench pass issues
    * hundreds of loads of tables that are immutable within a session.
    * Sinks and scratch dirs, which are rewritten mid-session, never load
    * through here: they call [[parquet]] directly. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Shared.session(spark, ("load", dir, name)) {
      val df = parquet(spark, s"$dir/$name.parquet")
      required.get(name).map(requireColumns(df, _, name)).getOrElse(df)
    }

  /** Raw-log text lines for the events stream — the unstructured-source
    * entry an ELT pipeline parses FIRST (S-family sibling of the CSV
    * roundtrip). Numeric fields render loss-free: value in integer
    * cents (a double's shortest-repr string would not round-trip),
    * timestamps at full microsecond ISO precision. */
  def eventLogLines(events: DataFrame): DataFrame =
    events.select(concat(
      lit("uid="), col("user_id"),
      lit(" ts="), date_format(col("ts").cast("timestamp"),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
      lit(" ev="), col("event_type"),
      lit(" vc="), round(col("value") * 100).cast("long")).as("value"))

  /** Parse [[eventLogLines]] text back to typed columns — spark.read.text
    * + regexp_extract, the grep-shaped scan that starts every log
    * pipeline. Extraction failures surface as nulls (PERMISSIVE
    * discipline, same as [[readCsv]]), never as dropped lines. */
  def parseEventLog(spark: SparkSession, path: String): DataFrame = {
    val line = col("value")
    // regexp_extract yields "" on a miss; under ANSI mode a direct cast
    // would throw, so misses are first normalized to NULL (the same
    // null-on-error coercion contract as readCsv's PERMISSIVE mode)
    def miss(c: Column) = when(c === "", lit(null)).otherwise(c)
    spark.read.text(path).select(
      miss(regexp_extract(line, "uid=(\\S+)", 1)).cast("long").as("user_id"),
      to_timestamp(miss(regexp_extract(line, "ts=(\\S+)", 1)),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("ts"),
      miss(regexp_extract(line, "ev=(\\S+)", 1)).as("event_type"),
      miss(regexp_extract(line, "vc=(-?\\d+)", 1)).cast("long").as("value_cents"))
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` may be parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; the session conf reads it as raw nanos
    * (`nanosAsLong`, [[EntryPoint.conf]]) and it is converted to a
    * microsecond TIMESTAMP_NTZ — the same truncation DuckDB applies when
    * casting its TIMESTAMP_NS to TIMESTAMP. A microsecond `ts` passes
    * through. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer `div` (not `/`): nanos ~1.7e18 exceed double's 53-bit
      // mantissa, a float division would wobble by microseconds
      df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  // ---- deterministic money arithmetic -------------------------------------
  // All source money columns carry exactly 2 decimal places. Summing them as
  // doubles is partition-order-dependent in the last ulps, which breaks
  // bit-exact cross-engine comparison (Spark vs the DuckDB oracle) and is
  // nondeterministic at 1000-executor scale. We aggregate exact integer
  // cents (long) instead — deterministic in any summation order — and
  // divide once at the end. The same `sum(round(x*100)::bigint)/100.0`
  // shape is used in every oracle SQL.

  /** Exact cents of a 2-decimal money column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Order-independent exact money sum (returns double with 2dp value). */
  def moneySum(c: Column): Column = sum(cents(c)) / 100.0

  /** SQL twin of [[moneySum]] for DuckDB oracles. */
  def moneySumSql(col: String): String = s"sum(CAST(round($col*100) AS BIGINT))/100.0"
}
