package graft

import org.apache.spark.sql.SparkSession

/** The one session conf every session is built from (the entry-point
  * mains, GenScale, the test suites), and one JSON string escaper.
  * Verify's oracle sweep hash-checks results under exactly the conf
  * Bench times (and the benchmark harness runs), so a join-strategy flip
  * can never change a result unseen. A setting one query needs apart
  * from the rest lives on a cloned session ([[Shared.clone]]), never
  * written into the session a query runs on. */
object EntryPoint {
  /** AQE's parallelism-first coalescing floors partitions at 1 MB —
    * CPU-heavy-but-small-bytes stages (interpreted HOF pipelines over
    * text) collapse to 1-2 tasks at test scale. A 16 KB floor keeps them
    * on all cores; at production scale partitions are >= 64 MB so this
    * floor never binds. */
  val MinPartitionSize = "16k"

  /** AQE-gated sort-merge -> shuffled-hash conversion (guide §3.1):
    * fires only when EVERY post-shuffle partition of the build side is
    * under the threshold, so it is scale-adaptive by construction — local
    * joins skip both sorts, while at production partition sizes (>= 64 MB
    * by §2.2 sizing) the plan stays sort-merge and spills gracefully. */
  private val ShjThreshold = "64m"

  /** Core count: SPARK_GRAFT_CPUS, else the caller's `default`. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** `local[cpus]` with one shuffle partition per core, the two AQE
    * settings above, UTC and no UI. `nanosAsLong` reads a parquet
    * TIMESTAMP(NANOS) column as its raw int64 nanos, which Spark's
    * vectorized reader otherwise rejects; [[Tables.events]] and the
    * event streams convert it to a microsecond timestamp. It touches no
    * other column type. */
  def conf(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinPartitionSize,
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> ShjThreshold,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The session built from [[conf]]. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder().config(conf(cpus).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (< 0x20) escaped — a tab or CR in oracle SQL would otherwise make
    * the DuckDB compare's json.load of oracle_sql.json fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
