package graft

import org.apache.spark.sql.SparkSession

/** What the entry-point mains (Bench, Verify, Profile, Pipeline.main)
  * share: one session conf and one JSON string escaper. Verify's oracle
  * sweep hash-checks results under exactly the conf Bench times (and the
  * benchmark harness runs), so a join-strategy flip can never change a
  * result unseen. */
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

  /** `local[cpus]` with one shuffle partition per core. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinPartitionSize)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", ShjThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
