package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the body Bench times and Verify dumps,
  * and the single gate its result answers to. */
final case class QuerySpec(name: String,
    body: (SparkSession, String) => DataFrame, check: Check)

/** How Verify checks a query's dump: every query has exactly one gate. */
sealed trait Check

/** Hash-checked against a DuckDB statement over the same tables (run by
  * tools/selfcheck.py and the driver from Verify's `oracle_sql.json`).
  * Verify always dumps the spec body, the one Bench times. A query whose
  * body is a sketch estimate gets a bounded-error oracle: the SQL reads
  * the query's own dump back through [[OracleSql.OutDirToken]] and
  * echoes the estimate only inside the sketch's configured error bound. */
final case class Oracle(sql: String) extends Check

/** Pinned by an order-independent result digest ([[Digests]]) for the
  * queries no independent engine restates (sketch estimators, iterative
  * ML fits): `golden` maps a dataset basename (`sf0.01`) to the committed
  * digest, and `canon` shapes what the digest reads — for outputs whose
  * values are deterministic but whose low-order float representation is
  * merge-order-sensitive, it pins the rounded value; the dumped output is
  * unchanged. Regenerate a golden with
  * `runMain graft.Verify <sfDir> <out> <queries...>` and read
  * `<out>/digests.json`. */
final case class Digest(golden: Map[String, String],
    canon: DataFrame => DataFrame = identity) extends Check
