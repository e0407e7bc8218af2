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
  * Verify dumps the spec body, the one Bench times, unless `exact` is
  * set: that is only for a query whose timed body is approximate. */
final case class Oracle(sql: String, exact: Option[ExactTier] = None) extends Check

/** The exact body of a query whose timed body is an HLL sketch estimate
  * (`kpis_incremental`, `kpis_rewritten`): Verify dumps it in place of
  * the spec body, so the oracle checks exact code while Bench times the
  * sketch. `posture` says what Bench measures vs what Verify
  * hash-checks (stamped into BENCH_FULL.json). GoldSpec and
  * PlanShapeSpec bound the two sketch tiers; StreamsSpec holds that no
  * other query carries an exact body. */
final case class ExactTier(posture: String,
    body: (SparkSession, String) => DataFrame)

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
