package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver-layer cleaning operators (reference:
  * flows_spark/silver_transformation_spark.py, flows/silver_transformation.py).
  *
  * The reference cleans `clients`/`achats`; here the same rules run over
  * `customer`/`orders`. Each rule is a composable DataFrame => DataFrame
  * stage. Divergences resolved per SURVEY §7: deterministic keep-first
  * dedup via row_number (the reference's dropDuplicates keeps an arbitrary
  * row), orphan filtering via left_semi join instead of the reference's
  * collect-to-driver id set (flows_spark/silver_transformation_spark.py:91)
  * — no driver round-trip, scales to any dim size.
  */
object Silver {

  /** Reference date bound (reference MIN_VALID_DATE 2000-01-01,
    * flows/silver_transformation.py:9 — widened to cover the 1995-epoch
    * test data; the predicate shape is the spec). */
  val MinDate = "1990-01-01"

  /** Amount bounds (reference: 0 < montant ≤ 10_000,
    * flows_spark/silver_transformation_spark.py:69 — bound scaled for
    * o_totalprice's range). */
  val MaxAmount: Double = Gold.MaxAmount

  /** Cleaned orders: not-null keys/date/amount (P3), date floor (P4),
    * amount range (P5), deterministic keep-first dedup by key (P8),
    * referential integrity vs customer (J4 as left_semi). */
  def cleanOrders(orders: DataFrame, customer: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderkey")
      .orderBy(col("o_orderdate"), col("o_custkey"))
    orders
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull &&
        col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .filter(col("o_orderdate") >= lit(MinDate).cast("timestamp"))
      .filter(col("o_totalprice") > 0 && col("o_totalprice") <= MaxAmount)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .join(customer.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** Cleaned customers: trim (F1), initcap normalization (F3), string
    * contains guard (P6 analog — c_name must contain '#'), not-null key,
    * keep-first dedup. */
  def cleanCustomers(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_custkey").orderBy(col("c_name"))
    customer
      .filter(col("c_custkey").isNotNull)
      .withColumn("c_name", trim(col("c_name")))
      .withColumn("c_mktsegment", initcap(lower(trim(col("c_mktsegment")))))
      .filter(col("c_name").contains("#"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Row-disposition quarantine — the dead-letter complement of
    * [[qualityCounters]]: that one counts per-rule WOULD-DROP overlaps;
    * this routes every raw row to exactly ONE disposition with a
    * first-match-wins reason (the rule order of [[cleanOrders]]:
    * missing → invalid_date → bad_amount → duplicate → orphan_customer
    * → valid), plus the money at stake per disposition — what a
    * production pipeline actually writes next to its silver table so
    * rejected rows stay auditable instead of vanishing in filters.
    *
    * The duplicate rule applies among rows passing the row-local rules,
    * exactly like [[cleanOrders]]' dedup-then-semi-join order: the
    * window sorts rule-passing rows first, so rn counts position among
    * THEM; the orphan check is a key-presence left join (a flag, not a
    * filter — quarantined rows must survive to be counted). One pass,
    * one window, one dimension join. */
  def ordersQuarantine(orders: DataFrame, customer: DataFrame): DataFrame = {
    val missing = col("o_orderkey").isNull || col("o_custkey").isNull ||
      col("o_orderdate").isNull || col("o_totalprice").isNull
    val badDate = col("o_orderdate") < lit(MinDate).cast("timestamp")
    val badAmount = col("o_totalprice") <= 0 || col("o_totalprice") > MaxAmount
    val pass3 = !missing && !badDate && !badAmount
    // o_totalprice closes the total order: two rule-passing duplicates
    // sharing date+custkey would otherwise split valid/duplicate money
    // nondeterministically across runs/engines (counts stable, amounts not)
    val w = Window.partitionBy("o_orderkey")
      .orderBy(when(pass3, 0).otherwise(1), col("o_orderdate"), col("o_custkey"),
        col("o_totalprice"))
    orders
      .withColumn("rn", row_number().over(w))
      .join(customer.select(col("c_custkey")).distinct()
          .withColumn("has_cust", lit(true)),
        col("o_custkey") === col("c_custkey"), "left")
      .select(
        when(missing, "missing")
          .when(badDate, "invalid_date")
          .when(badAmount, "bad_amount")
          .when(col("rn") > 1, "duplicate")
          .when(col("has_cust").isNull, "orphan_customer")
          .otherwise("valid").as("disposition"),
        col("o_totalprice"))
      .groupBy("disposition")
      .agg(count(lit(1)).as("n"),
        Tables.moneySum(coalesce(col("o_totalprice"), lit(0.0))).as("amount"))
      .orderBy("disposition")
  }

  /** Quality counters (reference silver quality dicts,
    * flows/silver_transformation.py:58-98 clients, :103-139 achats):
    * per-rule would-drop counts for BOTH tables in one aggregation pass
    * each — the reference runs one `df.count()` action per rule
    * (flows_spark/silver_transformation_spark.py:28,45,50,75), i.e.
    * re-executes the plan N times; this is one pass per table. Orphan
    * count via a left_anti join; the three 1-row frames combine with 1×1
    * cross joins.
    *
    * Customer-side rules mirror [[cleanCustomers]] sequentially, like the
    * reference's clients dict (invalid id first, then the name guard —
    * the email-format analog — then duplicates among survivors). */
  def qualityCounters(orders: DataFrame, customer: DataFrame): DataFrame = {
    val base = orders.agg(
      count(lit(1)).as("initial_rows"),
      sum(when(col("o_orderkey").isNull || col("o_custkey").isNull ||
        col("o_orderdate").isNull || col("o_totalprice").isNull, 1L)
        .otherwise(0L)).as("dropped_missing"),
      sum(when(col("o_orderdate") < lit(MinDate).cast("timestamp"), 1L)
        .otherwise(0L)).as("dropped_invalid_date"),
      sum(when(col("o_totalprice") <= 0 || col("o_totalprice") > MaxAmount, 1L)
        .otherwise(0L)).as("dropped_bad_amount"))
    val orphans = orders.join(customer.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("dropped_orphan_client"))
    val idOk = col("c_custkey").isNotNull
    val nameOk = coalesce(trim(col("c_name")).contains("#"), lit(false))
    val cust = customer.agg(
      count(lit(1)).as("cust_initial_rows"),
      sum(when(!idOk, 1L).otherwise(0L)).as("cust_dropped_invalid_id"),
      sum(when(idOk && !nameOk, 1L).otherwise(0L)).as("cust_dropped_invalid_name"),
      (sum(when(idOk && nameOk, 1L).otherwise(0L)) -
        countDistinct(when(idOk && nameOk, col("c_custkey"))))
        .as("cust_dropped_duplicates"))
    base.crossJoin(orphans).crossJoin(cust)
  }
}
