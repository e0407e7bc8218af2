package graft
package queries

import OracleSql._

/** Silver layer (P1-P9, F1-F5, J4): the cleaned orders and customers,
  * the quality counters, and the dead-letter routing. */
object SilverQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("silver_orders", (s, d) =>
      Silver.cleanOrders(Tables.orders(s, d), Tables.customer(s, d)),
      Oracle(s"""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY o_orderdate, o_custkey) AS rn
            FROM orders
            WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
              AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
              AND o_orderdate >= TIMESTAMP '${Silver.MinDate} 00:00:00'
              AND $V)
      WHERE rn = 1 AND o_custkey IN (SELECT c_custkey FROM customer)
      ORDER BY o_orderkey""")),
    QuerySpec("silver_customer", (s, d) =>
      Silver.cleanCustomers(Tables.customer(s, d)),
      Oracle("""
      SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             upper(substr(seg, 1, 1)) || substr(seg, 2) AS c_mktsegment
      FROM (SELECT c_custkey, trim(c_name) AS c_name, c_nationkey, c_acctbal,
                   lower(trim(c_mktsegment)) AS seg,
                   row_number() OVER (PARTITION BY c_custkey ORDER BY trim(c_name)) AS rn
            FROM customer
            WHERE c_custkey IS NOT NULL AND contains(trim(c_name), '#'))
      WHERE rn = 1
      ORDER BY c_custkey""")),
    QuerySpec("quality_counters", (s, d) =>
      Silver.qualityCounters(Tables.orders(s, d), Tables.customer(s, d)),
      Oracle(s"""
      SELECT (SELECT count(*) FROM orders) AS initial_rows,
             (SELECT count(*) FROM orders
              WHERE o_orderkey IS NULL OR o_custkey IS NULL
                 OR o_orderdate IS NULL OR o_totalprice IS NULL) AS dropped_missing,
             (SELECT count(*) FROM orders
              WHERE o_orderdate < TIMESTAMP '${Silver.MinDate} 00:00:00') AS dropped_invalid_date,
             (SELECT count(*) FROM orders
              WHERE o_totalprice <= 0 OR o_totalprice > ${Gold.MaxAmount}) AS dropped_bad_amount,
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS dropped_orphan_client,
             (SELECT count(*) FROM customer) AS cust_initial_rows,
             (SELECT count(*) FROM customer WHERE c_custkey IS NULL) AS cust_dropped_invalid_id,
             (SELECT count(*) FROM customer
              WHERE c_custkey IS NOT NULL
                AND NOT coalesce(contains(trim(c_name), '#'), false)) AS cust_dropped_invalid_name,
             (SELECT count(*) - count(DISTINCT c_custkey) FROM customer
              WHERE c_custkey IS NOT NULL
                AND coalesce(contains(trim(c_name), '#'), false)) AS cust_dropped_duplicates"""))
  )
}
