package graft
package queries

import org.apache.spark.sql.functions._

import OracleSql._
import SparkEntry._
import Fixtures._

/** Gold star schema (J1-J5, A1-A9, F6-F18): the reference's gold
  * tables, their incremental and maintained refreshes, partition-level
  * rewrites and the TPC-H shapes. */
object GoldQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("fact_achats", (s, d) => fact(s, d).orderBy("o_orderkey"),
      Oracle(s"""
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
             coalesce(n_name, 'Inconnu') AS pays,
             CAST(o_orderdate AS DATE) AS jour,
             strftime(o_orderdate, '%Y-%m') AS mois,
             CAST(year(o_orderdate) AS BIGINT) AS annee
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE $V
      ORDER BY o_orderkey""")),
    QuerySpec("dim_clients", (s, d) =>
      Gold.dimClients(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Gold.referenceDate(Gold.validOrders(Tables.orders(s, d)))).orderBy("c_custkey"),
      Oracle(s"""
      WITH o AS (SELECT * FROM orders WHERE $V),
      ref AS (SELECT max(o_orderdate) AS r FROM o),
      agg AS (SELECT o_custkey AS c_custkey,
                min(o_orderdate) AS first_purchase, max(o_orderdate) AS last_purchase,
                count(o_orderkey) AS total_orders,
                ${ms("o_totalprice")} AS total_spend
              FROM o GROUP BY 1),
      parts AS (SELECT o_custkey AS c_custkey, count(DISTINCT l_partkey) AS product_count
                FROM o JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1)
      SELECT c.c_custkey, c.c_name, a.first_purchase, a.last_purchase,
             CAST(coalesce(date_diff('day', CAST(a.last_purchase AS DATE), CAST((SELECT r FROM ref) AS DATE)), 365) AS BIGINT) AS recency_days,
             CAST(coalesce(date_diff('day', CAST(a.first_purchase AS DATE), CAST((SELECT r FROM ref) AS DATE)), 0) AS BIGINT) AS tenure_days,
             coalesce(a.total_orders, 0) AS total_orders,
             coalesce(a.total_spend, 0.0) AS total_spend,
             CASE WHEN coalesce(a.total_orders, 0) > 0 THEN a.total_spend / a.total_orders ELSE 0.0 END AS avg_order_value,
             coalesce(p.product_count, 0) AS product_count
      FROM customer c
      LEFT JOIN agg a USING (c_custkey)
      LEFT JOIN parts p USING (c_custkey)
      ORDER BY c.c_custkey""")),
    QuerySpec("client_features", (s, d) => feats(s, d).orderBy("c_custkey"),
      Oracle(s"""$featsCte
      SELECT c_custkey, freq_12m, monetary_12m, monetary_avg_12m, product_diversity_12m,
             last_purchase, first_purchase, recency_days, tenure_days,
             total_orders_all, total_spend_all, avg_order_value_all,
             (SELECT r FROM ref) AS reference_date
      FROM feats ORDER BY c_custkey""")),
    QuerySpec("client_scores", (s, d) => scored(s, d).orderBy("c_custkey"),
      Oracle(s"""$scoredCte
      SELECT * FROM scored ORDER BY c_custkey""")),
    // same scoring over t-digest sketch thresholds — the reference's
    // actual approxQuantile method and the mergeable 100 TB path
    QuerySpec("client_scores_approx", (s, d) => scoredApprox(s, d).orderBy("c_custkey"),
      // bounded-error oracle for the t-digest-threshold scoring: the
      // feature columns are exact (equality-gated against the exact CTE);
      // the score uses approx-quantile thresholds (accuracy 10000) whose
      // rank error is ≤ n/10000 — measured max |Δprob| 7e-5 at sf0.01,
      // gated at 0.02 (≈300× safety); EV/VaR propagate the prob bound
      // through their own monetary scale (+0.011 for their 2dp rounding).
      // The gate accepts the estimate against EITHER standard quantile
      // semantic: the interpolating twin (`scored`, quantile_cont — the
      // exact `percentile` the batch tier uses) or the discrete twin
      // (`scored_d`, quantile_disc — a data ELEMENT, which is what
      // approx_percentile's GK sketch returns in its exact regime). The
      // two semantics legitimately diverge by a whole inter-element gap
      // at small n — at sf0.001 (150 clients) freq95 is 3.55 interpolated
      // vs the element 4, a |Δprob| of 0.043 for every freq-3 client —
      // while a broken threshold pipeline still fails BOTH twins.
      // segment_label is echoed: first-match-wins boundary flips under a
      // one-rank threshold shift are legitimate (2/1500 at sf0.01) and
      // spec-bounded, while the numeric gates catch any broken threshold
      // pipeline.
      Oracle(s"""$scoredCte,
      thd0 AS (SELECT CAST(quantile_disc(freq_12m, 0.75) AS DOUBLE) AS f75,
               CAST(quantile_disc(freq_12m, 0.95) AS DOUBLE) AS f95,
               CAST(quantile_disc(monetary_12m, 0.75) AS DOUBLE) AS m75,
               CAST(quantile_disc(monetary_12m, 0.95) AS DOUBLE) AS m95,
               greatest(CAST(max(product_diversity_12m) AS DOUBLE), 1.0) AS maxdiv
             FROM feats),
      thd AS (SELECT
               CASE WHEN coalesce(f95, 0) = 0 THEN 1.0 ELSE f95 END AS f95,
               CASE WHEN coalesce(m95, 0) = 0 THEN 1.0 ELSE m95 END AS m95,
               maxdiv
             FROM thd0),
      scored_d AS (SELECT f.c_custkey,
               round(0.45 * (least(CAST(f.freq_12m AS DOUBLE), t.f95) / t.f95)
                   + 0.30 * (1.0 - least(CAST(f.recency_days AS DOUBLE), 365.0) / 365.0)
                   + 0.15 * (least(f.monetary_12m, t.m95) / t.m95)
                   + 0.10 * (CAST(f.product_diversity_12m AS DOUBLE) / t.maxdiv), 6) AS prob_d,
               f.monetary_12m,
               least(greatest(f.tenure_days / 30.0, 1.0), 365.0 / 30.0) AS months_active
             FROM feats f, thd t),
      scored_d2 AS (SELECT c_custkey, prob_d,
               round(monetary_12m / months_active * 12.0 * prob_d, 2) AS ev_d,
               round(monetary_12m * (1.0 - prob_d), 2) AS var_d
             FROM scored_d),
      est AS (SELECT * FROM read_parquet('$OutDirToken/client_scores_approx/*.parquet'))
      SELECT c_custkey,
        CASE WHEN e.freq_12m = s.freq_12m THEN e.freq_12m ELSE -1 END AS freq_12m,
        CASE WHEN e.monetary_12m = s.monetary_12m THEN e.monetary_12m ELSE -1.0 END AS monetary_12m,
        CASE WHEN e.monetary_avg_12m = s.monetary_avg_12m THEN e.monetary_avg_12m ELSE -1.0 END AS monetary_avg_12m,
        CASE WHEN e.product_diversity_12m = s.product_diversity_12m THEN e.product_diversity_12m ELSE -1 END AS product_diversity_12m,
        CASE WHEN e.recency_days = s.recency_days THEN e.recency_days ELSE -1 END AS recency_days,
        CASE WHEN e.tenure_days = s.tenure_days THEN e.tenure_days ELSE -1 END AS tenure_days,
        CASE WHEN e.total_orders_all = s.total_orders_all THEN e.total_orders_all ELSE -1 END AS total_orders_all,
        CASE WHEN e.total_spend_all = s.total_spend_all THEN e.total_spend_all ELSE -1.0 END AS total_spend_all,
        CASE WHEN abs(e.prob_reachat_12m - s.prob_reachat_12m) <= 0.02
               OR abs(e.prob_reachat_12m - d.prob_d) <= 0.02
             THEN e.prob_reachat_12m ELSE -1.0 END AS prob_reachat_12m,
        CASE WHEN abs(e.expected_value_12m - s.expected_value_12m)
                  <= 0.02 * s.monetary_12m / least(greatest(s.tenure_days / 30.0, 1.0), 365.0 / 30.0) * 12.0 + 0.011
               OR abs(e.expected_value_12m - d.ev_d)
                  <= 0.02 * s.monetary_12m / least(greatest(s.tenure_days / 30.0, 1.0), 365.0 / 30.0) * 12.0 + 0.011
             THEN e.expected_value_12m ELSE -1.0 END AS expected_value_12m,
        CASE WHEN abs(e.value_at_risk_12m - s.value_at_risk_12m) <= 0.02 * s.monetary_12m + 0.011
               OR abs(e.value_at_risk_12m - d.var_d) <= 0.02 * s.monetary_12m + 0.011
             THEN e.value_at_risk_12m ELSE -1.0 END AS value_at_risk_12m,
        e.segment_label
      FROM est e JOIN scored s USING (c_custkey) JOIN scored_d2 d USING (c_custkey)
      ORDER BY c_custkey""")),
    QuerySpec("segment_summary", (s, d) => Gold.segmentSummary(scored(s, d)),
      Oracle(s"""$scoredCte
      SELECT segment_label, count(c_custkey) AS clients,
             round(sum(monetary_12m), 2) AS ca_12m,
             round(sum(expected_value_12m), 2) AS expected_value_12m,
             round(sum(value_at_risk_12m), 2) AS value_at_risk_12m,
             quantile_cont(freq_12m, 0.5) AS freq_med,
             quantile_cont(recency_days, 0.5) AS recency_med
      FROM scored GROUP BY 1 ORDER BY segment_label""")),
    QuerySpec("ca_monthly", (s, d) => Gold.caMonthly(fact(s, d)), Oracle(caMonthlySql)),
    // incremental gold maintenance: persisted pre-cutoff partial merged
    // with a delta-only scan; hash-checked against the full recompute
    QuerySpec("ca_monthly_incremental", (s, d) => Gold.caMonthlyFromPartials(
      Tables.parquet(s, caPartialDir(s, d)).unionByName(Gold.caMonthlyPartial(deltaOrders(s, d)))),
      Oracle(caMonthlySql)),
    // join-VIEW incremental maintenance (delta algebra): the persisted
    // base join never recomputes; the refresh is three delta-sided
    // joins key-merged with it — proved against the full-recompute
    // join oracle
    QuerySpec("join_view_maintained", (s, d) => {
      val cut = lit(IncrementalCutoff).cast("timestamp")
      val (newO, oldO) = (deltaOrders(s, d), historyOrders(s, d))
      val newL = Tables.lineitem(s, d).filter(col("l_shipdate") >= cut)
      val oldL = Tables.lineitem(s, d).filter(col("l_shipdate") < cut)
      Gold.orderRevenueFromPartials(
        Tables.parquet(s, joinPartialDir(s, d))
          .unionByName(Gold.orderRevenuePartial(oldO, newL))
          .unionByName(Gold.orderRevenuePartial(newO, oldL))
          .unionByName(Gold.orderRevenuePartial(newO, newL)))
    },
      // the maintained join view must equal the full recompute — the
      // oracle IS the recompute the delta algebra avoids
      Oracle("""
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS mois,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue,
             count(*) AS n_lines
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2 ORDER BY o_orderkey""")),
    // sketch-merge incremental KPIs: distinct clients refresh by HLL
    // union of a persisted sketch with the delta's — never an exact
    // recount over history. Verify dumps the sketch merge and the
    // bounded-error oracle gates its estimate at 5σ of the sketch's rsd
    // (lgK 12, bound ≈ 0.081); GoldSpec pins split-insensitivity.
    QuerySpec("kpis_incremental", (s, d) => Serving.kpisFromPartials(
      Tables.parquet(s, kpisPartialDir(s, d)).unionByName(Serving.kpisPartial(deltaOrders(s, d)))),
      Oracle(kpisBoundedSql("kpis_incremental", "nb_clients_approx", Serving.KpisSketchRsd))),
    // the exact algebraic half of the same refresh (sums/counts in
    // integer cents merge bit-for-bit) — hash-checked against a full
    // recompute; only the HLL client estimate above is bounded-error
    QuerySpec("kpis_incremental_exact", (s, d) => Serving.kpisExactFromPartials(
      Tables.parquet(s, kpisPartialDir(s, d)).unionByName(Serving.kpisPartial(deltaOrders(s, d)))),
      // the incremental refresh's exact fields vs a FULL recompute: the
      // partial+delta merge must be indistinguishable from one pass
      Oracle(s"""
      SELECT ca_total, nb_achats, round(ca_total / nb_achats, 2) AS panier_moyen
      FROM (SELECT ${ms("o_totalprice")} AS ca_total, count(o_orderkey) AS nb_achats
            FROM orders WHERE $V)""")),
    // streaming form of the same maintenance: orders as a micro-batched
    // file stream, each batch sum-merged into the persisted partial;
    // final table hash-checks against the batch ca_monthly oracle.
    // The body is the warm-sink form: history bootstrapped once, the
    // invocation merges the one-trigger tail delta (see [[warmMaintBase]]).
    // Bench times it and Verify dumps it; Verify's first call also runs
    // the cold from-empty bootstrap, so the oracle sweep covers both.
    QuerySpec("ca_monthly_maintained", (s, d) => {
      val (base, tail) = warmMaintBase(s, d, "camaint")(
        (src, sink) => { Streams.caMonthlyMaintained(s, src, sink); () })
      Streams.caMonthlyMaintained(s, tail, scratchSinkCopy(base, "camaint"))
    },
      // streaming maintenance converges to the same table as the batch agg
      Oracle(caMonthlySql)),
    // streamed maintenance of the top-client BASE state (client-grain
    // exact partials; top-k on read) — same oracle as top_clients; same
    // warm-sink body as ca_monthly_maintained
    QuerySpec("top_clients_maintained", (s, d) => {
      val (base, tail) = warmMaintBase(s, d, "topkmaint")(
        (src, sink) => { Streams.topClientsMaintained(s, src, sink); () })
      Streams.topClientsMaintained(s, tail, scratchSinkCopy(base, "topkmaint"))
    },
      // the maintained base state converges to the same ranking
      Oracle(topClientsSql)),
    QuerySpec("ca_country", (s, d) => Gold.caCountry(fact(s, d)), Oracle(caCountrySql)),
    // the hot-key two-stage salted aggregation as a query (same oracle:
    // exact cents make the salted sum bit-equal to the direct groupBy)
    QuerySpec("ca_country_salted", (s, d) => Gold.caCountrySalted(fact(s, d)),
      // the salted two-stage sum is bit-equal to the direct groupBy (exact
      // cents), so it answers to the identical statement
      Oracle(caCountrySql)),
    // the salting DECISION input: top-key share + cumulative share
    QuerySpec("key_skew_profile", (s, d) =>
      Skew.keySkewProfile(fact(s, d), "o_custkey"),
      // top-20 heaviest keys with share + cumulative share of all rows
      Oracle(s"""
      WITH c AS (SELECT o_custkey AS key, count(*) AS n
                 FROM orders WHERE $V GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
      top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20)
      SELECT key, n, round(n / (SELECT tot FROM t), 6) AS share,
             round(sum(n) OVER (ORDER BY n DESC, key
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / (SELECT tot FROM t), 6) AS cum_share
      FROM top ORDER BY n DESC, key""")),
    // dead-letter routing: every raw order row to exactly one
    // first-match-wins disposition with money at stake
    QuerySpec("orders_quarantine", (s, d) =>
      Silver.ordersQuarantine(Tables.orders(s, d), Tables.customer(s, d)),
      // first-match-wins dispositions in cleanOrders' rule order; the
      // duplicate window sorts rule-passing rows first so rn counts
      // position among THEM (mirrors Silver.ordersQuarantine)
      Oracle(s"""
      WITH f AS (SELECT *,
          (o_orderkey IS NULL OR o_custkey IS NULL OR o_orderdate IS NULL
           OR o_totalprice IS NULL) AS missing,
          (o_orderdate < TIMESTAMP '${Silver.MinDate} 00:00:00') AS bad_date,
          (o_totalprice <= 0 OR o_totalprice > ${Gold.MaxAmount}) AS bad_amount
        FROM orders),
      r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
              ORDER BY CASE WHEN NOT coalesce(missing, false)
                             AND NOT coalesce(bad_date, false)
                             AND NOT coalesce(bad_amount, false)
                        THEN 0 ELSE 1 END, o_orderdate, o_custkey, o_totalprice) AS rn
            FROM f),
      q AS (SELECT CASE WHEN missing THEN 'missing'
                WHEN bad_date THEN 'invalid_date'
                WHEN bad_amount THEN 'bad_amount'
                WHEN rn > 1 THEN 'duplicate'
                WHEN o_custkey NOT IN (SELECT c_custkey FROM customer
                                       WHERE c_custkey IS NOT NULL)
                  THEN 'orphan_customer'
                ELSE 'valid' END AS disposition,
              coalesce(o_totalprice, 0) AS p
            FROM r)
      SELECT disposition, count(*) AS n,
             sum(CAST(round(p*100) AS BIGINT))/100.0 AS amount
      FROM q GROUP BY 1 ORDER BY disposition""")),
    // partition-level restatement: 1996 rewritten (prices doubled) via
    // dynamic partition overwrite; the aggregate proves the other years
    // survived untouched AND 1996 changed exactly once
    QuerySpec("partition_overwrite", (s, d) =>
      Pipeline.partitionState(s, restatedFactDir(s, d)),
      // the restated 1996 doubles every cent; every other year must equal
      // the plain aggregate — the oracle states the END state directly
      Oracle(s"""
      WITH f AS (SELECT year(o_orderdate) AS annee,
               CAST(round(o_totalprice*100) AS BIGINT) AS cents
             FROM orders WHERE $V)
      SELECT annee, count(*) AS n,
             sum(cents * CASE WHEN annee = 1996 THEN 2 ELSE 1 END)/100.0 AS ca
      FROM f GROUP BY 1 ORDER BY annee""")),
    // row-level reconciliation of the restated snapshot against the live
    // fact: full-outer key join, added/removed/changed/same with exact
    // cents deltas at (annee, status) grain
    QuerySpec("snapshot_diff", (s, d) =>
      Layout.snapshotDiff(fact(s, d),
        Tables.parquetOr(s, restatedFactDir(s, d), fact(s, d).schema)),
      // v2 restated from the base table (price doubled for 1996 — exact in
      // cents since prices carry 2dp); same keys both sides by construction,
      // so added/removed are structurally absent here but the operator
      // classifies them
      Oracle(s"""
      WITH v1 AS (SELECT o_orderkey, year(o_orderdate) AS annee,
                         CAST(round(o_totalprice*100) AS BIGINT) AS c
                  FROM orders WHERE $V),
      v2 AS (SELECT o_orderkey, annee,
                    c * CASE WHEN annee = 1996 THEN 2 ELSE 1 END AS c
             FROM v1),
      j AS (SELECT coalesce(v1.annee, v2.annee) AS annee,
              CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                   WHEN v2.o_orderkey IS NULL THEN 'removed'
                   WHEN v1.c != v2.c THEN 'changed' ELSE 'same' END AS status,
              coalesce(v2.c, 0) - coalesce(v1.c, 0) AS dc
            FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
      SELECT annee, status, count(*) AS n, CAST(sum(dc) AS BIGINT)/100.0 AS delta
      FROM j GROUP BY 1, 2 ORDER BY annee, status""")),
    // year x year customer-overlap matrix: one key-grain self-join
    QuerySpec("customer_overlap_matrix", (s, d) =>
      Gold.customerOverlapMatrix(Tables.orders(s, d)),
      // every |A∩B| cell from one self-join; jaccard closed by
      // inclusion-exclusion over the per-year totals
      Oracle(s"""
      WITH yc AS (SELECT DISTINCT o_custkey, year(o_orderdate) AS yr
                  FROM orders WHERE $V),
      t AS (SELECT yr, count(*) AS n FROM yc GROUP BY 1),
      p AS (SELECT a.yr AS y1, b.yr AS y2, count(*) AS n_both
            FROM yc a JOIN yc b
              ON a.o_custkey = b.o_custkey AND a.yr < b.yr
            GROUP BY 1, 2)
      SELECT p.y1, p.y2,
             t1.n AS n1, t2.n AS n2, p.n_both,
             round(p.n_both / (t1.n + t2.n - p.n_both), 6) AS jaccard
      FROM p JOIN t t1 ON p.y1 = t1.yr JOIN t t2 ON p.y2 = t2.yr
      ORDER BY y1, y2""")),
    // the EXACT kpis code under the injected optimizer rewrite — the
    // Rule, not the query text, picks the sketch tier. Verify dumps the
    // rewritten (HLL++) plan and the bounded-error oracle gates its
    // estimate at 5σ of the rule's rsd 0.05 (bound 0.25); PlanShapeSpec
    // pins that the rule swaps the plan and that its estimate equals the
    // explicit approx_count_distinct call.
    QuerySpec("kpis_rewritten", (s, d) => {
      val c = rewriteSession(s)
      Serving.kpis(Gold.buildFact(
        Tables.orders(c, d), Tables.customer(c, d), Tables.nation(c, d)))
    },
      Oracle(kpisBoundedSql("kpis_rewritten", "nb_clients", graft.plans.ApproxDistinctRewrite.RelativeSD))),
    // right-to-be-forgotten: delete one customer by rewriting ONLY the
    // partitions that contain them; target picked deterministically
    // (min custkey among single-year customers, mirrored in the oracle)
    QuerySpec("gdpr_delete", (s, d) => {
      val dir = Shared.dir(s, "gdpr", d) { p =>
        fact(s, d).write.mode("overwrite").partitionBy("annee").parquet(p)
        val kRow = Gold.validOrders(Tables.orders(s, d))
          .groupBy("o_custkey")
          .agg(countDistinct(year(col("o_orderdate"))).as("ny"))
          .filter(col("ny") === 1)
          .agg(min("o_custkey")).first()
        val k = if (kRow.isNullAt(0)) -1L else kRow.getLong(0)
        Pipeline.deleteKey(s, p, k)
      }
      Pipeline.partitionState(s, dir)
    },
      // the oracle states the END state after the forget: the chosen key's
      // rows gone, every other row intact
      Oracle(s"""
      WITH cand AS (SELECT o_custkey FROM orders WHERE $V GROUP BY 1
                    HAVING count(DISTINCT year(o_orderdate)) = 1),
      t AS (SELECT coalesce(min(o_custkey), -1) AS k FROM cand),
      f AS (SELECT year(o_orderdate) AS annee, o_totalprice
            FROM orders WHERE $V AND o_custkey <> (SELECT k FROM t))
      SELECT annee, count(*) AS n, ${ms("o_totalprice")} AS ca
      FROM f GROUP BY 1 ORDER BY annee""")),
    // small-files compaction with checksum-proved integrity. The audit
    // row is oracle-checked: rows, the before/after polynomial digests,
    // and the ⌈rows/target⌉ output file count all restate in SQL over
    // the source table, so a compaction that loses, duplicates, or
    // corrupts one row hash-mismatches DuckDB. files_before is a fixture
    // parameter (the 48-way fragmented input), SQL-invisible — LayoutSpec
    // gates that side of the arithmetic.
    QuerySpec("compact_files", (s, d) => {
      val base = Shared.dir(s, "compact", d) { base =>
        Tables.orders(s, d).repartition(48)
          .write.mode("overwrite").parquet(s"$base/frag")
      }
      Layout.compactFiles(s, s"$base/frag", s"$base/out", 5000L)
        .select("rows_before", "rows_after", "files_after",
          "checksum_before", "checksum_after")
    },
      // the compaction audit row restated from the SOURCE table: rows and
      // digests must survive the physical rewrite unchanged, and the output
      // file count is ⌈rows / 5000⌉ by the compactor's sizing rule
      Oracle("""
      WITH s0 AS (SELECT o_orderkey % 2147483647 AS acc,
               o_custkey % 2147483647 AS v1,
               ascii(o_orderstatus) AS v2,
               CAST(round(o_totalprice*100) AS BIGINT) % 2147483647 AS v3,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS v4
             FROM orders),
      s1 AS (SELECT (acc * 1000003 + v1) % 2147483647 AS acc, v2, v3, v4 FROM s0),
      s2 AS (SELECT (acc * 1000003 + v2) % 2147483647 AS acc, v3, v4 FROM s1),
      s3 AS (SELECT (acc * 1000003 + v3) % 2147483647 AS acc, v4 FROM s2),
      s4 AS (SELECT (acc * 1000003 + v4) % 2147483647 AS acc FROM s3),
      t AS (SELECT count(*) AS n, CAST(coalesce(sum(acc), 0) AS BIGINT) AS cs FROM s4)
      SELECT n AS rows_before, n AS rows_after,
             CAST(greatest(1, ceil(n / 5000.0)) AS BIGINT) AS files_after,
             cs AS checksum_before, cs AS checksum_after
      FROM t""")),
    // native session_window under a watermark, streamed to completion
    // (same oracle as the batch native form)
    QuerySpec("event_sessions_native_stream", (s, d) =>
      Streams.sessionsNativeStreamed(s, d),
      // the streamed session_window drains to the same finished sessions
      Oracle(eventSessionsNativeSql)),
    QuerySpec("ca_country_share", (s, d) => Serving.caCountryShare(Gold.caCountry(fact(s, d))),
      Oracle(s"""
      WITH cc AS (
        SELECT coalesce(n_name, 'Inconnu') AS pays, ${ms("o_totalprice")} AS ca
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        WHERE $V GROUP BY 1)
      SELECT pays, ca, round(ca / sum(ca) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS share
      FROM cc ORDER BY ca DESC, pays""")),
    QuerySpec("ca_product", (s, d) =>
      Gold.caProduct(Tables.orders(s, d), Tables.lineitem(s, d), Tables.part(s, d)),
      Oracle(s"""
      SELECT p_name AS produit, ${ms("l_extendedprice")} AS ca
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE $V GROUP BY 1 ORDER BY ca DESC, produit""")),
    QuerySpec("cohort_first_purchase", (s, d) => Gold.cohort(fact(s, d)),
      Oracle(s"""
      WITH o AS (SELECT * FROM orders WHERE $V),
      fp AS (SELECT o_custkey, min(o_orderdate) AS fp FROM o GROUP BY 1)
      SELECT strftime(fp.fp, '%Y-%m') AS first_purchase_month,
             count(DISTINCT o.o_custkey) AS clients,
             ${ms("o_totalprice")} AS ca
      FROM o LEFT JOIN fp ON o.o_custkey = fp.o_custkey
      GROUP BY 1 ORDER BY first_purchase_month""")),
    // retention triangle: per acquisition month, distinct clients active
    // at each month offset (window-min cohort key, one client shuffle)
    QuerySpec("cohort_retention", (s, d) => cohortRet(s, d), Oracle(cohortRetentionSql)),
    // the same triangle PIVOTed wide (explicit value list — no
    // discovery pass, fixed schema at any scale)
    QuerySpec("cohort_retention_pivot", (s, d) => Gold.cohortRetentionPivotFrom(cohortRet(s, d)),
      Oracle(s"""
      WITH o AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS md
        FROM orders WHERE $V),
      c AS (SELECT o_custkey, md,
                   min(md) OVER (PARTITION BY o_custkey) AS cd FROM o),
      r AS (SELECT strftime(cd, '%Y-%m') AS cohort,
                   datediff('month', cd, md) AS off,
                   count(DISTINCT o_custkey) AS ac
            FROM c WHERE datediff('month', cd, md) <= 12 GROUP BY 1, 2)
      SELECT cohort,
             ${(0 to 12).map(i =>
                 s"CAST(coalesce(sum(CASE WHEN off = $i THEN ac END), 0) AS BIGINT) AS m$i")
               .mkString(",\n             ")}
      FROM r GROUP BY cohort ORDER BY cohort""")),
    // ...and UNPIVOTed back: hash-matches cohort_retention's own oracle,
    // proving the reshapes are mutual inverses
    QuerySpec("cohort_retention_melt", (s, d) => Gold.cohortRetentionMeltFrom(cohortRet(s, d)),
      // the melt round-trips to the long grain: same oracle as cohort_retention
      Oracle(cohortRetentionSql)),
    // market-basket association: same-order part pairs scored by lift
    QuerySpec("basket_pairs", (s, d) =>
      Gold.basketPairsFrom(orderItemsF(s, d), itemCooc(s, d)),
      Oracle("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      n AS (SELECT count(DISTINCT ok) AS total FROM items),
      pairs AS (
        SELECT a.p AS p1, b.p AS p2, count(*) AS together
        FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 3),
      freq AS (SELECT p, count(*) AS n FROM items GROUP BY 1)
      SELECT p1, p2, together,
             round(CAST(together AS DOUBLE) * (SELECT total FROM n) / (f1.n * f2.n), 6) AS lift
      FROM pairs JOIN freq f1 ON p1 = f1.p JOIN freq f2 ON p2 = f2.p
      ORDER BY lift DESC, p1, p2 LIMIT 20""")),
    QuerySpec("pricing_summary", (s, d) => Gold.pricingSummary(Tables.lineitem(s, d)),
      Oracle("""
      SELECT l_returnflag, l_linestatus,
             sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
             sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS sum_disc_price,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000) AS BIGINT))/1000000.0 AS sum_charge,
             sum(CAST(round(l_quantity*100) AS BIGINT))/100.0/count(*) AS avg_qty,
             sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0/count(*) AS avg_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""")),
    // TPC-H Q3 shape: selective 3-table join, scaled-integer revenue,
    // customer as LEFT SEMI (membership only, no payload)
    QuerySpec("shipping_priority", (s, d) => Gold.shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      // TPC-H Q3 restated (o_orderpriority for the missing o_shippriority);
      // scaled-integer revenue matches Gold.shippingPriority's rev4 sums
      Oracle("""
      SELECT l_orderkey,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")),
    // chi-square independence of country x high-ticket flag over the
    // FULL margin-crossed contingency grid (zero cells kept)
    QuerySpec("chi2_country_ticket", (s, d) => Gold.chi2CountryTicket(fact(s, d)),
      // full margin-crossed grid incl. zero cells; expected-count and chi2
      // float ops in the same order as Gold.chi2CountryTicket
      Oracle(s"""
      WITH f AS (SELECT coalesce(n_name, 'Inconnu') AS pays,
                        CAST(o_totalprice > 150000.0 AS BIGINT) AS hi
                 FROM orders
                 LEFT JOIN customer ON o_custkey = c_custkey
                 LEFT JOIN nation ON c_nationkey = n_nationkey
                 WHERE $V),
      cells AS (SELECT pays, hi, count(*) AS o FROM f GROUP BY 1, 2),
      rt AS (SELECT pays, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      ct AS (SELECT hi, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      n AS (SELECT CAST(sum(o) AS BIGINT) AS tot FROM cells),
      grid AS (SELECT rt.pays, ct.hi, r, c, coalesce(o, 0) AS o
               FROM rt CROSS JOIN ct
               LEFT JOIN cells ON cells.pays = rt.pays AND cells.hi = ct.hi),
      terms AS (SELECT o, CAST(r AS DOUBLE) * c / (SELECT tot FROM n) AS e FROM grid)
      SELECT (SELECT count(*) FROM rt) AS n_countries,
             ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1) AS dof,
             round(sum((o - e) * (o - e) / e), 6) AS chi2
      FROM terms""")),
    QuerySpec("ca_region", (s, d) => Gold.caRegion(Tables.orders(s, d), Tables.customer(s, d),
      Tables.nation(s, d), Tables.region(s, d)),
      Oracle(s"""
      SELECT coalesce(r_name, 'Inconnu') AS region, ${ms("o_totalprice")} AS ca
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      WHERE $V GROUP BY 1 ORDER BY ca DESC, region""")),
    // per-group top-k: window rank over the (region, product) aggregate
    QuerySpec("top_products_per_region", (s, d) => Gold.topProductsPerRegion(
      Tables.orders(s, d), Tables.lineitem(s, d), Tables.part(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Oracle(s"""
      WITH bp AS (
        SELECT coalesce(r_name, 'Inconnu') AS region, p_name AS produit,
               ${ms("l_extendedprice")} AS ca
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN part ON l_partkey = p_partkey
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        WHERE $V GROUP BY 1, 2)
      SELECT region, produit, ca, rang FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY region
                         ORDER BY ca DESC, produit) AS INTEGER) AS rang
        FROM bp)
      WHERE rang <= 3 ORDER BY region, rang""")),
    QuerySpec("ca_supplier_nation", (s, d) => Gold.caSupplierNation(Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d)),
      Oracle(s"""
      SELECT n_name AS supplier_nation, ${ms("l_extendedprice")} AS ca
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1 ORDER BY ca DESC, supplier_nation""")),
    // TPC-H Q5 shape: 6-table join whose customer/supplier nation
    // equality closes a CYCLE in the join graph (not a star)
    QuerySpec("local_supplier_volume", (s, d) => Gold.localSupplierVolume(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d)),
      // TPC-H Q5 restated; revenue in scaled integers like the Spark side
      Oracle("""
      SELECT n_name,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1 ORDER BY revenue DESC, n_name""")),
    // TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI whose condition
    // mixes the equi-key with a per-order inequality residual
    QuerySpec("order_priority", (s, d) => Gold.orderPriority(
      Tables.orders(s, d), Tables.lineitem(s, d)),
      // TPC-H Q4 restated (late-ship correlate for the missing
      // commit/receipt dates); the EXISTS matches the Spark LEFT SEMI
      Oracle("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY 1 ORDER BY 1""")),
    // TPC-H Q7 shape: nation-pair disjunction as a residual over
    // IN-pruned dim chains
    QuerySpec("nation_trade_volume", (s, d) => Gold.nationTradeVolume(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d)),
      // TPC-H Q7 restated; scaled-integer revenue, nation-pair disjunction
      Oracle("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),
    // TPC-H Q8 shape: conditional-sum market-share ratio out of ONE
    // grouped pass (no self-join of aggregates)
    QuerySpec("market_share", (s, d) => Gold.marketShare(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d)),
      // TPC-H Q8 restated: conditional-sum ratio out of one grouped pass,
      // scaled-integer numerator/denominator, one 6dp float divide
      Oracle("""
      WITH t AS (
        SELECT year(o_orderdate) AS o_year,
               CASE WHEN n2.n_name = 'NATION_7'
                    THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
                    ELSE 0 END AS num4,
               CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS rev4
        FROM lineitem, orders, customer, supplier, nation n1, region, nation n2
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      SELECT o_year,
             round(sum(num4) / CAST(sum(rev4) AS DOUBLE), 6) AS mkt_share
      FROM t GROUP BY 1 ORDER BY 1""")),
    // TPC-H Q10 shape: returned-line revenue per customer, dims attached
    // after the fact-grain reduction, global top-k
    QuerySpec("returned_item_revenue", (s, d) => Gold.returnedItemRevenue(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.nation(s, d)),
      // TPC-H Q10 restated: per-customer returned-line revenue, dims after
      // the reduction, deterministic top-20
      Oracle("""
      WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue
        FROM orders, lineitem
        WHERE o_orderkey = l_orderkey AND l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1)
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
             coalesce(n_name, 'Inconnu') AS pays, revenue
      FROM rev
      JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      ORDER BY revenue DESC, c_custkey LIMIT 20""")),
    // TPC-H Q19 shape: OR-of-ANDs brand/size/quantity bands; part-side
    // disjunction distributed out and pushed to the scan
    QuerySpec("disjunctive_revenue", (s, d) => Gold.disjunctiveRevenue(
      Tables.lineitem(s, d), Tables.part(s, d)),
      // TPC-H Q19 restated: the conjunctive per-branch form — equivalent
      // to the Spark side's pushed part-filter + residual because each
      // branch is keyed by a distinct brand
      Oracle("""
      SELECT sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))/10000.0 AS revenue
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND (
        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) OR
        (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) OR
        (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""")),
    // TPC-H Q22 shape: exact-cents global average folded to a driver
    // scalar, NOT EXISTS as LEFT ANTI on keys
    QuerySpec("idle_customers", (s, d) => Gold.idleCustomers(
      Tables.customer(s, d), Tables.orders(s, d), Tables.nation(s, d)),
      // TPC-H Q22 restated: exact-cents average threshold in the same
      // expression order as the Spark driver scalar; NOT EXISTS ≙ LEFT ANTI
      Oracle("""
      WITH avg_bal AS (
        SELECT sum(CAST(round(c_acctbal*100) AS BIGINT))/100.0/count(*) AS t
        FROM customer WHERE c_acctbal > 0)
      SELECT coalesce(n_name, 'Inconnu') AS pays, count(*) AS numcust,
             sum(CAST(round(c_acctbal*100) AS BIGINT))/100.0 AS totacctbal
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE c_acctbal > (SELECT t FROM avg_bal)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY 1 ORDER BY 1""")),
    // TPC-H Q6 shape: pure filter-scan-sum, all predicates pushed
    QuerySpec("forecast_revenue", (s, d) => Gold.forecastRevenue(Tables.lineitem(s, d)),
      // TPC-H Q6 restated: one filter-scan-sum, scaled-integer product
      Oracle("""
      SELECT sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))/10000.0 AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),
    // universally-quantified aggregation: share of orders whose EVERY
    // line met the ship SLA, order-grain reduction first
    QuerySpec("order_sla", (s, d) => Gold.orderSla(
      Tables.orders(s, d), Tables.lineitem(s, d)),
      // per-order max lag then month-grain conditional share
      Oracle("""
      WITH w AS (
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS mois,
               max(date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE))) AS worst_lag
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2)
      SELECT mois, count(*) AS n_orders,
             CAST(sum(CASE WHEN worst_lag <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
             round(CAST(sum(CASE WHEN worst_lag <= 90 THEN 1 ELSE 0 END) AS BIGINT)
                   / CAST(count(*) AS DOUBLE), 6) AS sla_share
      FROM w GROUP BY 1 ORDER BY mois""")),
    // supply-side concentration: HHI from exact integer revenue moments
    QuerySpec("supplier_hhi", (s, d) => Gold.supplierHhi(Tables.lineitem(s, d)),
      // HHI = sum(rev^2)/(sum rev)^2 from exact integer supplier revenues
      Oracle("""
      WITH bySupp AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS mois, l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS HUGEINT) AS rev4
        FROM lineitem GROUP BY 1, 2)
      SELECT mois, count(*) AS n_suppliers,
             round(CAST(sum(rev4 * rev4) AS DOUBLE)
                   / (CAST(sum(rev4) AS DOUBLE) * CAST(sum(rev4) AS DOUBLE)), 6) AS hhi
      FROM bySupp GROUP BY 1 ORDER BY mois""")),
    // TPC-H Q12 shape: late-line two-bucket conditional counts over a
    // fact-fact join with a cross-side date residual
    QuerySpec("late_priority_lines", (s, d) => Gold.latePriorityLines(
      Tables.orders(s, d), Tables.lineitem(s, d)),
      // TPC-H Q12 restated (returnflag for the missing shipmode; lateness
      // = shipped > 30 days after the order date)
      Oracle("""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      GROUP BY 1 ORDER BY 1""")),
    // TPC-H Q14 shape: PROMO revenue share out of one grouped pass
    QuerySpec("promo_revenue_share", (s, d) => Gold.promoRevenueShare(
      Tables.lineitem(s, d), Tables.part(s, d)),
      // TPC-H Q14 restated: conditional-sum ratio, one grouped pass
      Oracle("""
      SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)
                   ELSE 0 END)
             / CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS DOUBLE), 6) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""")),
    // TPC-H Q15 shape: max-revenue supplier(s) via exact integer
    // equality against a two-phase driver scalar
    QuerySpec("top_supplier", (s, d) => Gold.topSupplier(
      Tables.lineitem(s, d), Tables.supplier(s, d)),
      // TPC-H Q15 restated: exact integer revenue equality against the max
      Oracle("""
      WITH r AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1)
      SELECT s_suppkey, s_name, rev4/10000.0 AS total_revenue
      FROM r JOIN supplier ON l_suppkey = s_suppkey
      WHERE rev4 = (SELECT max(rev4) FROM r)
      ORDER BY s_suppkey""")),
    // TPC-H Q17 shape: per-part correlated average, decorrelated to
    // aggregate + join over the brand-pruned line frame
    QuerySpec("small_quantity_revenue", (s, d) => Gold.smallQuantityRevenue(
      Tables.lineitem(s, d), Tables.part(s, d)),
      // TPC-H Q17 restated: correlated per-part average decorrelated to
      // aggregate + join; threshold arithmetic in the Spark expression order
      Oracle("""
      WITH lines AS (
        SELECT l_partkey, l_quantity,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price2
        FROM lineitem
        WHERE EXISTS (SELECT 1 FROM part
                      WHERE p_partkey = l_partkey AND p_brand = 'Brand#23')),
      thr AS (
        SELECT l_partkey AS t_partkey,
               0.2 * (sum(CAST(round(l_quantity*100) AS BIGINT))/100.0/count(*)) AS qty_threshold
        FROM lines GROUP BY 1)
      SELECT round(sum(price2)/100.0/7.0, 6) AS avg_yearly
      FROM lines JOIN thr ON l_partkey = t_partkey
      WHERE l_quantity < qty_threshold""")),
    // TPC-H Q18 shape: HAVING membership as aggregate-then-join
    QuerySpec("large_volume_customers", (s, d) => Gold.largeVolumeCustomers(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      // TPC-H Q18 restated: HAVING membership as aggregate-then-join,
      // exact-cents quantity totals, deterministic top-50
      Oracle("""
      WITH big AS (
        SELECT l_orderkey,
               sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS total_qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 > 180.0)
      SELECT c_custkey, c_name, o_orderkey,
             CAST(o_orderdate AS DATE) AS o_orderdate,
             round(o_totalprice, 2) AS o_totalprice, total_qty
      FROM big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 50"""))
  )
}
