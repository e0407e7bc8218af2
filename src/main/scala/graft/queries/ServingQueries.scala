package graft
package queries

import OracleSql._
import SparkEntry._

/** Serving aggregates (A10-A15, W1, W3, O1-O5): the dashboard and API
  * read paths over the fact table. */
object ServingQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("gold_daily", (s, d) => Serving.daily(fact(s, d)),
      Oracle(s"""
      SELECT CAST(o_orderdate AS DATE) AS jour, ${ms("o_totalprice")} AS ca,
             count(o_orderkey) AS achats
      FROM orders WHERE $V GROUP BY 1 ORDER BY jour""")),
    // gap-filled dense daily series (generated scaffold, zero-filled)
    QuerySpec("gold_daily_dense", (s, d) => dailyDenseF(s, d),
      Oracle(s"""
      WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS jour, ${ms("o_totalprice")} AS ca,
               count(o_orderkey) AS achats
        FROM orders WHERE $V GROUP BY 1),
      b AS (SELECT min(jour) AS lo, max(jour) AS hi FROM d),
      m AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS jour
            FROM b)
      SELECT m.jour, coalesce(d.ca, 0.0) AS ca, coalesce(d.achats, 0) AS achats
      FROM m LEFT JOIN d ON m.jour = d.jour ORDER BY m.jour""")),
    // rolling 7-day mean/stddev/z-score anomaly flags over the dense series
    QuerySpec("gold_daily_anomaly", (s, d) => Serving.dailyAnomalyFrom(dailyDenseF(s, d)),
      Oracle(s"""
      WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS jour, ${ms("o_totalprice")} AS ca
        FROM orders WHERE $V GROUP BY 1),
      b AS (SELECT min(jour) AS lo, max(jour) AS hi FROM d),
      m AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS jour
            FROM b),
      dense AS (SELECT m.jour, coalesce(d.ca, 0.0) AS ca
                FROM m LEFT JOIN d ON m.jour = d.jour),
      dc AS (SELECT jour, ca, CAST(round(ca * 100) AS BIGINT) AS c FROM dense),
      roll AS (
        SELECT jour, ca,
               CAST(count(c) OVER w AS BIGINT) AS n7,
               CAST(sum(c) OVER w AS HUGEINT) AS s7,
               CAST(sum(CAST(c AS HUGEINT) * c) OVER w AS HUGEINT) AS q7
        FROM dc
        WINDOW w AS (ORDER BY jour ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      calc AS (
        SELECT jour, ca,
               round(CAST(s7 AS DOUBLE) / n7 / 100.0, 6) AS ma7,
               CASE WHEN n7 >= 2 THEN
                 round(sqrt(CAST(n7 * q7 - s7 * s7 AS DOUBLE)
                            / (n7 * (n7 - 1))) / 100.0, 6)
               END AS sd7
        FROM roll)
      SELECT jour, ca, ma7, sd7,
             round((ca - ma7) / nullif(sd7, 0.0), 6) AS z,
             coalesce(abs(round((ca - ma7) / nullif(sd7, 0.0), 6)) > 3.0, false) AS is_anomaly
      FROM calc ORDER BY jour""")),
    QuerySpec("gold_weekly", (s, d) => Serving.weekly(fact(s, d)),
      Oracle(s"""
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS semaine,
             ${ms("o_totalprice")} AS ca, count(o_orderkey) AS achats
      FROM orders WHERE $V GROUP BY 1 ORDER BY semaine""")),
    QuerySpec("gold_distribution", (s, d) => Serving.distribution(fact(s, d)),
      // step guard mirrors Serving.distribution's mx==mn branch (step would
      // be 0 on a constant-price fact and every bucket NaN)
      Oracle(s"""
      WITH o AS (SELECT o_totalprice FROM orders WHERE $V),
      mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
                    CASE WHEN max(o_totalprice) > min(o_totalprice)
                         THEN (max(o_totalprice) - min(o_totalprice)) / 12
                         ELSE 1.0 END AS step FROM o)
      SELECT CAST(least(floor((o_totalprice - (SELECT mn FROM mm)) / (SELECT step FROM mm)), 11) AS BIGINT) AS bucket,
             count(*) AS count
      FROM o GROUP BY 1 ORDER BY bucket""")),
    // pd.cut-style interval labels (the serving contract's bucket keys)
    QuerySpec("gold_distribution_labeled", (s, d) => Serving.distributionLabeled(fact(s, d)),
      // same step guard as gold_distribution (Serving.distributionLabeled
      // uses step=1.0 when mx==mn)
      Oracle(s"""
      WITH o AS (SELECT o_totalprice FROM orders WHERE $V),
      mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
                    CASE WHEN max(o_totalprice) > min(o_totalprice)
                         THEN (max(o_totalprice) - min(o_totalprice)) / 12
                         ELSE 1.0 END AS step FROM o),
      g AS (SELECT CAST(least(floor((o_totalprice - (SELECT mn FROM mm)) / (SELECT step FROM mm)), 11) AS BIGINT) AS bucket,
                   count(*) AS count
            FROM o GROUP BY 1),
      e AS (SELECT bucket, count,
              CAST(round(((SELECT mn FROM mm) + bucket * (SELECT step FROM mm)) * 100) AS BIGINT) AS lo,
              CAST(CASE WHEN bucket = 11 THEN round((SELECT mx FROM mm) * 100)
                   ELSE round(((SELECT mn FROM mm) + (bucket + 1) * (SELECT step FROM mm)) * 100) END AS BIGINT) AS hi
            FROM g)
      SELECT bucket,
             '[' || CAST(lo // 100 AS VARCHAR) || '.' || lpad(CAST(lo % 100 AS VARCHAR), 2, '0') || ', '
                 || CAST(hi // 100 AS VARCHAR) || '.' || lpad(CAST(hi % 100 AS VARCHAR), 2, '0')
                 || CASE WHEN bucket = 11 THEN ']' ELSE ')' END AS label,
             count
      FROM e ORDER BY bucket""")),
    // equi-depth variant: sketch-quantile edges, ~n/k rows per bucket
    QuerySpec("gold_distribution_quantile", (s, d) => Serving.distributionQuantile(fact(s, d)),
      // edges via exact quantile_cont == Spark's exact `percentile` (same
      // pairing as the client_scores thresholds); interior edges ed[2:10]
      // are 1-based-inclusive = Spark's edges.slice(1, 10)
      Oracle(s"""
      WITH o AS (SELECT o_totalprice FROM orders WHERE $V),
      e AS (SELECT quantile_cont(o_totalprice,
              [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS ed
            FROM o),
      b AS (SELECT CAST(len(list_filter((SELECT ed[2:10] FROM e),
                                        x -> o_totalprice >= x)) AS BIGINT) AS bucket
            FROM o)
      SELECT bucket,
             round((SELECT ed FROM e)[CAST(bucket AS INT) + 1], 2) AS lo,
             round((SELECT ed FROM e)[CAST(bucket AS INT) + 2], 2) AS hi,
             count(*) AS count
      FROM b GROUP BY 1 ORDER BY bucket""")),
    QuerySpec("gold_monthly_growth", (s, d) => Serving.monthlyGrowth(Gold.caMonthly(fact(s, d))),
      Oracle(s"""
      WITH cm AS (SELECT strftime(o_orderdate, '%Y-%m') AS mois, ${ms("o_totalprice")} AS ca
                  FROM orders WHERE $V GROUP BY 1),
      lagged AS (SELECT mois, ca, lag(ca) OVER (ORDER BY mois) AS prev_ca FROM cm)
      SELECT mois, ca, prev_ca,
             round(ca - prev_ca, 2) AS growth_abs,
             CASE WHEN prev_ca IS NULL OR prev_ca = 0 THEN NULL
                  ELSE round((ca - prev_ca) / prev_ca, 6) END AS growth_pct
      FROM lagged ORDER BY mois""")),
    // running total + share-of-total over the month sequence
    QuerySpec("gold_monthly_cumulative", (s, d) => Serving.monthlyCumulative(Gold.caMonthly(fact(s, d))),
      Oracle(s"""
      WITH cm AS (SELECT strftime(o_orderdate, '%Y-%m') AS mois, ${ms("o_totalprice")} AS ca
                  FROM orders WHERE $V GROUP BY 1)
      SELECT mois, ca,
             round(sum(ca) OVER (ORDER BY mois ROWS UNBOUNDED PRECEDING), 2) AS ca_cumulative,
             round(sum(ca) OVER (ORDER BY mois ROWS UNBOUNDED PRECEDING)
                   / sum(ca) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS share_of_total
      FROM cm ORDER BY mois""")),
    QuerySpec("kpis", (s, d) => Serving.kpis(fact(s, d)),
      Oracle(s"""
      SELECT ca_total, nb_achats, nb_clients, round(ca_total / nb_achats, 2) AS panier_moyen
      FROM (SELECT ${ms("o_totalprice")} AS ca_total, count(o_orderkey) AS nb_achats,
                   count(DISTINCT o_custkey) AS nb_clients
            FROM orders WHERE $V)""")),
    QuerySpec("kpis_approx", (s, d) => Serving.kpisApprox(fact(s, d)),
      // bounded-error oracle at kpisApprox's default rsd 0.01 (5σ =
      // 0.05): hash equality with the dump IS the accuracy gate
      Oracle(kpisBoundedSql("kpis_approx", "nb_clients_approx", 0.01))),
    QuerySpec("top_clients", (s, d) => Serving.topClients(fact(s, d)), Oracle(topClientsSql)),
    QuerySpec("client_deciles", (s, d) => Serving.clientDeciles(fact(s, d)),
      Oracle(s"""
      WITH pc AS (SELECT o_custkey AS c_custkey, ${ms("o_totalprice")} AS total_spend
                  FROM orders WHERE $V GROUP BY 1),
      d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS decile
            FROM pc)
      SELECT decile, count(*) AS clients, round(sum(total_spend), 2) AS ca,
             min(total_spend) AS min_spend, max(total_spend) AS max_spend
      FROM d GROUP BY 1 ORDER BY decile""")),
    // revenue concentration: exact Gini + top-decile share via the same
    // distributed global-rank machinery (no 1-partition window)
    QuerySpec("revenue_gini", (s, d) => Serving.revenueGini(fact(s, d)),
      // rank-formula Gini over ascending exact-cents spend; rank*cents
      // accumulates in DECIMAL(38,0) on both engines, scalar float ops in
      // the same order as Serving.revenueGini's driver fold
      Oracle(s"""
      WITH pc AS (SELECT o_custkey, sum(CAST(round(o_totalprice*100) AS BIGINT)) AS cents
                  FROM orders WHERE $V GROUP BY 1),
      r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rk FROM pc),
      nn AS (SELECT count(*) AS n FROM pc),
      g AS (SELECT sum(CAST(rk AS DECIMAL(38,0)) * cents) AS rx,
                   sum(CAST(cents AS DECIMAL(38,0))) AS sx,
                   sum(CASE WHEN rk > (SELECT n FROM nn) - (SELECT n FROM nn) // 10
                            THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS topx
            FROM r)
      SELECT (SELECT n FROM nn) AS n_clients,
             round(2.0 * CAST(rx AS DOUBLE) / ((SELECT n FROM nn) * CAST(sx AS DOUBLE))
                   - ((SELECT n FROM nn) + 1.0) / (SELECT n FROM nn), 6) AS gini,
             round(CAST(topx AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS top10_share
      FROM g""")),
    // grouped exact percentiles (per-country median/p90 order value)
    QuerySpec("ca_country_quantiles", (s, d) => Serving.caCountryQuantiles(fact(s, d)),
      // grouped exact percentiles: quantile_cont == Spark's percentile
      Oracle(s"""
      SELECT coalesce(n_name, 'Inconnu') AS pays, count(*) AS n,
             round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 6) AS p90
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE $V GROUP BY 1 ORDER BY pays""")),
    // per-client percent_rank/cume_dist via distributed global ranks
    QuerySpec("client_percentiles", (s, d) => Serving.clientPercentiles(fact(s, d)),
      // manual (rk-1)/(n-1) and rk/n over the (spend, custkey) TOTAL order
      // — rank == row_number by construction, so tie semantics can't
      // diverge between engines
      Oracle(s"""
      WITH pc AS (SELECT o_custkey AS c_custkey, ${ms("o_totalprice")} AS total_spend
                  FROM orders WHERE $V GROUP BY 1),
      r AS (SELECT *, row_number() OVER (ORDER BY total_spend, c_custkey) AS rk FROM pc),
      nn AS (SELECT count(*) AS n FROM pc)
      SELECT c_custkey, total_spend,
             round((rk - 1) / ((SELECT n FROM nn) - 1.0), 6) AS pct_rank,
             round(rk / CAST((SELECT n FROM nn) AS DOUBLE), 6) AS cume_dist
      FROM r ORDER BY c_custkey""")),
    QuerySpec("top_risk_clients", (s, d) => Serving.topRiskClients(scored(s, d)),
      Oracle(s"""$scoredCte
      SELECT c_custkey, value_at_risk_12m, recency_days, monetary_12m
      FROM scored
      ORDER BY value_at_risk_12m DESC, recency_days DESC, c_custkey LIMIT 20""")),
    QuerySpec("repeat_rate", (s, d) => Serving.repeatRate(fact(s, d)),
      Oracle(s"""
      SELECT round(avg(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.0 END), 6) AS repeat_rate
      FROM (SELECT o_custkey, count(o_orderkey) AS cnt FROM orders WHERE $V GROUP BY 1)"""))
  )
}
