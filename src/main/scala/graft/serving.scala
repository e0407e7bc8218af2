package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-time aggregates the reference derives at Mongo-publish time plus
  * the API/dashboard read-path queries
  * (reference: serving_mongo/publish_gold_to_mongo.py:111-169,
  * serving_api/repository.py:45-82, scripts/dashboard.py).
  *
  * All inputs are the order-grain fact; every group key is low-cardinality
  * (days/weeks/months/buckets) so the final aggregates are tiny — partial
  * aggregation does the heavy lifting distributed, the final shuffle moves
  * only group subtotals.
  */
object Serving {
  import Tables.moneySum

  /** gold_daily (reference publish_gold_to_mongo.py:111-123). */
  def daily(fact: DataFrame): DataFrame =
    fact.groupBy(col("jour")).agg(
      moneySum(col("o_totalprice")).as("ca"),
      count("o_orderkey").as("achats"))
      .orderBy("jour")

  /** Gap-filled [[daily]]: every calendar day between the first and last
    * purchase appears, zero-filled where no orders landed — the dense
    * series a dashboard or forecasting model consumes (a LEFT-join on a
    * sparse series silently drops the zero days that matter most). The
    * scaffold is `sequence(min, max, 1 day)` exploded from the one-row
    * bounds aggregate — generated, never collected — and the join is at
    * the serving grain (days), which stays bounded no matter how large
    * the fact table grows. SparkEntry shares ONE dense series across
    * gold_daily_dense, both anomaly tiers and spend_trend. */
  def dailyDense(fact: DataFrame): DataFrame = {
    val d = daily(fact)
    val scaffold = d.agg(min("jour").as("lo"), max("jour").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("jour"))
    scaffold.join(d, Seq("jour"), "left")
      .na.fill(0.0, Seq("ca")).na.fill(0L, Seq("achats"))
      .orderBy("jour")
  }

  /** Robust twin of [[dailyAnomalyFrom]]: global median / MAD instead of
    * the rolling mean / stddev — a true outlier day cannot drag its own
    * baseline (breakdown point 50% vs 0%). Median and MAD are exact
    * two-phase `percentile` scalars (the A9 literal pattern — two
    * one-row driver hops over the date-grain series; the fact subtree is
    * the session-cached frame, so neither pass rescans orders). A
    * constant series has MAD 0 → null z and no flag, mirrored via
    * nullif on both engines. 1.4826·MAD is the normal-consistency
    * sigma; 3.5 the standard robust-z cut (Iglewicz-Hoaglin). Reads a
    * [[dailyDense]] series. */
  def dailyAnomalyRobustFrom(d: DataFrame, threshold: Double = 3.5): DataFrame = {
    // empty fact → NULL median; (0,0) keeps the nullif-guarded z NULL
    // over the (empty) dense series instead of throwing off getDouble
    val med = Option(d.select(expr("percentile(ca, 0.5)")).first().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    val mad = Option(d.select(expr(s"percentile(abs(ca - $med), 0.5)")).first().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    d.withColumn("robust_z",
        round((col("ca") - lit(med)) / nullif(lit(1.4826 * mad), lit(0.0)), 6))
      .withColumn("is_anomaly",
        coalesce(abs(col("robust_z")) > threshold, lit(false)))
      .select("jour", "ca", "robust_z", "is_anomaly")
      .orderBy("jour")
  }

  /** OLS revenue trend over the dense daily series, fitted from EXACT
    * integer moment sums (epoch-day x, cents y — the [[Gold.featureCorr]]
    * discipline): slope/intercept/R² are closed-form ratios of five
    * mergeable scalars, so the "model fit" is one aggregation pass that
    * partials combine losslessly at any scale — no solver, no iteration,
    * no nondeterministic float summation. Slope reported in dollars/day,
    * intercept in dollars at the epoch-day origin of the series' first
    * day (x is re-based to day 0 so the intercept is interpretable and
    * the moments stay small). Reads a [[dailyDense]] series. */
  def spendTrendFrom(dense: DataFrame): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def dbl(c: String) = col(c).cast("double")
    dense
      .select(
        (datediff(col("jour"), min(col("jour"))
          .over(Window.rowsBetween(Long.MinValue, Long.MaxValue)))).as("x"),
        Tables.cents(col("ca")).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        // multiply in DECIMAL, not long: y is a DAILY cents aggregate,
        // unbounded with scale — at sf1 (10x) y² already passes
        // Long.Max and ANSI throws ARITHMETIC_OVERFLOW (caught by a
        // full-registry scale soak). Same exact integers, wider
        // intermediate.
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      .select({
        // nullif guards: a single-day series (n=1 ⇒ Σx² = (Σx)² = 0) or
        // a constant-revenue series (n·Σy² = (Σy)²) zeroes a moment
        // delta and the fit is undefined — NULL, never a throw (Spark 4
        // ANSI raises DIVIDE_BY_ZERO on double/0 too). One day of data
        // is a routine cold-start state, not an error.
        val dxy = col("n") * dbl("sxy") - dbl("sx") * dbl("sy")
        val dxx = nullif(col("n") * dbl("sxx") - dbl("sx") * dbl("sx"), lit(0.0))
        val dyy = col("n") * dbl("syy") - dbl("sy") * dbl("sy")
        Seq(col("n"),
          round((dxy / dxx) / 100.0, 6).as("slope_per_day"),
          round((dbl("sy") / col("n") -
            dxy / dxx * (dbl("sx") / col("n"))) / 100.0, 6).as("intercept"),
          round((dxy * dxy) / nullif(dxx * dyy, lit(0.0)), 6).as("r2"))
      }: _*)
  }

  /** Rolling 7-day revenue anomaly flags over the DENSE daily series
    * (reads a [[dailyDense]] series — calendar alignment matters: on the
    * sparse series a 7-ROW frame silently spans more than 7 days).
    * Frame-spec window (rowsBetween) per day: mean and sample stddev of
    * the 7 PRECEDING days — the current row is excluded from its own
    * baseline, both because a spike must not contaminate the statistics
    * it is judged against and because an inclusive trailing window caps
    * a lone spike's z at (n−1)/√n ≈ 2.27, below any useful threshold.
    * Like [[monthlyGrowth]], the global-order window runs
    * single-partition BY DESIGN: the daily grain is bounded (~365
    * rows/year) no matter how large the fact table grows — a
    * serving-grain op, not a fact-grain one. Guards: a constant or
    * empty baseline (sd 0 / first day) yields null z via nullif, never
    * a division blow-up, and flags false. */
  def dailyAnomalyFrom(dense: DataFrame, threshold: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("jour").rowsBetween(-7, -1)
    // rolling mean/stddev from EXACT integer-cents moments (the
    // ab_metrics moment discipline): n·ΣQ − S² is exact decimal
    // arithmetic, so the only float ops are one division, one sqrt and
    // the 6dp round — identical in both engines. A float stddev_samp
    // here (Welford recurrences differ between engines by an ulp) was
    // the suite's ONLY sf0.1 hash miss: one of 2405 rows landed on a
    // rounding boundary. Bonus: the exact numerator is provably ≥ 0 —
    // no negative-variance ulp to clamp.
    dense
      .withColumn("c", round(col("ca") * 100).cast("long"))
      .withColumn("n7", count("c").over(w))
      .withColumn("s7", sum("c").over(w))
      .withColumn("q7",
        sum(col("c").cast("decimal(38,0)") * col("c")).over(w))
      .withColumn("ma7", round(col("s7").cast("double") / col("n7") / 100.0, 6))
      .withColumn("sd7", when(col("n7") >= 2, round(
        sqrt((col("n7").cast("decimal(38,0)") * col("q7")
            - col("s7").cast("decimal(38,0)") * col("s7")).cast("double")
          / (col("n7") * (col("n7") - 1))) / 100.0, 6)))
      .withColumn("z", round((col("ca") - col("ma7")) /
        nullif(col("sd7"), lit(0.0)), 6))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > threshold, lit(false)))
      .select("jour", "ca", "ma7", "sd7", "z", "is_anomaly")
      .orderBy("jour")
  }

  /** gold_weekly (reference :126-139): key = week start (Monday), matching
    * pandas `to_period("W")` start == Spark/DuckDB `date_trunc('week')`. */
  def weekly(fact: DataFrame): DataFrame =
    fact.groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("semaine"))
      .agg(moneySum(col("o_totalprice")).as("ca"),
        count("o_orderkey").as("achats"))
      .orderBy("semaine")

  /** gold_distribution (reference :142-152): 12 equal-width amount bins.
    * `pd.cut` semantics → bucket index 0..11, max value clamped into the
    * last bucket. min/max are driver-folded scalars (two-phase, like the
    * reference's scoring thresholds). */
  def distribution(fact: DataFrame, bins: Int = 12): DataFrame = {
    val r = fact.agg(min("o_totalprice"), max("o_totalprice")).first()
    // empty fact → NULL min/max; (0,0) degenerates to the single-bucket
    // branch and the groupBy over zero rows yields an empty histogram
    // (never a getDouble(null) throw — empty slices are routine at scale)
    val (mn, mx) = if (r.isNullAt(0)) (0.0, 0.0)
      else (r.getDouble(0), r.getDouble(1))
    val bucket =
      if (mx > mn)
        least(floor((col("o_totalprice") - lit(mn)) / lit((mx - mn) / bins)),
          lit(bins - 1L)).cast("long")
      else lit(0L)
    fact.groupBy(bucket.as("bucket"))
      .agg(count("o_orderkey").as("count"))
      .orderBy("bucket")
  }

  /** [[distribution]] with pd.cut-style interval LABELS (reference
    * publish_gold_to_mongo.py:142-152 stringifies the pandas intervals;
    * the dashboard keys on them). Same bucket arithmetic; the bounds are
    * half-open `[lo, hi)` with the last bucket closed — honest about the
    * floor()-bucketing (pandas' `(lo, hi]` describes ITS bucketing, not
    * ours). Labels are formatted from integer cents, never from float
    * repr, so Spark and the DuckDB oracle agree bit-for-bit (the
    * cross-engine float-formatting trap). */
  def distributionLabeled(fact: DataFrame, bins: Int = 12): DataFrame = {
    val r = fact.agg(min("o_totalprice"), max("o_totalprice")).first()
    // empty fact → NULL min/max → empty histogram (see [[distribution]])
    val (mn, mx) = if (r.isNullAt(0)) (0.0, 0.0)
      else (r.getDouble(0), r.getDouble(1))
    val step = if (mx > mn) (mx - mn) / bins else 1.0
    val bucket =
      if (mx > mn)
        least(floor((col("o_totalprice") - lit(mn)) / lit(step)),
          lit(bins - 1L)).cast("long")
      else lit(0L)
    def centsStr(c: Column): Column =
      concat(floor(c / 100).cast("long").cast("string"), lit("."),
        lpad(pmod(c, lit(100)).cast("string"), 2, "0"))
    val last = col("bucket") === (bins - 1)
    val lo = round((lit(mn) + col("bucket") * lit(step)) * 100).cast("long")
    val hi = when(last, round(lit(mx) * 100))
      .otherwise(round((lit(mn) + (col("bucket") + 1) * lit(step)) * 100))
      .cast("long")
    fact.groupBy(bucket.as("bucket"))
      .agg(count("o_orderkey").as("count"))
      .withColumn("label", concat(lit("["), centsStr(lo), lit(", "),
        centsStr(hi), when(last, lit("]")).otherwise(lit(")"))))
      .select("bucket", "label", "count")
      .orderBy("bucket")
  }

  /** Equi-DEPTH amount histogram: bucket edges at sketch quantiles
    * (percentile_approx, driver-folded into literals — the same
    * two-phase shape as the scoring thresholds), each bucket holding
    * ~1/k of the rows. The serving-scale complement to
    * [[distribution]]'s equal-width bins, which degenerate under heavy
    * tails (one hot bucket, eleven empty ones). Edges come from exact
    * `percentile` (same choice as the scoring thresholds, so the DuckDB
    * `quantile_cont` oracle hash-matches); the edge pass is one
    * aggregation scan — no global sort — and assignment is a map-side
    * comparison chain over literals. Exact percentile buffers the
    * column's distinct values on one reducer — right while price
    * cardinality ≪ row count; at genuine value-per-row cardinality flip
    * the edge aggregate to `approx_percentile` (the rest of the shape is
    * unchanged, results become rows-only). */
  def distributionQuantile(fact: DataFrame, buckets: Int = 10): DataFrame = {
    val probs = (0 to buckets).map(_.toDouble / buckets)
    // empty fact → NULL percentile array → no edges, one catch-all
    // bucket over zero rows = empty histogram (never a null getSeq NPE)
    val edges = Tables.doubleSeqAt(fact.select(expr(
      s"percentile(o_totalprice, array(${probs.mkString(", ")}))").as("e"))
      .first(), 0)
    val interior = edges.slice(1, buckets)
    val bucket = interior.foldLeft(lit(0L)) { (acc, e) =>
      acc + when(col("o_totalprice") >= lit(e), 1L).otherwise(0L)
    }
    // the no-edges (empty-fact) case must bypass element_at entirely:
    // the lookup is constant-foldable there, and ANSI element_at on the
    // empty literal array throws AT PLAN TIME, zero input rows or not
    if (edges.isEmpty)
      return fact.sparkSession.range(0).select(lit(0L).as("bucket"),
        lit(0.0).as("lo"), lit(0.0).as("hi"), lit(0L).as("count"))
    val edgeArr = typedlit(edges)
    fact.groupBy(bucket.as("bucket"))
      .agg(count("o_orderkey").as("count"))
      .withColumn("lo", round(element_at(edgeArr, col("bucket").cast("int") + 1), 2))
      .withColumn("hi", round(element_at(edgeArr, col("bucket").cast("int") + 2), 2))
      .select("bucket", "lo", "hi", "count")
      .orderBy("bucket")
  }

  /** gold_monthly_growth (reference :155-169): month-over-month revenue
    * delta via lag over the 1-partition month sequence (tiny by
    * construction — #months rows). */
  def monthlyGrowth(caMonthly: DataFrame): DataFrame = {
    val w = Window.orderBy("mois")
    caMonthly
      .withColumn("prev_ca", lag("ca", 1).over(w))
      .withColumn("growth_abs", round(col("ca") - col("prev_ca"), 2))
      .withColumn("growth_pct",
        when(col("prev_ca").isNull || col("prev_ca") === 0, lit(null))
          .otherwise(round((col("ca") - col("prev_ca")) / col("prev_ca"), 6)))
      .orderBy("mois")
  }

  /** Cumulative (running-total) monthly revenue + share of the running
    * total — the YTD-style serving curve dashboards plot next to the
    * monthly bars. The month sequence is tiny by construction (#months
    * rows, same as [[monthlyGrowth]]), so the single-partition unbounded
    * window is the right plan at any corpus size: the heavy lifting
    * happened in the monthly aggregation below it. */
  def monthlyCumulative(caMonthly: DataFrame): DataFrame = {
    val running = Window.orderBy("mois")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    caMonthly
      .withColumn("ca_cumulative", round(sum("ca").over(running), 2))
      .withColumn("share_of_total", round(col("ca_cumulative") /
        sum("ca").over(Window.orderBy("mois").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)), 6))
      .orderBy("mois")
  }

  /** KPI global aggregate (reference serving_api/repository.py:45-66):
    * total revenue, purchase count, distinct clients, average basket.
    * Exact countDistinct like the reference's `$addToSet` (client
    * cardinality ≪ data size; switch to approx_count_distinct only if the
    * key itself is ~rowcount). */
  def kpis(fact: DataFrame): DataFrame =
    fact.agg(
      moneySum(col("o_totalprice")).as("ca_total"),
      count("o_orderkey").as("nb_achats"),
      countDistinct("o_custkey").as("nb_clients"))
      .select(col("ca_total"), col("nb_achats"), col("nb_clients"),
        round(col("ca_total") / col("nb_achats"), 2).as("panier_moyen"))

  /** 100 TB variant of [[kpis]]: HyperLogLog++ distinct clients instead
    * of exact countDistinct. Exact distinct shuffles every distinct key;
    * the sketch is fixed-size per partition — the right trade once the
    * key cardinality approaches the row count. Gated by the
    * `kpis_approx` bounded-error oracle (5σ of `rsd`). */
  def kpisApprox(fact: DataFrame, rsd: Double = 0.01): DataFrame =
    // DataSketches HLL in place of HLL++ at equal-or-tighter error —
    // lgConfigK from the declared rsd via rsd ≈ 1.04/√(2^lgK) (0.01 →
    // 14, realized ≈0.81%); o_custkey is a long, which the sketch
    // ingests directly, and nulls are skipped exactly as
    // approx_count_distinct skips them. The bounded-error oracle
    // (±5σ·rsd) gates the estimate.
    fact.agg(
      moneySum(col("o_totalprice")).as("ca_total"),
      count("o_orderkey").as("nb_achats"),
      coalesce(hll_sketch_estimate(
        hll_sketch_agg(col("o_custkey"), Catalog.lgConfigK(rsd))), lit(0L))
        .as("nb_clients_approx"))
      .select(col("ca_total"), col("nb_achats"), col("nb_clients_approx"),
        round(col("ca_total") / col("nb_achats"), 2).as("panier_moyen"))

  /** Mergeable partial for [[kpis]] — the incremental-maintenance form
    * of a KPI row that contains a DISTINCT count. Sums and counts merge
    * algebraically (integer cents, like [[Gold.caMonthlyPartial]]), but
    * distinct clients cannot be merged from finalized numbers; the
    * partial therefore carries a DataSketches HLL sketch of the client
    * keys (binary column — persists to parquet like any other). A
    * refresh unions yesterday's persisted sketch with the delta's sketch
    * instead of rescanning the history for an exact recount. */
  def kpisPartial(orders: DataFrame): DataFrame =
    Gold.validOrders(orders).agg(
      sum(Tables.cents(col("o_totalprice"))).as("ca_cents"),
      count("o_orderkey").as("nb_achats"),
      hll_sketch_agg(col("o_custkey"), KpisSketchLgK).as("clients_sketch"))

  /** lgK of [[kpisPartial]]'s client sketch (the DataSketches default)
    * and its relative standard error 1.04/√2^12 ≈ 0.0163: the
    * `kpis_incremental` oracle accepts an estimate within 5σ ≈ 0.081. */
  private[graft] val KpisSketchLgK = 12
  private[graft] val KpisSketchRsd = 1.04 / math.sqrt((1 << KpisSketchLgK).toDouble)

  /** Finalize merged [[kpisPartial]] rows: algebraic fields re-sum,
    * sketches union (associative and order-insensitive, so ANY split of
    * the orders into partials yields the same estimate), and the
    * estimate materializes only here. Verify gates the estimate with the
    * `kpis_incremental` bounded-error oracle ([[KpisSketchRsd]]);
    * GoldSpec pins the exact fields and split-invariance. */
  def kpisFromPartials(partials: DataFrame): DataFrame =
    partials.agg(
      sum("ca_cents").as("ca_cents"),
      sum("nb_achats").as("nb_achats"),
      hll_union_agg(col("clients_sketch")).as("clients_sketch"))
      .select((col("ca_cents") / 100.0).as("ca_total"), col("nb_achats"),
        hll_sketch_estimate(col("clients_sketch")).as("nb_clients_approx"),
        round((col("ca_cents") / 100.0) / col("nb_achats"), 2).as("panier_moyen"))

  /** The exact algebraic half of [[kpisFromPartials]] — split out so the
    * incremental refresh's provable part earns a cross-engine hash check:
    * revenue and purchase count merge in integer cents (sum of sums), so
    * the merged partials equal a full recompute BIT-FOR-BIT, and DuckDB
    * can state that recompute as plain SQL. Only the distinct-client
    * estimate is approximate, and it stays in [[kpisFromPartials]]
    * (gated by a bounded-error oracle). */
  def kpisExactFromPartials(partials: DataFrame): DataFrame =
    partials.agg(
      sum("ca_cents").as("ca_cents"),
      sum("nb_achats").as("nb_achats"))
      .select((col("ca_cents") / 100.0).as("ca_total"), col("nb_achats"),
        round((col("ca_cents") / 100.0) / col("nb_achats"), 2).as("panier_moyen"))

  /** Top-K clients by lifetime spend (reference scripts/dashboard.py:165,
    * W3/O2/O4). Global top-k = TakeOrderedAndProject — no full sort. */
  def topClients(fact: DataFrame, k: Int = 20): DataFrame =
    fact.groupBy(col("o_custkey").as("c_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"),
        count("o_orderkey").as("total_orders"))
      .orderBy(desc("total_spend"), col("c_custkey"))
      .limit(k)

  /** Top-K at-risk clients: multi-key mixed-direction sort over scores
    * (reference scripts/dashboard.py:196-197, O3). */
  def topRiskClients(scored: DataFrame, k: Int = 20): DataFrame =
    scored
      .select("c_custkey", "value_at_risk_12m", "recency_days", "monetary_12m")
      .orderBy(desc("value_at_risk_12m"), desc("recency_days"), col("c_custkey"))
      .limit(k)

  /** Repeat-purchase rate (reference scripts/train_predictor.py:321, A15):
    * share of purchasing clients with >1 order. */
  def repeatRate(fact: DataFrame): DataFrame =
    fact.groupBy("o_custkey").agg(count("o_orderkey").as("cnt"))
      .agg(round(avg(when(col("cnt") > 1, 1.0).otherwise(0.0)), 6).as("repeat_rate"))

  /** As-of join (extension): each event gets the issuing user's most
    * recent order price at event time. Composed Spark-first — union both
    * sides, one (key, time) window with a running last(ignoreNulls) —
    * instead of an inequality join (which Spark plans as a broadcast
    * nested loop: O(n·m) per key) or a custom SparkPlan (unnecessary:
    * this shape is one shuffle + one sort, exactly what a native as-of
    * operator would do). Inclusive match (order at ts == event ts wins)
    * via the is_order DESC sort tiebreaker; rid makes the order total. */
  def eventsAsofOrderPrice(events: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select(
      col("o_custkey").as("key"), col("o_orderdate").as("t"),
      col("o_orderkey").as("rid"), col("o_totalprice").as("price"),
      lit(1).as("is_order"), lit(null).cast("long").as("event_id"))
    val e = events.select(
      col("user_id").as("key"), col("ts").as("t"),
      col("event_id").as("rid"), lit(null).cast("double").as("price"),
      lit(0).as("is_order"), col("event_id"))
    val w = Window.partitionBy("key")
      .orderBy(col("t"), desc("is_order"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    o.unionByName(e)
      .withColumn("last_order_price", last("price", ignoreNulls = true).over(w))
      .filter(col("is_order") === 0)
      .select(col("event_id"), col("key").as("user_id"), col("t").as("ts"),
        col("last_order_price"))
      .orderBy("event_id")
  }

  /** Revenue share by country: global-frame window sum over the tiny
    * post-aggregation frame (25 rows — the single-partition window is on
    * subtotals, never on the fact table). */
  def caCountryShare(caCountry: DataFrame): DataFrame =
    caCountry
      .withColumn("share", round(col("ca") /
        sum("ca").over(Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)), 6))
      .orderBy(desc("ca"), col("pays"))

  /** Native gap-based sessionization via Spark's session_window — same
    * sessions as [[eventSessions]] (boundary differs only when a gap
    * equals exactly 30:00.000000), expressed as a groupBy instead of two
    * windows: partial session merging happens map-side, so this is the
    * shape that scales past the window-function variant. */
  def eventSessionsNative(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .withColumn("duration_sec",
        expr("(unix_micros(CAST(session_end AS TIMESTAMP)) - unix_micros(CAST(session_start AS TIMESTAMP))) div 1000000"))
      .select("user_id", "session_start", "session_end", "duration_sec",
        "n_events", "total_value")
      .orderBy("user_id", "session_start")

  /** Client value deciles (ranking-window family), DISTRIBUTED exact
    * ntile: a bare `ntile(10) OVER (ORDER BY …)` funnels every row
    * through one partition — the classic global-ranking bottleneck at
    * 10⁹ clients. Instead: range-repartition on the total sort key
    * (contiguous sorted partitions), collect ONE count per partition
    * (bounded by the partition count, not rows), and assign each row its
    * global rank = partition offset + local index, bucketed by the exact
    * ntile size formula (first n%10 buckets get one extra row). The
    * result is bit-identical to SQL ntile — the DuckDB oracle still
    * hash-checks it — while every stage stays distributed. */
  def clientDeciles(fact: DataFrame): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    val perClient = fact.groupBy(col("o_custkey").as("c_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"))
    val sorted0 = perClient
      .repartitionByRange(desc("total_spend"), col("c_custkey"))
      .sortWithinPartitions(desc("total_spend"), col("c_custkey"))
      .select(col("c_custkey"), col("total_spend"))
    val sorted = CacheOnce(sorted0).as[(Long, Double)]
    val sizes = sorted.mapPartitions { it =>
      Iterator((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val n = sizes.sum
    val base = n / 10
    val extra = n % 10 // ntile: buckets 1..extra hold base+1 rows
    val cut = extra * (base + 1)
    val deciled = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var r = offsets(pid)
      it.map { case (key, spend) =>
        val d = if (r < cut) r / (base + 1) + 1
          else extra + (r - cut) / math.max(base, 1L) + 1
        r += 1
        (key, spend, d)
      }
    }.toDF("c_custkey", "total_spend", "decile")
    deciled
      .groupBy("decile")
      .agg(count(lit(1)).as("clients"),
        round(sum("total_spend"), 2).as("ca"),
        min("total_spend").as("min_spend"),
        max("total_spend").as("max_spend"))
      .orderBy("decile")
  }

  /** Per-country order-value percentiles — the GROUPED form of the
    * exact-percentile family (A9 folds global quantiles to driver
    * literals; this keeps them per group, the serving shape behind
    * "median basket by market" panels). Exact `percentile` buffers each
    * group's values on its reducer — groups are countries, so the
    * buffer is per-country order counts, not the corpus; at genuinely
    * huge per-group cardinality flip to approx_percentile unchanged. */
  def caCountryQuantiles(fact: DataFrame): DataFrame =
    fact.groupBy("pays").agg(
      count(lit(1)).as("n"),
      expr("round(percentile(o_totalprice, 0.5), 6)").as("p50"),
      expr("round(percentile(o_totalprice, 0.9), 6)").as("p90"))
      .orderBy("pays")

  /** Per-client spend percentile ranks (percent_rank + cume_dist
    * semantics) WITHOUT the single-partition window the SQL forms
    * compile to — the [[clientDeciles]] distributed-rank machinery at
    * client grain, emitted per client instead of per bucket. Ordering
    * is (total_spend, c_custkey), a total order, so rank == row_number
    * and ties cannot diverge between engines; pct_rank = (rk−1)/(n−1),
    * cume_dist = rk/n. */
  def clientPercentiles(fact: DataFrame): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    val perClient = fact.groupBy(col("o_custkey").as("c_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"))
    val sorted = CacheOnce(perClient
      .repartitionByRange(col("total_spend"), col("c_custkey"))
      .sortWithinPartitions(col("total_spend"), col("c_custkey"))
      .select(col("c_custkey"), col("total_spend"))).as[(Long, Double)]
    val sizes = sorted.mapPartitions { it =>
      Iterator((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val n = sizes.sum
    val ranked = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var r = offsets(pid)
      it.map { case (k, s) => r += 1; (k, s, r) }
    }.toDF("c_custkey", "total_spend", "rk")
    ranked.select(col("c_custkey"), col("total_spend"),
        (if (n > 1) round((col("rk") - 1) / lit(n - 1.0), 6) else lit(0.0))
          .as("pct_rank"),
        round(col("rk") / lit(n.toDouble), 6).as("cume_dist"))
      .orderBy("c_custkey")
  }

  /** Revenue concentration across the customer base — exact Gini
    * coefficient plus the top-decile revenue share (the Lorenz-curve
    * numbers a "whales vs long tail" analysis reads off). Gini via the
    * rank formula G = 2·Σ(rᵢ·xᵢ)/(n·Σx) − (n+1)/n over ascending spend;
    * ties carry equal x, so any tie order yields the same sum and the
    * (spend, custkey) ordering makes ranks reproducible anyway.
    *
    * Scale shape: global ranks WITHOUT a single-partition window — the
    * [[clientDeciles]] machinery: range-repartition by (spend, key),
    * per-partition counts to the driver (bounded: one long per
    * partition), ranks = local row number + partition offset. Products
    * accumulate in decimal(38,0) (rank·cents overflows a long once
    * n·spend passes ~10¹⁸ — i.e. exactly at the 100 TB design point);
    * the two scalar divisions happen once on the driver. */
  def revenueGini(fact: DataFrame): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    val perClient = fact.groupBy(col("o_custkey"))
      .agg(sum(Tables.cents(col("o_totalprice"))).as("cents"))
    val sorted0 = perClient
      .repartitionByRange(col("cents"), col("o_custkey"))
      .sortWithinPartitions(col("cents"), col("o_custkey"))
      .select(col("o_custkey"), col("cents"))
    val sorted = CacheOnce(sorted0).as[(Long, Long)]
    val sizes = sorted.mapPartitions { it =>
      Iterator((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val n = sizes.sum
    val ranked = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var r = offsets(pid)
      it.map { case (_, c) => r += 1; (r, c) }
    }.toDF("rk", "cents")
    val topCut = n - n / 10 // top floor(n/10) clients by spend
    val m = ranked.agg(
      sum(col("rk").cast("decimal(38,0)") * col("cents")).as("rx"),
      sum(col("cents").cast("decimal(38,0)")).as("sx"),
      sum(when(col("rk") > topCut, col("cents")).otherwise(0L)
        .cast("decimal(38,0)")).as("topx")).head()
    // empty fact → NULL decimal sums; the concentration statistics are
    // undefined without clients — report n=0 with NULL metrics rather
    // than NPE off getDecimal(null)
    if (n == 0L || m.isNullAt(0))
      return spark.range(1).select(
        lit(0L).as("n_clients"),
        lit(null).cast("double").as("gini"),
        lit(null).cast("double").as("top10_share"))
    val (rx, sx, topx) = (m.getDecimal(0).doubleValue(),
      m.getDecimal(1).doubleValue(), m.getDecimal(2).doubleValue())
    val gini = 2.0 * rx / (n * sx) - (n + 1.0) / n
    spark.range(1).select(
      lit(n).as("n_clients"),
      round(lit(gini), 6).as("gini"),
      round(lit(topx / sx), 6).as("top10_share"))
  }

  /** Country × month revenue with ROLLUP subtotals (grouping-sets
    * extension — the reference computes the marginals as separate
    * queries; one rollup pass yields all three grains). */
  def caRollup(fact: DataFrame): DataFrame =
    fact.rollup(col("pays"), col("mois"))
      .agg(Tables.moneySum(col("o_totalprice")).as("ca"))
      .select(coalesce(col("pays"), lit("ALL")).as("pays"),
        coalesce(col("mois"), lit("ALL")).as("mois"), col("ca"))
      .orderBy("pays", "mois")

  /** Country × year revenue CUBE: all four grains (both, country-only,
    * year-only, grand total) in one grouping-sets pass. */
  def caCube(fact: DataFrame): DataFrame =
    fact.cube(col("pays"), col("annee"))
      .agg(Tables.moneySum(col("o_totalprice")).as("ca"))
      .select(coalesce(col("pays"), lit("ALL")).as("pays"),
        coalesce(col("annee"), lit(-1L)).as("annee"), col("ca"))
      .orderBy("pays", "annee")

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * exactly the grains a dashboard needs, here (pays, annee), (pays),
    * (annee), WITHOUT the grand total a cube would force. Still one
    * Expand + one aggregation shuffle; each omitted grain is Expand
    * output that never exists, which at 100 TB is the difference
    * between 3× and 4× the scan in flight. */
  def caGroupingSets(fact: DataFrame): DataFrame =
    fact.groupingSets(
        Seq(Seq(col("pays"), col("annee")), Seq(col("pays")), Seq(col("annee"))),
        col("pays"), col("annee"))
      .agg(Tables.moneySum(col("o_totalprice")).as("ca"))
      .select(coalesce(col("pays"), lit("ALL")).as("pays"),
        coalesce(col("annee"), lit(-1L)).as("annee"), col("ca"))
      .orderBy("pays", "annee")

  /** JSON records export (reference S7,
    * serving_mongo/publish_gold_to_mongo.py:76-81): one JSON object per
    * row via the codegen'd to_json. */
  def toJsonRecords(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("json"))

  /** Dynamic sort-spec parsing (reference O5,
    * serving_api/repository.py:15-23): "field:desc,other:asc" → sort
    * columns; unknown direction falls back to asc like the reference. */
  def parseSortSpec(spec: String): Seq[org.apache.spark.sql.Column] =
    spec.split(",").toSeq.filter(_.nonEmpty).map { part =>
      part.split(":") match {
        case Array(f, "desc") => desc(f.trim)
        case Array(f, _*) => asc(f.trim)
      }
    }

  /** Batch event sessionization (streaming-adjacent extension): sessions
    * split on >30 min inactivity per user. Two windows over the same
    * (user_id, ts) partitioning — one shuffle total — then a hash
    * aggregate on the derived session key. */
  def eventSessions(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // gap test in exact microseconds: Spark's timestampdiff(SECOND)
    // truncates the interval while DuckDB's date_diff counts boundary
    // crossings — they disagree on sub-second-aligned gaps
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > gapSeconds * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .withColumn("duration_sec",
        expr("(unix_micros(CAST(session_end AS TIMESTAMP)) - unix_micros(CAST(session_start AS TIMESTAMP))) div 1000000"))
      .select("user_id", "session_seq", "session_start", "session_end",
        "duration_sec", "n_events", "total_value")
      .orderBy("user_id", "session_seq")
  }

  /** Semi-structured extraction over the `props` JSON column: one
    * `from_json` parse per row with an EXPLICIT schema into a typed
    * struct, then an ordinary typed aggregation. The two anti-patterns
    * this shape avoids at scale: per-field `get_json_object` (re-scans
    * the JSON string once per extracted field) and schema inference
    * (a full extra pass over 100 TB before the real one starts).
    * Malformed JSON degrades to a NULL group, never a failed job. */
  def eventsPropsAgg(events: DataFrame): DataFrame =
    events
      .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
        .getField("k").as("k"),
        col("user_id"), col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("k")

  /** Hopping (sliding) window aggregate in BATCH: hourly totals
    * re-evaluated every 15 minutes — Spark's `window(ts, "1 hour",
    * "15 minutes")` expands each event into its 4 covering windows
    * row-locally (a generator, no shuffle), then one window-keyed
    * aggregation. The streaming twin is eventsHourlyStreamed's window;
    * this is the same operator over the at-rest table, e.g. for
    * backfilling a dashboard the stream maintains forward. Shuffle
    * volume is slide-ratio × events — bounded, and the window key is
    * time-uniform so no reducer hot-spots. */
  def eventsHopping(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("w_start"), col("n_events"), col("total_value"))
      .orderBy("w_start")

  /** Cumulative unique customers by month — growth accounting's "total
    * customers ever" curve, computed WITHOUT a cumulative distinct (no
    * such aggregate exists, and re-counting a growing set per month is
    * O(months · customers)): each customer contributes once at their
    * FIRST month (a key-grain min), new-per-month is a count of that
    * frame, and the running total is a window over the ~84-row month
    * series. */
  def customersCumulative(orders: DataFrame): DataFrame = {
    val first = Gold.validOrders(orders)
      .groupBy("o_custkey")
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("mois"))
    first.groupBy("mois").agg(count(lit(1)).as("n_new"))
      .withColumn("n_cumulative",
        sum("n_new").over(Window.orderBy("mois")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("mois")
  }

  /** Month-over-month customer transition accounting: per month, the
    * active / retained (also active the PRECEDING month) / new-or-
    * resurrected / churned-from-last-month split. Retention joins the
    * distinct (customer, month-index) frame to itself on mi−1 — a
    * key-grain equi-join, not a per-customer window over all history —
    * and prev-month active joins the month-grain frame on mi−1 (NOT a
    * lag, which would silently read the previous PRESENT month across a
    * gap). Identities n_active = retained + new and n_churned =
    * prev_active − retained hold by construction. */
  def customerChurnMonthly(orders: DataFrame): DataFrame = {
    // CacheOnce: act feeds THREE consumers (the per-month count and both
    // sides of the mi−1 self-join); without the cache the scan + distinct
    // shuffle run three times (the plan held 3 identical aggregate subtrees)
    val act = CacheOnce(Gold.validOrders(orders)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("mi"))
      .distinct())
    val a = act.groupBy("mi").agg(count(lit(1)).as("n_active"))
    val r = act.as("cur")
      .join(act.as("prv"),
        col("cur.o_custkey") === col("prv.o_custkey") &&
          col("prv.mi") === col("cur.mi") - 1)
      .groupBy(col("cur.mi").as("mi"))
      .agg(count(lit(1)).as("n_retained"))
    a.join(r, Seq("mi"), "left")
      .join(a.select((col("mi") + 1).as("mi"), col("n_active").as("prev_active")),
        Seq("mi"), "left")
      .na.fill(0L, Seq("n_retained", "prev_active"))
      .select(
        floor(col("mi") / 12).cast("long").as("annee"),
        (col("mi") % 12 + 1).cast("long").as("mois"),
        col("n_active"), col("n_retained"),
        (col("n_active") - col("n_retained")).as("n_new"),
        (col("prev_active") - col("n_retained")).as("n_churned"))
      .orderBy("annee", "mois")
  }

  /** Interval-OVERLAP self-join over user sessions: which user pairs
    * were active at the same time, and how often. The missing member of
    * the temporal-join family next to the point-in-range join
    * ([[clicksBeforePurchase]]) and the as-of joins: both sides are
    * INTERVALS and the predicate is symmetric overlap.
    *
    * Same bucketing discipline as the range join: each session
    * replicates into its covering hour bins, candidates pair within a
    * bin (an equi-join Catalyst can shuffle/broadcast — never a
    * cross product), the EXACT overlap predicate verifies, and a
    * distinct on the session-pair key collapses multi-bin duplicates —
    * the standard dedup every bin-replicated interval join needs.
    * Bin width trades replication (long sessions × 1/width) against
    * candidate density (concurrent sessions × width); an hour suits
    * 30-min-gap sessions. Reads an [[eventSessions]] frame, so
    * SparkEntry shares one sessionization pass between event_sessions
    * and this interval join. */
  def sessionOverlapsFrom(sessions: DataFrame, k: Int = 20): DataFrame = {
    val s = sessions
      .select(col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"))
    // cache the binned frame: it feeds BOTH sides of the interval join,
    // and exchange reuse cannot unify them (the probe side is
    // hash-partitioned on bin, the build side is a BroadcastExchange —
    // different distributions), so without the cache the whole
    // sessionization pipeline (scan -> 2 windows -> explode) runs twice
    val binned = CacheOnce(s.select(col("user_id"), col("session_seq"),
      col("session_start"), col("session_end"),
      explode(sequence(date_trunc("hour", col("session_start")),
        date_trunc("hour", col("session_end")),
        expr("interval 1 hour"))).as("bin")))
    binned.as("x").join(binned.as("y"),
        col("x.bin") === col("y.bin") &&
          col("x.user_id") < col("y.user_id") &&
          col("x.session_start") <= col("y.session_end") &&
          col("y.session_start") <= col("x.session_end"))
      .select(col("x.user_id").as("user_a"), col("x.session_seq").as("seq_a"),
        col("y.user_id").as("user_b"), col("y.session_seq").as("seq_b"))
      .distinct()
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(desc("n_overlaps"), col("user_a"), col("user_b"))
      .limit(k)
  }

  /** Sliding 6-hour distinct users, evaluated hourly — EXACT tier.
    * `window(ts, 6h, 1h)` expands each event into its 6 covering
    * windows, then a per-window exact countDistinct. Correct, and the
    * 100 TB hazard is explicit: the expansion multiplies the event
    * stream by window/slide (6×) BEFORE the distinct shuffle.
    * [[eventsSlidingUniquesApprox]] is the tier that deletes that
    * multiplier. */
  def eventsSlidingUniques(events: DataFrame): DataFrame =
    // EXACT, but pre-aggregated: collapse to the (hour, user) grain
    // FIRST — one map-side-combinable shuffle over the event stream —
    // then expand each hour-grain row into its 6 covering windows. The
    // window/slide multiplier now applies to the hour×user frame, not
    // the raw events (the same move the sketch tier makes, without
    // giving up exactness: n_events = Σ per-(hour,user) counts and
    // n_users = COUNT(DISTINCT user) are grain-invariant). The 6×
    // expansion shuffle carries (window, user, cnt) — bounded by
    // 6·|hour×user| ≪ 6·|events| whenever users average >1 event/hour.
    events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(explode(sequence(lit(0), lit(5))).as("off"),
        col("h"), col("user_id"), col("cnt"))
      .select(expr("timestampadd(HOUR, -off, h)").as("w_start"),
        col("user_id"), col("cnt"))
      .groupBy("w_start")
      .agg(sum("cnt").as("n_events"), countDistinct("user_id").as("n_users"))
      .orderBy("w_start")

  /** Sketch tier of [[eventsSlidingUniques]]: ONE pass builds an
    * hour-grain HLL++ sketch per hour (24 rows/day, each a
    * constant-size mergeable summary), then every sliding window is a
    * union of its 6 covering hour sketches — the window/slide expansion
    * moves from the EVENT stream to the HOUR-GRAIN sketch frame, so the
    * corpus is scanned exactly once however fine the slide. This is
    * also the incremental form: persist the hour sketches and a late
    * hour re-union 6 rows, not 6 hours of events. Rows-only gate +
    * StreamsSpec error bound against the exact tier.
    *
    * lgConfigK is 20, not the default 12, and that choice is
    * load-bearing for determinism: a DataSketches HLL sketch is an
    * order-independent pure function of the data only while it stays
    * in coupon (LIST/SET) mode — once promoted to dense HLL_4 the
    * HIP estimator makes the VALUE insertion-order-sensitive
    * (measured: 2.8% max delta across partition layouts at sf0.1
    * under lgK=12, where ~650-user windows crossed the k/4=1024
    * promotion threshold in the union). At lgK=20 promotion happens
    * at 262144 coupons, so every realistic per-hour cardinality
    * through the 10x scale soak stays exact and the digest golden
    * pins (its Digest canon still rounds to 3 significant digits as the
    * stated contract). Cost: a SET-mode sketch is ~4 B/coupon (a few
    * KB per hour here); the dense worst case at true 100 TB
    * cardinalities is 512 KB per hour-sketch x 24/day — noise — with
    * ~0.1% RSE instead of lgK=12's ~1.6%. */
  def eventsSlidingUniquesApprox(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"),
        hll_sketch_agg(col("user_id"), 20).as("sk"))
    hourly
      .select(explode(sequence(lit(0), lit(5))).as("off"),
        col("h"), col("n_events"), col("sk"))
      // hour h is covered by the 6 windows STARTING at h-5h … h
      .select(expr("timestampadd(HOUR, -off, h)").as("w_start"),
        col("n_events"), col("sk"))
      .groupBy("w_start")
      .agg(sum("n_events").as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users_approx"))
      .orderBy("w_start")
  }

  /** Top user journeys: the most common per-session event-type PATHS
    * (path analysis — what the transition matrix marginalizes away and
    * the funnel fixes in advance). Sessions split on the 30-min gap
    * like eventSessions, but under a (ts, event_id) ordering because
    * here order ties change the output string. The per-session path is
    * built by sorting each session's (ts, id, type) structs INSIDE the
    * aggregate — collect_list order is partition-dependent, sort_array
    * makes it deterministic — and path frequencies re-aggregate the
    * session-grain frame. */
  def sessionPaths(events: DataFrame, gapSeconds: Long = 1800,
      k: Int = 10): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tagged = events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > gapSeconds * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    tagged.groupBy("user_id", "session_seq")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        s => s("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(k)
  }

  /** First-order event-type transition matrix (Markov bigrams): per
    * user, consecutive event pairs under a deterministic (ts, event_id)
    * ordering; per (prev, next) pair the count and its share of the
    * prev-type's outgoing transitions — the sequence-model view of the
    * log that the funnel's fixed path specializes. One user-keyed window
    * pass (the same shuffle sessionization pays) and one pair-grain
    * aggregate; the share re-aggregates the PAIR frame (event-type² rows),
    * never the log. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // CacheOnce: the pair frame feeds its own totals re-aggregate AND
    // the share join — without the cache the user-keyed window pass
    // over the log runs twice
    val pairs = CacheOnce(events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n")))
    val totals = pairs.groupBy("prev_type").agg(sum("n").as("total"))
    pairs.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n") / col("total"), 6).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** Gaps-and-islands → SCD2-style validity intervals: collapse each
    * user's consecutive runs of the same event_type into
    * [valid_from, valid_to) state rows, valid_to = next state's
    * valid_from, NULL while current — the change-history shape a
    * slowly-changing dimension build emits from an event feed.
    *
    * Scale shape: ONE user-keyed exchange feeds everything. The lag +
    * running-sum windows share a (user_id | ts, event_id) sort; the
    * island aggregate groups by (user_id, state_seq), which hash
    * partitioning on user_id already clusters (subset rule — no second
    * exchange); the closing lead window repartitions nothing either.
    * PlanShapeSpec pins the single-exchange claim. */
  def userStateIntervals(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("chg",
        when(lag("event_type", 1).over(byUser).isNull ||
          lag("event_type", 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("state_seq",
        sum("chg").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "state_seq")
      // event_type is constant within an island; min() keeps the agg
      // algebraic instead of first() (order-dependent)
      .agg(min("event_type").as("state"), min("ts").as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead("valid_from", 1)
        .over(Window.partitionBy("user_id").orderBy("state_seq")))
      .select("user_id", "state_seq", "state", "valid_from", "valid_to", "n_events")
      .orderBy("user_id", "state_seq")
  }

  /** Rolling 7-day totals per event type with a RANGE frame over epoch
    * days — interval semantics over SPARSE dates: a day with no
    * predecessor still looks back 6 calendar days, where the rows-frame
    * form ([[dailyAnomalyFrom]]) would silently widen across gaps. The
    * window runs over the daily pre-aggregate (|types|×|days| rows), so
    * the per-partition frame scan is trivially small no matter the log
    * size; counts and cents both sum exactly (long), one division on
    * output. */
  def eventsRollingRange(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sum(Tables.cents(col("value"))).as("cents"))
      .withColumn("dd", datediff(col("d"), to_date(lit("1970-01-01"))))
    val w = Window.partitionBy("event_type").orderBy("dd").rangeBetween(-6, 0)
    daily
      .select(col("event_type"), col("d"), col("n"),
        round(col("cents") / 100.0, 2).as("total"),
        sum("n").over(w).as("roll_n"),
        round(sum("cents").over(w) / 100.0, 2).as("roll_total"))
      .orderBy("event_type", "d")
  }

  /** Ordered conversion funnel over the event log: first view, first
    * click AFTER that view, first purchase AFTER that click — the strict
    * event-sequence semantics (a purchase preceding the user's first
    * click does not convert), not the loose "did all three ever happen".
    *
    * Scale shape: each step is a type-filtered user-grain aggregate
    * (min-ts is algebraic — map-side combine collapses each partition to
    * one row per user before the shuffle), and the step joins are
    * user-grain ⋈ user-grain. Nothing is ever materialized at event
    * grain past the first filter, and no window funnels the log through
    * a single partition. Output: one row of step counts + conversion
    * rates. */
  def eventFunnel(events: DataFrame): DataFrame = {
    // CacheOnce on the step frames: each step feeds the NEXT step's
    // join AND its own count aggregate — without the caches every
    // downstream consumer re-runs the whole prefix of the funnel
    // (the view filter+agg ran 3x, click 2x)
    val v = CacheOnce(events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view")))
    val c = CacheOnce(events.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click")))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    val counts = v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_click"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchase")))
    // guarded: a funnel with an empty step reports NULL conversion, not
    // an ANSI divide-by-zero failure
    counts.select(col("n_view"), col("n_click"), col("n_purchase"),
      round(when(col("n_view") > 0, col("n_click") / col("n_view")), 6)
        .as("conv_click"),
      round(when(col("n_click") > 0, col("n_purchase") / col("n_click")), 6)
        .as("conv_purchase"))
  }

  /** Time-range join: for every purchase, the count of the same user's
    * clicks in the trailing `windowMin` minutes — the interval-predicate
    * join family (the third temporal join next to AsOfJoinExec's
    * nearest-match and the stream-stream attribution range join).
    *
    * A naive `p JOIN c ON user AND c.ts BETWEEN …` gives Spark only the
    * equi-key; per-user the match is a nested loop, and a power user's
    * whole history lands in one task. The scale shape here quantizes
    * time into window-sized bins: clicks take their own bin, each
    * purchase probes (bin-1, bin), and the equi-join key becomes
    * (user, bin) — any one task now holds at most two bins of one user's
    * clicks, however hot the user. A click can match at most one of the
    * two probed bins (they are distinct and the click has exactly one),
    * so no dedup pass is needed; the exact interval predicate filters
    * the bin-coarse candidates. Purchases with zero trailing clicks
    * survive via the final left join at purchase grain. */
  def clicksBeforePurchase(events: DataFrame, windowMin: Int = 60): DataFrame = {
    val winMicros = windowMin * 60L * 1000000L
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("c_us"))
      .withColumn("bin", floor(col("c_us") / winMicros))
    val probes = purchases
      .withColumn("p_us", unix_micros(col("p_ts").cast("timestamp")))
      .withColumn("bin", explode(array(
        floor(col("p_us") / winMicros) - 1, floor(col("p_us") / winMicros))))
    val matched = probes.join(clicks, Seq("user_id", "bin"))
      .filter(col("c_us") >= col("p_us") - winMicros && col("c_us") < col("p_us"))
      .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
    purchases.join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("p_ts"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("event_id")
  }

  /** Multi-touch attribution credit: every click in the hour before a
    * purchase receives a share of the purchase value under TWO models —
    * linear (value/n) and time-decay (triangular weight, fresher clicks
    * earn more). The candidate join is [[clicksBeforePurchase]]'s
    * bin-quantized range join unchanged (any one task holds at most two
    * bins of one user's clicks). Decay weights are EXACT INTEGER
    * microseconds-to-purchase (window − age + 1), so per-purchase weight
    * sums are longs and the float shares are single divisions per row —
    * no partition-order float accumulation anywhere. The share windows
    * key on the purchase id: bounded by one user's clicks-per-hour,
    * never a global partition. */
  def attributionCredit(events: DataFrame, windowMin: Int = 60): DataFrame = {
    val winMicros = windowMin * 60L * 1000000L
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("p_us"), col("value"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("c_us"))
      .withColumn("bin", floor(col("c_us") / winMicros))
    val probes = purchases.withColumn("bin", explode(array(
      floor(col("p_us") / winMicros) - 1, floor(col("p_us") / winMicros))))
    val matched = probes.join(clicks, Seq("user_id", "bin"))
      .filter(col("c_us") >= col("p_us") - winMicros && col("c_us") < col("p_us"))
      .withColumn("wi", lit(winMicros) - (col("p_us") - col("c_us")) + 1)
    val perPurchase = Window.partitionBy("event_id")
    matched
      .withColumn("n_clicks", count(lit(1)).over(perPurchase))
      .withColumn("wsum", sum("wi").over(perPurchase))
      .select(col("event_id"), col("user_id"), col("c_us"), col("n_clicks"),
        round(col("value") / col("n_clicks").cast("double"), 6).as("credit_linear"),
        round(col("value") * col("wi") / col("wsum").cast("double"), 6).as("credit_decay"))
      .orderBy("event_id", "c_us")
  }

  /** Population Stability Index between two order-amount cohorts (the
    * drift check a training pipeline runs before trusting a refreshed
    * feature snapshot): decile edges come from the BASELINE year's exact
    * `percentile` (one agg pass, driver-folded to literals — the
    * [[distributionQuantile]] discipline, so the DuckDB `quantile_cont`
    * oracle lands on bit-identical edges), both cohorts bucket against
    * those same edges map-side, and the PSI term (p_a−p_b)·ln(p_a/p_b)
    * is emitted PER BUCKET from exact counts. Buckets the comparison
    * year never hits keep a NULL term (the honest answer — the
    * ±0.5-smoothing conventions are a modeling choice, not engine
    * semantics) and the row still shows both counts. Scale shape: two
    * grouped passes over the fact column, no sort, no join wider than
    * the 10-row bucket frame. */
  def spendPsi(orders: DataFrame, yearA: Int = 1996, yearB: Int = 1997,
      buckets: Int = 10): DataFrame = {
    // CacheOnce: `a` feeds the percentile-edge action, its count, and
    // the bucket aggregate (3 scans without the cache); `b` its count
    // and aggregate
    val a = CacheOnce(orders.filter(year(col("o_orderdate")) === yearA)
      .select(col("o_totalprice").as("amount")))
    val b = CacheOnce(orders.filter(year(col("o_orderdate")) === yearB)
      .select(col("o_totalprice").as("amount")))
    val probs = (1 until buckets).map(_.toDouble / buckets)
    // percentile over an empty baseline is NULL: no edges ⇒ everything
    // lands in one catch-all bucket with NULL psi_terms (n_a=0 keeps
    // the per-bucket guard closed) — a drift monitor with no reference
    // period must report, not NPE off getSeq(null)
    val interior = Tables.doubleSeqAt(a.select(expr(
      s"percentile(amount, array(${probs.mkString(", ")}))").as("e"))
      .first(), 0)
    val bucket = interior.foldLeft(lit(0L)) { (acc, e) =>
      acc + when(col("amount") >= lit(e), 1L).otherwise(0L)
    }
    def counts(df: DataFrame, name: String) =
      df.groupBy(bucket.as("bucket")).agg(count(lit(1)).as(name))
    val (na, nb) = (a.count(), b.count())
    // bucket frame is ≤ `buckets` rows — the outer join is trivial; a
    // baseline decile can't be empty, a comparison decile can
    counts(a, "n_a").join(counts(b, "n_b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("psi_term",
        when(col("n_a") > 0 && col("n_b") > 0, round(
          (col("n_a") / lit(na.toDouble) - col("n_b") / lit(nb.toDouble)) *
            log(col("n_a") / lit(na.toDouble) / (col("n_b") / lit(nb.toDouble))),
          6)))
      .orderBy("bucket")
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the same two
    * cohorts, computed ENTIRELY in integer arithmetic: at every pooled
    * distinct amount v, D(v) = |cntA(≤v)·n_b − cntB(≤v)·n_a| — the CDF
    * gap scaled by n_a·n_b, so the running comparison never touches a
    * float and the argmax is exact. The cumulative counts use the
    * [[clientDeciles]] distributed-rank machinery (range-repartition on
    * amount, one per-partition subtotal pair collected — bounded by the
    * partition count — then partition-offset running sums), NOT the
    * single-partition window the SQL form compiles to. The argmax is a
    * TakeOrderedAndProject over the per-value gap frame. Output: the KS
    * statistic (the single float, rounded 6dp), the smallest amount
    * achieving it (deterministic argmax), and both cohort sizes. */
  def spendKs(orders: DataFrame, yearA: Int = 1996, yearB: Int = 1997): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val pooled = orders
      .filter(year(col("o_orderdate")).isin(yearA, yearB))
      .select(col("o_totalprice").as("amount"),
        when(year(col("o_orderdate")) === yearA, 1L).otherwise(0L).as("ia"),
        when(year(col("o_orderdate")) === yearB, 1L).otherwise(0L).as("ib"))
      .groupBy("amount")
      .agg(sum("ia").as("ca"), sum("ib").as("cb"))
    val sorted = CacheOnce(pooled
      .repartitionByRange(col("amount"))
      .sortWithinPartitions(col("amount"))
      .select(col("amount"), col("ca"), col("cb"))).as[(Double, Long, Long)]
    val parts = sorted.mapPartitions { it =>
      var (a, b) = (0L, 0L)
      it.foreach { case (_, ca, cb) => a += ca; b += cb }
      Iterator((org.apache.spark.TaskContext.getPartitionId(), a, b))
    }.collect().sortBy(_._1)
    val offA = parts.map(_._2).scanLeft(0L)(_ + _)
    val offB = parts.map(_._3).scanLeft(0L)(_ + _)
    val (na, nb) = (offA.last, offB.last)
    // an empty cohort leaves the KS distance undefined (the gap scale
    // n_a·n_b is 0 and the ANSI division throws) — report the cohort
    // sizes with NULL statistics, never crash: a drift monitor pointed
    // at a year with no orders is a routine empty slice
    if (na == 0L || nb == 0L)
      return spark.range(1).select(
        lit(null).cast("double").as("ks_stat"),
        lit(null).cast("double").as("at_amount"),
        lit(na).as("n_a"), lit(nb).as("n_b"))
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var (a, b) = (offA(pid), offB(pid))
      it.map { case (v, ca, cb) => a += ca; b += cb; (v, a, b) }
    }.toDF("amount", "cum_a", "cum_b")
      .withColumn("gap", abs(col("cum_a") * nb - col("cum_b") * na))
      .orderBy(desc("gap"), col("amount"))
      .limit(1)
      .select(
        round(col("gap") / lit(na.toDouble * nb), 6).as("ks_stat"),
        round(col("amount"), 2).as("at_amount"),
        lit(na).as("n_a"), lit(nb).as("n_b"))
  }
}
