package graft


import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold-layer star schema + RFM feature engineering + heuristic scoring.
  *
  * Semantics follow the reference's Spark variant
  * (reference: flows_spark/gold_transformation_spark.py) re-expressed over
  * the driver test star schema: clients → `customer`, achats → `orders`
  * (o_totalprice = montant, o_orderdate = date_achat), pays →
  * `nation.n_name` via c_nationkey, produit → `part` via lineitem.
  *
  * Scale notes (100 TB posture):
  *  - `nation` (25 rows) is explicitly broadcast; `customer` joins shuffle
  *    on the customer key — correct for a dim that is itself large.
  *  - All aggregations are hash aggs with map-side partial aggregation.
  *  - The only driver-side scalars are tiny (reference date, 6 quantile
  *    thresholds, one max) — the same two-phase constant-folding the
  *    reference uses (flows_spark/gold_transformation_spark.py:125-143).
  *  - Money sums use exact integer cents (see [[Tables.moneySum]]) so
  *    results are bit-deterministic regardless of partition order.
  */
object Gold {
  import Tables.{cents, moneySum}

  /** Trailing purchase window, reference HORIZON_DAYS
    * (flows_spark/gold_transformation_spark.py:16). */
  val HorizonDays = 365

  /** Amount upper bound (reference MAX_PURCHASE_AMOUNT=10_000 for the
    * retail data, :17). The TPC-H-ish o_totalprice ranges to ~500k, so the
    * test-schema bound is 1_000_000 — the predicate shape is the spec. */
  val MaxAmount = 1000000.0

  /** Reference date = max purchase timestamp collected to the driver
    * (reference :226 `achats.agg(F.max("date_achat")).first()`), returned
    * as a literal Column. The raw scalar is untyped: parquet
    * `timestamp[ms]` without a UTC flag surfaces as TIMESTAMP_NTZ in
    * Spark 4 (java.time.LocalDateTime), as java.sql.Timestamp
    * otherwise — `lit()` accepts both, and `lit()` on the returned
    * Column is identity, so downstream `lit(ref)` call sites work
    * unchanged.
    *
    * Empty/all-null orders → a NULL literal CAST TO THE SOURCE COLUMN
    * TYPE (an untyped `lit(null)` is NullType, which fails
    * `o_orderdate >= NULL - INTERVAL …` analysis with
    * DATATYPE_MISMATCH). The typed NULL makes every trailing-window
    * predicate evaluate to NULL → all rows filtered → downstream frames
    * empty: an empty slice degrades to an empty report instead of
    * crashing the job. */
  def referenceDate(orders: DataFrame): Column = {
    val ts = orders.agg(max("o_orderdate")).first().get(0)
    if (ts == null) lit(null).cast(orders.schema("o_orderdate").dataType)
    else lit(ts)
  }

  /** Gold-entry amount guard (reference :225). */
  def validOrders(orders: DataFrame): DataFrame =
    orders.filter(col("o_totalprice") > 0 && col("o_totalprice") <= MaxAmount)

  /** fact_achats (reference build_fact, :28-46): one row per order,
    * enriched with country, day/month/year keys. Left join keeps orphan
    * orders with pays='Inconnu'. */
  def buildFact(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    validOrders(orders)
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderdate"),
        col("o_totalprice"),
        coalesce(col("n_name"), lit("Inconnu")).as("pays"),
        to_date(col("o_orderdate")).as("jour"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mois"),
        year(col("o_orderdate")).cast("long").as("annee"))

  /** dim_clients (reference build_dim_clients, :49-81): one row per
    * customer with lifetime purchase stats. product_count = distinct parts
    * bought (produit analog) via the lineitem line grain. */
  def dimClients(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      ref: Any): DataFrame = {
    val o = validOrders(orders)
    val agg = o.groupBy(col("o_custkey").as("c_custkey")).agg(
      min("o_orderdate").as("first_purchase"),
      max("o_orderdate").as("last_purchase"),
      count("o_orderkey").as("total_orders"),
      moneySum(col("o_totalprice")).as("total_spend"))
    // explicit narrow projection BEFORE the line-grain join: only the
    // join key and the grouping key travel through the 4|L|-row exchange.
    // Catalyst's column pruning does not fully recover this through the
    // validity filter + join (measured 1.7s vs 1.1s isolated at sf0.1 —
    // Profile 'dim'), and at 100 TB the delta is the whole orders row
    // width times the lineitem multiplicity
    val parts = o.select("o_orderkey", "o_custkey")
      .join(lineitem.select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("pc_custkey"))
      .agg(countDistinct("l_partkey").as("product_count"))
    customer.select("c_custkey", "c_name", "c_nationkey")
      .join(agg, Seq("c_custkey"), "left")
      .join(parts, col("c_custkey") === col("pc_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        col("first_purchase"), col("last_purchase"),
        coalesce(datediff(lit(ref).cast("date"), col("last_purchase").cast("date")),
          lit(HorizonDays)).cast("long").as("recency_days"),
        coalesce(datediff(lit(ref).cast("date"), col("first_purchase").cast("date")),
          lit(0)).cast("long").as("tenure_days"),
        coalesce(col("total_orders"), lit(0L)).as("total_orders"),
        coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
        // unrounded: exact-cents sum / count is bit-deterministic in both
        // engines, while round(x, 2) can straddle a .005 boundary when the
        // 2dp sum divides evenly (e.g. sum/2 = ….795)
        when(coalesce(col("total_orders"), lit(0L)) > 0,
          col("total_spend") / col("total_orders"))
          .otherwise(lit(0.0)).as("avg_order_value"),
        coalesce(col("product_count"), lit(0L)).as("product_count"))
  }

  /** client_features (reference build_features, :84-122): trailing-365d
    * RFM window metrics + all-time metrics per purchasing customer.
    *
    * One conditional-aggregation pass computes both the windowed and the
    * all-time metrics (the reference — and a naive port — runs two
    * groupBys plus a distinct plus two joins over the same fact; this is
    * a single shuffle on the customer key). Only the product-diversity
    * metric needs a second shuffle, via the lineitem line grain. */
  def clientFeatures(orders: DataFrame, lineitem: DataFrame, ref: Any): DataFrame = {
    val o = validOrders(orders)
    val winStart = lit(ref) - expr(s"INTERVAL $HorizonDays DAYS")
    val inWin = col("o_orderdate") >= winStart

    val perCust = o.groupBy(col("o_custkey").as("c_custkey")).agg(
      count(when(inWin, lit(1))).as("freq_12m"),
      (sum(when(inWin, cents(col("o_totalprice")))) / 100.0).as("monetary_12m"),
      (sum(when(inWin, cents(col("o_totalprice")))) / 100.0 /
        count(when(inWin, lit(1)))).as("monetary_avg_12m"),
      max(when(inWin, col("o_orderdate"))).as("last_purchase"),
      min(when(inWin, col("o_orderdate"))).as("first_purchase"),
      count("o_orderkey").as("total_orders_all"),
      moneySum(col("o_totalprice")).as("total_spend_all"))

    val diversity = o.filter(inWin)
      .join(lineitem.select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("d_custkey"))
      .agg(countDistinct("l_partkey").as("product_diversity_12m"))

    perCust
      .join(diversity, col("c_custkey") === col("d_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("freq_12m"), lit(0L)).as("freq_12m"),
        coalesce(col("monetary_12m"), lit(0.0)).as("monetary_12m"),
        coalesce(col("monetary_avg_12m"), lit(0.0)).as("monetary_avg_12m"),
        coalesce(col("product_diversity_12m"), lit(0L)).as("product_diversity_12m"),
        col("last_purchase"), col("first_purchase"),
        when(col("last_purchase").isNotNull,
          datediff(lit(ref).cast("date"), col("last_purchase").cast("date")))
          .otherwise(lit(HorizonDays)).cast("long").as("recency_days"),
        when(col("first_purchase").isNotNull,
          datediff(lit(ref).cast("date"), col("first_purchase").cast("date")))
          .otherwise(lit(0)).cast("long").as("tenure_days"),
        col("total_orders_all"),
        col("total_spend_all"),
        when(col("total_orders_all") > 0,
          col("total_spend_all") / col("total_orders_all"))
          .otherwise(lit(0.0)).as("avg_order_value_all"),
        lit(ref).as("reference_date"))
  }

  /** Driver-collected exact-percentile thresholds for scoring.
    * Reference uses approxQuantile(rel.err=0.01) (:125-133); we use exact
    * `percentile` so the DuckDB oracle (`quantile_cont`) agrees. Falsy
    * fallbacks mirror the reference's `or` defaults (:135-140). */
  case class ScoreThresholds(freq75: Double, freq95: Double, mon75: Double,
      mon95: Double, rec25: Double, rec75: Double, maxDiv: Double)

  def scoreThresholds(features: DataFrame): ScoreThresholds =
    thresholdsVia(features, (c, ps) => s"percentile($c, array($ps))")

  /** [[scoreThresholds]] through the t-digest sketch — which is BOTH what
    * the reference actually calls (approxQuantile rel.err 0.01,
    * gold_transformation_spark.py:125-133; our exact `percentile` exists
    * so the DuckDB oracle can agree bit-for-bit) and the 100 TB path:
    * exact percentile buffers every value on one reducer, the sketch is
    * fixed-size and mergeable map-side. Inputs cast to double because
    * approx_percentile preserves integer input types. Drives
    * client_scores_approx (rows-only; spec bounds segment disagreement
    * against the exact thresholds). */
  def scoreThresholdsApprox(features: DataFrame,
      accuracy: Int = 10000): ScoreThresholds =
    thresholdsVia(features,
      (c, ps) => s"approx_percentile(CAST($c AS DOUBLE), array($ps), $accuracy)")

  private def thresholdsVia(features: DataFrame,
      pct: (String, String) => String): ScoreThresholds = {
    val r = features.agg(
      expr(pct("freq_12m", "0.75, 0.95")),
      expr(pct("monetary_12m", "0.75, 0.95")),
      expr(pct("recency_days", "0.25, 0.75")),
      max("product_diversity_12m")).first()
    def arr(i: Int): Seq[Double] =
      Tables.doubleSeqAt(r, i, Seq(Double.NaN, Double.NaN))
    def orElse(v: Double, d: Double): Double = if (v.isNaN || v == 0.0) d else v
    val Seq(f75, f95) = arr(0)
    val Seq(m75raw, m95raw) = arr(1)
    val Seq(r25, r75) = arr(2)
    val freq95 = orElse(f95, 1.0)
    val mon95 = orElse(m95raw, 1.0)
    ScoreThresholds(
      freq75 = orElse(f75, freq95),
      freq95 = freq95,
      mon75 = orElse(m75raw, mon95),
      mon95 = mon95,
      rec25 = orElse(r25, HorizonDays / 4.0),
      rec75 = orElse(r75, HorizonDays.toDouble),
      maxDiv = if (r.isNullAt(3)) 1.0 else math.max(r.getLong(3).toDouble, 1.0))
  }

  /** client_scores (reference score_clients, :130-188): clipped-normalized
    * RFM-weighted repurchase propensity + expected value / value at risk +
    * 5-way segmentation. Thresholds arrive as driver-folded literals —
    * the reference's two-phase shape. */
  def scoreClients(features: DataFrame, t: ScoreThresholds): DataFrame = {
    val freqNorm = if (t.freq95 > 0)
      least(col("freq_12m"), lit(t.freq95)) / lit(t.freq95) else lit(0.0)
    val recNorm = lit(1.0) - (least(col("recency_days"), lit(HorizonDays.toDouble)) / lit(HorizonDays.toDouble))
    val monNorm = if (t.mon95 > 0)
      least(col("monetary_12m"), lit(t.mon95)) / lit(t.mon95) else lit(0.0)
    val divNorm = if (t.maxDiv > 0)
      col("product_diversity_12m") / lit(t.maxDiv) else lit(0.0)
    val prob = lit(0.45) * freqNorm + lit(0.30) * recNorm +
      lit(0.15) * monNorm + lit(0.10) * divNorm
    val monthsActive = least(greatest(col("tenure_days") / lit(30.0), lit(1.0)),
      lit(HorizonDays / 30.0))
    val expectedValue = col("monetary_12m") / monthsActive * lit(12.0) * col("prob_reachat_12m")
    val valueAtRisk = col("monetary_12m") * (lit(1.0) - col("prob_reachat_12m"))
    // first-match-wins clause order is semantics (reference :180-187)
    val segment =
      when(col("prob_reachat_12m") >= 0.65 && col("monetary_12m") >= t.mon75, "VIP")
        .when(col("prob_reachat_12m") >= 0.55 && col("recency_days") <= t.rec25, "Actifs")
        .when(col("monetary_12m") >= t.mon75 && col("recency_days") > t.rec75, "A relancer")
        .when(col("freq_12m") <= math.max(1.0, t.freq75 * 0.5) && col("recency_days") > t.rec75, "Dormants")
        .otherwise("A potentiel")
    features
      .withColumn("prob_reachat_12m", round(prob, 6))
      .withColumn("months_active", monthsActive)
      .withColumn("expected_value_12m", round(expectedValue, 2))
      .withColumn("value_at_risk_12m", round(valueAtRisk, 2))
      .withColumn("segment_label", segment)
      .select("c_custkey", "freq_12m", "monetary_12m", "monetary_avg_12m",
        "product_diversity_12m", "recency_days", "tenure_days",
        "total_orders_all", "total_spend_all",
        "prob_reachat_12m", "expected_value_12m", "value_at_risk_12m",
        "segment_label")
  }

  /** segment_summary (reference summarize_segments, :191-203). Exact
    * `median` (Spark ≥3.4) instead of the reference's percentile_approx so
    * the oracle matches. */
  def segmentSummary(scored: DataFrame): DataFrame =
    scored.groupBy("segment_label").agg(
      count("c_custkey").as("clients"),
      round(sum("monetary_12m"), 2).as("ca_12m"),
      round(sum("expected_value_12m"), 2).as("expected_value_12m"),
      round(sum("value_at_risk_12m"), 2).as("value_at_risk_12m"),
      median(col("freq_12m")).as("freq_med"),
      median(col("recency_days")).as("recency_med"))
      .orderBy("segment_label")

  /** ca_monthly / ca_country / ca_product (reference aggregate_sales,
    * :206-210). Country needs the customer→nation join; product needs the
    * lineitem line grain (ca = extendedprice). */
  def caMonthly(fact: DataFrame): DataFrame =
    fact.groupBy("mois").agg(moneySum(col("o_totalprice")).as("ca")).orderBy("mois")

  /** Distinct (customer, part) co-purchase pairs, parity-encoded into
    * one node-id space (even = customer·2, odd = part·2+1) — the shared
    * bipartite frame both graph queries walk ([[productRankFrom]],
    * [[copurchaseDistanceFrom]]); SparkEntry memoizes it so the line-grain
    * join + distinct runs once per session. */
  def copurchasePairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    validOrders(orders).select("o_orderkey", "o_custkey")
      .join(lineitem.select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_partkey") * 2 + 1).as("p"))
      .distinct()

  /** Product importance by co-purchase random walk: PageRank over the
    * customer—part bipartite graph (edges = distinct (customer, part)
    * purchase pairs, both directions, so the walk alternates sides and
    * no node dangles). A product ranks high when bought by customers who
    * buy broadly — the standard graph signal the plain frequency top-k
    * ([[Serving.topClients]]-style counting) cannot see. Node ids embed
    * the side in the low bit (cust = 2k, part = 2k+1) so the two key
    * spaces cannot collide. Oracle-checked: the 5 fixed power-iteration
    * rounds are restated as unrolled DuckDB CTEs and compared on
    * 9dp-rounded ranks (constants forced to DOUBLE on the SQL side so
    * both engines damp by the same `1 - 0.85` double; measured minimum
    * distance of any rank to the 9dp grid is ~4e-14, ~400x the
    * cross-engine sum-order noise) + GraphSpec reference-value and
    * mass-conservation pins. */
  def productRankFrom(cp: DataFrame, k: Int = 50, iters: Int = 5,
      roundProbe: DataFrame => Unit = _ => ()): DataFrame = {
    val edges = cp.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(cp.select(col("p").as("src"), col("c").as("dst")))
    // preDeduped: cp is distinct and the parity encoding makes the two
    // union branches disjoint (even->odd vs odd->even src)
    Graph.pageRank(edges, iters, bothDirectionsEmitted = true,
        preDeduped = true, roundProbe = roundProbe)
      .filter(pmod(col("id"), lit(2)) === 1)
      .select(((col("id") - 1) / 2).cast("long").as("p_partkey"),
        round(col("rank"), 9).as("rank"))
      .orderBy(desc("rank"), col("p_partkey"))
      .limit(k)
  }

  /** Mergeable per-month partial for [[caMonthly]]: revenue kept as an
    * exact integer-cents SUM — the representation that merges
    * associatively (sum of sums), so partials computed at different times
    * over disjoint order slices combine into the same result as one full
    * pass, bit-for-bit, in any merge order. The reference refreshes gold
    * by re-running the whole pipeline (tools/run.py:131-146); this is the
    * shape that replaces that at scale. */
  def caMonthlyPartial(orders: DataFrame): DataFrame =
    validOrders(orders)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mois"))
      .agg(sum(Tables.cents(col("o_totalprice"))).as("ca_cents"))

  /** Incremental refresh of [[caMonthly]]: the union of a PERSISTED
    * partial (aggregated once, up to the last refresh cutoff) and a
    * delta partial (orders at/after the cutoff) re-aggregated at the
    * month grain. Refresh cost is the delta scan plus ~|months| rows —
    * the historical fact is never rescanned, which is the only refresh
    * shape that survives a 100 TB fact table growing daily. Months that
    * straddle the cutoff merge correctly because the partial is a sum,
    * not a final average/ratio. */
  def caMonthlyFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy("mois").agg(sum("ca_cents").as("ca_cents"))
      .select(col("mois"), (col("ca_cents") / 100.0).as("ca"))
      .orderBy("mois")

  /** Monthly revenue for ONE year, meant to run against the
    * `annee`-partitioned fact SINK (Pipeline.run writes fact_achats
    * partitionBy("annee") for exactly this): the `annee = year` predicate
    * is a partition filter, so the scan lists and reads only that year's
    * directory — at 100 TB the other ~6/7ths of the fact table are never
    * opened. PruningSpec gates this with a files-read metric (static
    * pruning) and a dynamicpruning variant (join-driven DPP). */
  def yearSlice(fact: DataFrame, year: Int): DataFrame =
    fact.filter(col("annee") === year)
      .groupBy("mois")
      .agg(moneySum(col("o_totalprice")).as("ca"),
        count(lit(1)).as("n_orders"))
      .orderBy("mois")

  def caCountry(fact: DataFrame): DataFrame =
    fact.groupBy("pays").agg(moneySum(col("o_totalprice")).as("ca"))
      .orderBy(desc("ca"), col("pays"))

  /** [[caCountry]] through the two-stage salted aggregation
    * ([[Skew.saltedSum]]) — the hot-key plan as a first-class query, not
    * just a SkewSpec pattern: stage 1 shuffles on (pays, salt) so a
    * country holding half the fact table spreads over 16 reducers'
    * partial sums; stage 2 merges the 16 tiny partials per key. Exact
    * integer cents make the two-stage sum bit-equal to the direct
    * groupBy in any partition order — hence the SAME oracle as
    * ca_country. (Partial aggregation already absorbs most skew for
    * algebraic sums; the salt is the pattern for when the FINAL merge
    * of a hot key is itself the bottleneck — count-distinct states,
    * collect-style aggregates, extreme cardinality ratios.) */
  def caCountrySalted(fact: DataFrame, salts: Int = 16): DataFrame =
    Skew.saltedSum(fact, "pays", Tables.cents(col("o_totalprice")), salts, "cents")
      .select(col("pays"), (col("cents") / 100.0).as("ca"))
      .orderBy(desc("ca"), col("pays"))

  def caProduct(orders: DataFrame, lineitem: DataFrame, part: DataFrame): DataFrame =
    validOrders(orders).select("o_orderkey")
      .join(lineitem.select("l_orderkey", "l_partkey", "l_extendedprice"),
        col("o_orderkey") === col("l_orderkey"))
      .join(part.select("p_partkey", "p_name"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name").as("produit"))
      .agg(moneySum(col("l_extendedprice")).as("ca"))
      .orderBy(desc("ca"), col("produit"))

  /** Line-grain pricing summary (TPC-H Q1 shape over the lineitem table):
    * multi-aggregate scan with derived-expression sums. Derived money
    * products are aggregated in exact scaled integers (4dp for
    * price×(1−disc), 6dp with tax) — same determinism discipline as
    * [[Tables.moneySum]]. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long")) / 10000.0).as("sum_disc_price"),
        (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 1000000).cast("long")) / 1000000.0).as("sum_charge"),
        (sum(cents(col("l_quantity"))) / 100.0 / count(lit(1))).as("avg_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0 / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue by region — the full dimension chain
    * orders ⟕ customer ⟕ nation ⟕ region (broadcast snowflake). */
  def caRegion(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    validOrders(orders)
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy(coalesce(col("r_name"), lit("Inconnu")).as("region"))
      .agg(moneySum(col("o_totalprice")).as("ca"))
      .orderBy(desc("ca"), col("region"))

  /** Per-group top-k: the 3 best-selling products inside EACH region —
    * the window-rank shape, distinct from the global top-k
    * (TakeOrderedAndProject) the serving queries use. The aggregation
    * reduces to (region, product) grain FIRST, so the rank window
    * partitions a frame that is already dim-sized — never the line
    * grain — and the k-filter drops everything else before the
    * presentation sort. row_number with a product tie-break (not rank)
    * keeps the cut deterministic when revenues tie. */
  def topProductsPerRegion(orders: DataFrame, lineitem: DataFrame,
      part: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byProduct = validOrders(orders)
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(part.select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy(coalesce(col("r_name"), lit("Inconnu")).as("region"),
        col("p_name").as("produit"))
      .agg(moneySum(col("l_extendedprice")).as("ca"))
    byProduct
      .withColumn("rang", row_number().over(
        Window.partitionBy("region").orderBy(desc("ca"), col("produit"))))
      .filter(col("rang") <= k)
      .orderBy("region", "rang")
  }

  /** Revenue by supplier nation — line grain through the supplier dim.
    * `supplier` carries NO broadcast hint: it is SF-proportional (10k rows
    * per TPC-H SF → ~10⁹ rows at the 100 TB posture), so a forced hint
    * would override the planner's size check and OOM at scale. At test
    * scale the STATIC planner still broadcasts it — the parquet scan's
    * size estimate sits under autoBroadcastJoinThreshold — so the initial
    * executedPlan already shows BroadcastHashJoin (PlanShapeSpec pins
    * exactly that pre-execution plan; AQE would only add a runtime
    * conversion if the static estimate were missing). At 100 TB it
    * degrades gracefully to a shuffled hash join on the 8-byte suppkey.
    * `nation` (25 rows, bounded) keeps the hint. */
  def caSupplierNation(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame =
    lineitem.select("l_suppkey", "l_extendedprice")
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("supplier_nation"))
      .agg(moneySum(col("l_extendedprice")).as("ca"))
      .orderBy(desc("ca"), col("supplier_nation"))

  /** cohort_first_purchase (reference build_cohort, :213-220). Window-min
    * instead of the reference's groupBy+self-join — same result, one
    * shuffle fewer. */
  def cohort(fact: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
    fact.withColumn("first_purchase_month",
        date_format(min("o_orderdate").over(w), "yyyy-MM"))
      .groupBy("first_purchase_month")
      .agg(countDistinct("o_custkey").as("clients"),
        moneySum(col("o_totalprice")).as("ca"))
      .orderBy("first_purchase_month")
  }

  /** Cohort retention matrix — [[cohort]]'s follow-through: for each
    * acquisition month, how many of its clients come back 1, 2, …
    * `maxOffset` months later. The cohort key rides the same
    * window-min-per-client idiom as [[cohort]] (one shuffle on the
    * client key, no self-join); both sides of the offset are
    * month-truncated, so `months_between` is exact whole months. The
    * output is the classic retention triangle a growth dashboard plots. */
  def cohortRetention(orders: DataFrame, maxOffset: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = validOrders(orders)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("md"))
    val withCohort = o.withColumn("cd",
      min("md").over(Window.partitionBy("o_custkey")))
    withCohort
      .withColumn("month_offset", months_between(col("md"), col("cd")).cast("long"))
      .filter(col("month_offset") <= maxOffset)
      .groupBy(date_format(col("cd"), "yyyy-MM").as("cohort"), col("month_offset"))
      .agg(countDistinct("o_custkey").as("active_clients"))
      .orderBy("cohort", "month_offset")
  }

  /** [[cohortRetention]] reshaped wide — the PIVOT operator: one row per
    * cohort, one column per month offset (m0..m12), the triangle a
    * dashboard renders directly. The offset values are passed
    * EXPLICITLY: `pivot(col)` without values runs an extra distinct
    * pass over the data to discover the columns, and an unbounded
    * discovered set can blow the schema up at scale — a fixed horizon
    * is both the business contract and the safe plan (one aggregation,
    * no discovery job). Zero-filled like any retention report: an
    * absent (cohort, offset) cell means nobody came back, not null. The
    * reshape is pure: SparkEntry feeds the session-shared triangle so
    * pivot and melt share one window-min pass. */
  def cohortRetentionPivotFrom(retention: DataFrame, maxOffset: Int = 12): DataFrame =
    retention
      .groupBy("cohort")
      .pivot("month_offset", (0 to maxOffset).map(Integer.valueOf))
      .sum("active_clients")
      .na.fill(0L)
      .select(col("cohort") +: (0 to maxOffset).map(i => col(s"$i").as(s"m$i")): _*)
      .orderBy("cohort")

  /** The inverse reshape — UNPIVOT/melt: the wide triangle back to the
    * long (cohort, offset, count) grain. Melting is a zero-shuffle
    * per-row expansion (each wide row yields 13 long rows map-side);
    * dropping the zero-filled cells restores exactly
    * [[cohortRetention]]'s sparse output, which is what hash-checks
    * this query against the SAME oracle — a machine-checked proof the
    * two reshapes are mutual inverses. Takes a prebuilt
    * [[cohortRetention]] frame. */
  def cohortRetentionMeltFrom(retention: DataFrame, maxOffset: Int = 12): DataFrame =
    cohortRetentionPivotFrom(retention, maxOffset)
      .unpivot(Array(col("cohort")),
        (0 to maxOffset).map(i => col(s"m$i")).toArray,
        "off", "active_clients")
      .filter(col("active_clients") > 0)
      .select(col("cohort"),
        substring(col("off"), 2, 8).cast("long").as("month_offset"),
        col("active_clients"))
      .orderBy("cohort", "month_offset")

  /** Distinct (order, part) basket lines — the frame under the whole
    * co-occurrence family. Cache it: it feeds BOTH sides of the pair
    * self-join, the order count, and the per-item frequencies (join
    * sides get no automatic CSE). */
  def orderItems(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()

  /** Part-pair co-occurrence counts (p1 < p2, together = #shared
    * baskets) — the ONE basket self-join the market-basket query and
    * the triangle edge set both consume: basket_pairs filters it on
    * support, copurchase_triangles takes its keys as the undirected
    * edge set. A session memoizes it so the quadratic-in-basket-size
    * expansion runs once, not per query. */
  def itemCooccurrenceFrom(items: DataFrame): DataFrame =
    items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("together"))

  /** Market-basket association: part pairs bought together in the same
    * order, scored by lift = P(A,B) / (P(A)·P(B)). Pair generation is
    * the per-basket self-join on the order key — quadratic only in the
    * BASKET size (single-digit line counts), never in the catalog, and
    * it shuffles 8-byte part keys. `minSupport` prunes the long noise
    * tail before the frequency joins; the order total is the one driver
    * scalar (same two-phase shape as the scoring thresholds). Lift > 1
    * = bought together more than chance — the cross-sell signal. The
    * [[orderItems]] / [[itemCooccurrenceFrom]] frames are arguments
    * (what SparkEntry feeds from its shared memos).
    *
    * Support prune (anti-monotonicity): together(p1,p2) ≤ min(freq(p1),
    * freq(p2)), so an item in fewer than `minSupport` baskets can never be
    * in a surviving pair — it can be dropped from the self-join INPUT (the
    * quadratic stage), not just filtered from its output. On a Zipf-shaped
    * open-web catalog the sub-support tail is most of the vocabulary, so
    * the prune collapses the pair expansion; on a head-heavy catalog like
    * TPC-H it is a measured no-op (zero sub-support parts at every test
    * SF), so the branch is ADAPTIVE: one count on the part-grain frequency
    * frame (needed downstream for the lift denominators anyway) decides,
    * and the no-tail path keeps the session-shared co-occurrence frame
    * with no extra join. Lossless either way — the pruned pipeline's
    * output is provably identical (GoldProps fuzzes the equality on
    * tailed random baskets); lift denominators stay the UNPRUNED corpus
    * frequencies by definition. */
  def basketPairsFrom(items: DataFrame, cooc: DataFrame,
      minSupport: Long = 3, k: Int = 20): DataFrame = {
    val nOrders = items.select("ok").distinct().count()
    val freq = CacheOnce(items.groupBy(col("p")).agg(count(lit(1)).as("n")))
    val nRare = freq.filter(col("n") < minSupport).count()
    val pairsSrc =
      if (nRare == 0L) cooc
      else itemCooccurrenceFrom(items.join(
        freq.filter(col("n") >= minSupport).select("p"), Seq("p"), "left_semi"))
    val pairs = pairsSrc.filter(col("together") >= minSupport)
    pairs
      .join(freq.select(col("p").as("p1"), col("n").as("n1")), Seq("p1"))
      .join(freq.select(col("p").as("p2"), col("n").as("n2")), Seq("p2"))
      .select(col("p1"), col("p2"), col("together"),
        round(col("together").cast("double") * nOrders / (col("n1") * col("n2")), 6)
          .as("lift"))
      .orderBy(desc("lift"), col("p1"), col("p2"))
      .limit(k)
  }

  /** Single-source BFS over the customer—part co-purchase graph (the
    * same parity-encoded bipartite frame productRankFrom walks), seeded at
    * the smallest part node: "how many hops of shared purchasing
    * separate every customer/product from this product". The
    * oracle-checked member of the iterative-graph family —
    * [[Graph.bfsDistances]] against DuckDB's depth-bounded recursive
    * CTE, exact distances, no float tolerance. */
  def copurchaseDistanceFrom(cp: DataFrame, maxDepth: Int = 10): DataFrame = {
    val edges = cp.select(col("c").as("a"), col("p").as("b"))
      .unionByName(cp.select(col("p").as("a"), col("c").as("b")))
    val seedRow = cp.agg(min("p")).head()
    // no co-purchase pairs → no seed → no reachable nodes: empty report
    // (BFS from a nonexistent node is the empty frontier, not an error)
    if (seedRow.isNullAt(0))
      return cp.sparkSession.range(0).select(lit("").as("kind"),
        lit(0L).as("node_key"), lit(0).as("dist"))
    val seed = seedRow.getLong(0)
    Graph.bfsDistances(edges, seed, maxDepth)
      .select(
        when(pmod(col("node"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("part")).as("kind"),
        when(pmod(col("node"), lit(2)) === 0, col("node") / 2)
          .otherwise((col("node") - 1) / 2).cast("long").as("node_key"),
        col("dist"))
      .orderBy("dist", "kind", "node_key")
  }

  private def yearCustomers(orders: DataFrame, y: Int) =
    validOrders(orders).filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()

  /** Customer-set overlap between two order years — the set-operation
    * family (INTERSECT / EXCEPT semantics), in the fused one-pass shape:
    * both years scanned once, per-customer membership flags from a
    * single customer-keyed aggregate, set cardinalities as conditional
    * sums of those flags. ONE shuffle total; the naive intersect+except²
    * formulation scans the fact three times and runs three semi/anti
    * join shuffles for the same four numbers.
    * [[customerOverlapSets]] IS that formulation, kept as the
    * operator-level proof that Spark's Intersect/Except rewrite produces
    * identical results (same oracle). */
  def customerOverlap(orders: DataFrame, y1: Int = 1995, y2: Int = 1996): DataFrame =
    validOrders(orders)
      .filter(year(col("o_orderdate")).isin(y1, y2))
      .groupBy("o_custkey")
      .agg(max(when(year(col("o_orderdate")) === y1, 1L).otherwise(0L)).as("in1"),
        max(when(year(col("o_orderdate")) === y2, 1L).otherwise(0L)).as("in2"))
      // coalesce: a global sum over an EMPTY frame is NULL — the
      // empty-input row must be zeros (with NULL jaccard), not nulls
      .agg(coalesce(sum(col("in1") * col("in2")), lit(0L)).as("n_both"),
        coalesce(sum(col("in1") * (lit(1L) - col("in2"))), lit(0L)).as("n_only_first"),
        coalesce(sum(col("in2") * (lit(1L) - col("in1"))), lit(0L)).as("n_only_second"))
      .select(col("n_both"), col("n_only_first"), col("n_only_second"),
        overlapJaccard)

  /** [[customerOverlap]] through Dataset.intersect / Dataset.except —
    * Catalyst rewrites them to left-semi / left-anti joins over the
    * distinct key sets. Three fact scans and three join shuffles for the
    * same row: correct, operator-complete, and deliberately NOT the
    * scale shape (the doc on [[customerOverlap]] is the design note). */
  def customerOverlapSets(orders: DataFrame, y1: Int = 1995, y2: Int = 1996): DataFrame = {
    val a = yearCustomers(orders, y1)
    val b = yearCustomers(orders, y2)
    a.intersect(b).agg(count(lit(1)).as("n_both"))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_only_first")))
      .crossJoin(b.except(a).agg(count(lit(1)).as("n_only_second")))
      .select(col("n_both"), col("n_only_first"), col("n_only_second"),
        overlapJaccard)
  }

  /** Jaccard of the two year-sets, NULL when both are empty — 0/0 is
    * undefined, and under ANSI mode (Spark 4's default) the unguarded
    * division THROWS on an empty-input frame instead of returning a
    * row. Found by EventsProps' customerOverlap property when a sample
    * drew no valid orders in either year — an aggregate over an empty
    * frame must degrade to a row of zeros, never crash. (The matrix and
    * n-gram Jaccard variants divide by unions that are structurally
    * ≥ 1 whenever their row exists.) */
  private def overlapJaccard: Column = {
    val denom = col("n_both") + col("n_only_first") + col("n_only_second")
    round(when(denom =!= 0, col("n_both") / denom), 6).as("jaccard")
  }

  /** The whole year×year overlap MATRIX in one pass — the pairwise
    * generalization of [[customerOverlap]]: ONE self-join of the
    * distinct (customer, year) frame on the customer key emits every
    * co-active year pair per customer (y1 &lt; y2, each pair once);
    * aggregating that gives all |A∩B| cells simultaneously, and the
    * per-year totals close the Jaccards by inclusion-exclusion. Running
    * the 2-year operator per pair would scan the fact table
    * O(|years|²) times; this is one scan + one key-grain self-join —
    * the co-occurrence-matrix shape (same algebra as basket_pairs, on
    * the time axis). */
  def customerOverlapMatrix(orders: DataFrame): DataFrame = {
    // CacheOnce: yc feeds the per-year totals and BOTH sides of the
    // customer-key self-join — without the cache the scan + distinct
    // shuffle run three times (same move as customerChurnMonthly)
    val yc = CacheOnce(validOrders(orders)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .distinct())
    val totals = yc.groupBy("yr").agg(count(lit(1)).as("n"))
    yc.as("a").join(yc.as("b"),
        col("a.o_custkey") === col("b.o_custkey") && col("a.yr") < col("b.yr"))
      .groupBy(col("a.yr").as("y1"), col("b.yr").as("y2"))
      .agg(count(lit(1)).as("n_both"))
      .join(totals.select(col("yr").as("y1"), col("n").as("n1")), "y1")
      .join(totals.select(col("yr").as("y2"), col("n").as("n2")), "y2")
      .select(col("y1"), col("y2"), col("n1"), col("n2"), col("n_both"),
        round(col("n_both") / (col("n1") + col("n2") - col("n_both")), 6)
          .as("jaccard"))
      .orderBy("y1", "y2")
  }

  /** Sketch tier of [[customerOverlap]]: one HLL++ sketch per year from
    * a single scan, |A∩B| by inclusion-exclusion over the mergeable
    * union sketch. Constant memory per year regardless of customer
    * count, and the per-year sketches are exactly what an incremental
    * refresh persists (the kpis_incremental pattern) — overlap between
    * ANY two stored segments then costs two sketch unions, no rescan.
    * Gated rows-only + a GoldSpec relative-error bound vs the exact
    * tier (inclusion-exclusion compounds the ~1.6% HLL error). */
  def customerOverlapApprox(orders: DataFrame, y1: Int = 1995, y2: Int = 1996): DataFrame =
    validOrders(orders)
      .filter(year(col("o_orderdate")).isin(y1, y2))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      .agg(
        max(when(col("yr") === y1, hll_sketch_estimate(col("sk")))).as("n_first"),
        max(when(col("yr") === y2, hll_sketch_estimate(col("sk")))).as("n_second"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_union"))
      .select(col("n_first"), col("n_second"), col("n_union"),
        greatest(col("n_first") + col("n_second") - col("n_union"), lit(0L))
          .as("n_both_approx"))

  // ------------------------------------------------------------ batch MERGE

  /** Batch MERGE INTO semantics — the row-level upsert/delete every
    * warehouse maintenance job needs and the reference only has in its
    * Mongo upsert sink (load_to_mongo.py:38-52, `replace_one(upsert=
    * True)`): apply a keyed changeset to a base snapshot in ONE pass.
    *
    *   - matched  + op U → UPDATE (here accumulate: base + delta — any
    *     WHEN MATCHED expression slots into the same frame)
    *   - matched  + op D → DELETE
    *   - unmatched + op U → INSERT
    *   - unmatched + op D → no-op (delete of an absent key)
    *
    * Shape: one full-outer join on the merge key. Both inputs arrive
    * aggregated BY that key (each at most one row per key), so the join
    * is key-unique on both sides — no row explosion — and when the base
    * is a bucketed/partitioned table the changeset shuffle is the only
    * exchange. Money accumulates in exact integer cents (long + long),
    * divided once on output: adding two rounded doubles would reintroduce
    * the partition-order fp noise [[Tables.moneySum]] exists to kill. */
  def mergeUpsert(base: DataFrame, changes: DataFrame): DataFrame =
    // alias-qualified refs, not dataset-tagged ones (base("col")): both
    // sides may derive from the SAME memoized source relation, where
    // shared expression ids make dataset-tagged conditions ambiguous
    base.as("b").join(changes.as("c"),
        col("b.o_custkey") === col("c.o_custkey"), "full_outer")
      .filter(col("c.op").isNull || col("c.op") === "U")
      .select(
        coalesce(col("b.o_custkey"), col("c.o_custkey")).as("o_custkey"),
        (coalesce(col("b.n_orders"), lit(0L)) + coalesce(col("c.c_n"), lit(0L)))
          .as("n_orders"),
        round((coalesce(col("b.cents"), lit(0L)) + coalesce(col("c.c_cents"), lit(0L)))
          / 100.0, 2).as("total"))
      .orderBy("o_custkey")

  /** Per-customer base snapshot through `cutoff` for [[mergeUpsert]]:
    * cents stay integer so update accumulation is exact. */
  def mergeBase(orders: DataFrame, cutoff: String): DataFrame =
    validOrders(orders).filter(col("o_orderdate") <= lit(cutoff).cast("date"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(Tables.cents(col("o_totalprice"))).as("cents"))

  /** Deterministic CDC changeset after `cutoff`: per-customer deltas,
    * op = D for every 7th key (a stand-in for the op column a real CDC
    * feed carries — Debezium/engine-agnostic, no randomness). */
  def mergeChanges(orders: DataFrame, cutoff: String): DataFrame =
    validOrders(orders).filter(col("o_orderdate") > lit(cutoff).cast("date"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("c_n"), sum(Tables.cents(col("o_totalprice"))).as("c_cents"))
      .withColumn("op", when(col("o_custkey") % 7 === 0, lit("D")).otherwise(lit("U")))

  // ------------------------------------------- moment statistics / experiments

  /** Pairwise Pearson correlation over the client feature triple
    * (freq_12m, monetary_12m, recency_days) — computed from EXACT
    * integer moment sums (decimal(38,0) — monetary in cents), with the
    * float formula applied once to the exact scalars. Spark's `corr`
    * aggregate sums doubles, which is partition-order-dependent in the
    * last ulps and breaks cross-engine hashing; exact moments are also
    * the MERGEABLE form (partials from disjoint slices combine
    * losslessly — the same argument as [[Tables.moneySum]]). One
    * aggregate pass produces all nine moments; the three pair rows are
    * unpacked from that single row. */
  def featureCorr(feats: DataFrame): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = feats.select(
      col("freq_12m").as("x"),
      Tables.cents(col("monetary_12m")).as("y"),
      col("recency_days").as("z"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("z"))).as("sz"),
        // products in DECIMAL, not long: y is per-client cents — a
        // whale client's y² passes Long.Max (the spend_trend overflow
        // class, caught at sf1 by a scale soak); x/z are small
        // but kept uniform
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"),
        sum(d38(col("z")) * d38(col("z"))).as("szz"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("z"))).as("sxz"),
        sum(d38(col("y")) * d38(col("z"))).as("syz"))
    def corr(sx: String, sy: String, sxx: String, syy: String, sxy: String) = {
      def dbl(c: String) = col(c).cast("double")
      // a constant feature zeroes its moment delta — correlation is
      // undefined there (NULL), and ANSI mode would otherwise throw on
      // the exact-0.0 division
      round((col("n") * dbl(sxy) - dbl(sx) * dbl(sy)) /
        nullif(sqrt((col("n") * dbl(sxx) - dbl(sx) * dbl(sx)) *
             (col("n") * dbl(syy) - dbl(sy) * dbl(sy))), lit(0.0)), 6)
    }
    m.select(col("n"), explode(array(
        struct(lit("freq_12m").as("x_name"), lit("monetary_12m").as("y_name"),
          corr("sx", "sy", "sxx", "syy", "sxy").as("corr")),
        struct(lit("freq_12m").as("x_name"), lit("recency_days").as("y_name"),
          corr("sx", "sz", "sxx", "szz", "sxz").as("corr")),
        struct(lit("monetary_12m").as("x_name"), lit("recency_days").as("y_name"),
          corr("sy", "sz", "syy", "szz", "syz").as("corr")))).as("p"))
      .select(col("p.x_name").as("x_name"), col("p.y_name").as("y_name"),
        col("n"), col("p.corr").as("corr"))
      .orderBy("x_name", "y_name")
  }

  /** A/B experiment read-out: deterministic 50/50 customer split (the
    * [[Prep.hashPct]] hash — assignment is a pure function of the key,
    * reproducible across reruns and engines), per-arm order-value mean
    * and sample variance from exact cents moments, Welch's t on top.
    * One conditional-aggregation pass over orders; nothing larger than
    * a single row ever crosses the wire. */
  def abMetrics(orders: DataFrame, seed: Long = 17L): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val a = Prep.hashPct(col("o_custkey"), seed) < 50
    val cts = Tables.cents(col("o_totalprice"))
    def dbl(c: String) = col(c).cast("double")
    // nullif guards (same class as customerOverlap's empty-union fix):
    // an empty arm (n=0) or a single-order arm (n=1) leaves mean /
    // variance undefined — NULL, never a DIVIDE_BY_ZERO throw (under
    // Spark 4 ANSI mode even DOUBLE division by exact 0 throws). A
    // filtered segment that hashes every order into one arm is routine
    // at scale; the statistic must degrade, not crash the job.
    def mean(s: String, n: String) = dbl(s) / nullif(col(n), lit(0L)) / 100.0
    // sample variance in dollars²: (n·Sxx − Sx²) / (n·(n−1)) / 100²
    def vari(s: String, ss: String, n: String) =
      (col(n) * dbl(ss) - dbl(s) * dbl(s)) /
        nullif(col(n) * (col(n) - 1), lit(0L)) / 10000.0
    validOrders(orders)
      .agg(
        sum(when(a, 1L).otherwise(0L)).as("n_a"),
        sum(when(!a, 1L).otherwise(0L)).as("n_b"),
        sum(when(a, d38(cts)).otherwise(d38(lit(0)))).as("s_a"),
        sum(when(!a, d38(cts)).otherwise(d38(lit(0)))).as("s_b"),
        sum(when(a, d38(cts * cts)).otherwise(d38(lit(0)))).as("ss_a"),
        sum(when(!a, d38(cts * cts)).otherwise(d38(lit(0)))).as("ss_b"))
      .select(col("n_a"), col("n_b"),
        round(mean("s_a", "n_a"), 6).as("mean_a"),
        round(mean("s_b", "n_b"), 6).as("mean_b"),
        round(vari("s_a", "ss_a", "n_a"), 6).as("var_a"),
        round(vari("s_b", "ss_b", "n_b"), 6).as("var_b"),
        // zero pooled variance (both arms constant-valued) → welch_t
        // undefined → NULL, same nullif discipline as the means above
        round((mean("s_a", "n_a") - mean("s_b", "n_b")) /
          nullif(sqrt(vari("s_a", "ss_a", "n_a") / col("n_a") +
               vari("s_b", "ss_b", "n_b") / col("n_b")), lit(0.0)), 6)
          .as("welch_t"))
  }

  /** Shipping-priority top-k — the public TPC-H Q3 shape (selective
    * filters on all three tables, two joins, revenue top-k): the classic
    * probe of whether filters reach the scans and the join order follows
    * selectivity. Customer participates as a LEFT SEMI (only membership
    * matters — no customer columns survive, so the join carries keys,
    * not payload); revenue products accumulate as scaled integers (the
    * [[pricingSummary]] discipline — float partial sums are
    * partition-order nondeterministic) at 10⁻⁴ dollars. */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, segment: String = "BUILDING",
      cutoff: String = "1995-03-15", k: Int = 10): DataFrame = {
    val cust = customer.filter(col("c_mktsegment") === segment)
      .select("c_custkey")
    val ord = orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
    lineitem.filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum("rev4") / 10000.0).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
      .orderBy(desc("revenue"), col("o_orderdate"), col("l_orderkey"))
      .limit(k)
  }

  /** Local-supplier volume — the public TPC-H Q5 shape and the suite's
    * hardest join TOPOLOGY: six tables, where customer and supplier
    * must share a nation (`c_nationkey = s_nationkey`), so the line
    * item's two dimension paths (via order→customer and via supplier)
    * CLOSE A CYCLE instead of forming a star. The equi-closure lands as
    * a join predicate, not a filter, which is what makes Q5 the
    * join-order stress test. Dimension chain (supplier→nation→region)
    * broadcasts; the two big joins (orders⋈lineitem, then customer)
    * shuffle on their keys; revenue in scaled integers per the
    * [[pricingSummary]] discipline. */
  def localSupplierVolume(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame, regionName: String = "ASIA",
      from: String = "1996-01-01", until: String = "1997-01-01"): DataFrame = {
    val supRegion = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint here: the region-filtered supplier frame is
      // ~|suppliers|/5 — small at test SF, but at the design scale AQE
      // should pick broadcast vs shuffle from its measured size
      .join(supRegion, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg((sum("rev4") / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** Chi-square test of independence between country and the
    * high-ticket flag — the categorical sibling of [[abMetrics]]'
    * Welch t: "do big-ticket orders concentrate in some countries?".
    * The FULL contingency grid is materialized (margins crossed, zero
    * cells kept — a country with no high-ticket orders still
    * contributes its expected count to the statistic; deriving cells
    * only from observed rows silently drops those terms). Observed
    * counts are exact longs; expected counts and the χ² fold are the
    * only float ops, in the same expression order on both engines.
    *
    * Scale shape: one conditional-aggregation pass over the fact; every
    * frame after it is |countries|×2. */
  def chi2CountryTicket(fact: DataFrame, threshold: Double = 150000.0): DataFrame = {
    val spark = fact.sparkSession
    val cells = CacheOnce(fact
      .select(col("pays"), (col("o_totalprice") > threshold).cast("long").as("hi"))
      .groupBy("pays", "hi").agg(count(lit(1)).as("o")))
    val rowT = cells.groupBy("pays").agg(sum("o").as("r"))
    val colT = cells.groupBy("hi").agg(sum("o").as("c"))
    // sum over an empty frame is NULL — an empty fact must yield a
    // zeros-and-NULL report row (the statistic is undefined without
    // observations), never a driver NPE off getLong(null)
    val tot = Option(cells.agg(sum("o")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (tot == 0L)
      return spark.range(1).select(
        lit(0L).as("n_countries"), lit(0L).as("dof"),
        lit(null).cast("double").as("chi2"))
    val (nr, nc) = (rowT.count(), colT.count())
    val chi = rowT.crossJoin(colT) // |countries|×2 margin cross, not data-sized
      .join(cells, Seq("pays", "hi"), "left")
      .na.fill(0L, Seq("o"))
      .select(col("o"), (col("r").cast("double") * col("c") / lit(tot)).as("e"))
      .agg(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
      .head().getDouble(0)
    spark.range(1).select(
      lit(nr).as("n_countries"),
      lit((nr - 1) * (nc - 1)).as("dof"),
      round(lit(chi), 6).as("chi2"))
  }

  // ------------------------------------------------------- triangle counting

  /** Distinct part–part co-occurrence edges (two parts in the same order),
    * kept ordered a &lt; b so every undirected edge exists exactly once:
    * the keys of an [[itemCooccurrenceFrom]] frame, the same per-basket
    * self-join basket_pairs filters on support. TPC-H baskets are ≤7
    * lines so the quadratic blow-up is bounded — at open-web scale cap
    * basket size first (the [[Skew]] note). */
  def itemPairEdges(cooc: DataFrame): DataFrame =
    cooc.select(col("p1").as("a"), col("p2").as("b"))

  /** Product communities by deterministic weighted label propagation
    * over the part–part co-occurrence graph — "which products sell
    * TOGETHER as a family", the merchandising partition that frequency
    * (topClients-style counting), rank (pageRank), and components (which
    * would glue everything reachable) each miss. Edge weight = shared
    * baskets, and edges below `minSupport` shared baskets are pruned
    * BEFORE propagation (the same accidental-co-purchase floor
    * basket_pairs applies): on a uniform basket mix the weight-1 edges
    * form one Erdős–Rényi-style giant blob — LPA's famous "monster
    * community", which is the CORRECT answer to a structureless graph
    * but a useless one; the repeated-co-purchase subgraph is where
    * family structure lives. Parts with no surviving edge are isolated
    * and not emitted. Consumes the SAME memoized co-occurrence frame
    * as basket_pairs and the triangle edge set — zero extra corpus
    * passes. Oracle-checked: the 5 fixed LPA rounds are exact integer
    * argmax dynamics, restated in DuckDB as unrolled per-round CTEs. */
  val CommunityMinSupport = 2L

  /** The support-pruned weighted edge frame the community family shares —
    * built ONCE and fed to both the LPA call and the modularity call, so
    * the two can never silently compute over different graphs. */
  def communityEdges(cooc: DataFrame): DataFrame =
    cooc.filter(col("together") >= CommunityMinSupport)
      .select(col("p1").as("a"), col("p2").as("b"), col("together").as("w"))

  def productCommunities(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val labels = Graph.labelPropagation(edges, rounds)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("v").as("p_partkey"), col("label").as("community"),
        col("community_size"))
      .orderBy("p_partkey")
  }

  /** Newman modularity of a community partition — the quality metric
    * next to [[productCommunities]] exactly as kmeans_silhouette sits
    * next to kmeans_segments: Q = Σ_c (w_c/m − (d_c/2m)²), where w_c is
    * intra-community edge weight, d_c the community's total degree, m
    * the graph's total weight. Q ≈ 0 means the partition is no better
    * than random wiring; the 0.3–0.7 band is real structure.
    *
    * Algebraic form for cross-engine exactness: Q folds to
    * A/m − B/(4m²) with A = Σ_c w_c and B = Σ_c d_c² — ALL integer
    * sums (longs; d² in DECIMAL(38,0) so a heavy community can't
    * overflow at scale), so the only float arithmetic is ONE driver-side
    * expression both engines evaluate identically on the same three
    * integers. m comes from the label-joined frame, not the raw edge
    * argument: an edge with an unlabeled endpoint must not inflate the
    * denominator while being dropped from the numerator terms — here it
    * simply isn't part of the scored graph (and with the shared
    * [[communityEdges]] frame the join is lossless by construction).
    * One edge join against the label frame, two integer aggregates. */
  def communityModularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val la = labels.select(col("v").as("a"), col("label").as("ca"))
    val lb = labels.select(col("v").as("b"), col("label").as("cb"))
    val joined = edges.join(la, "a").join(lb, "b")
    // degree per community: each undirected edge adds w to both sides
    val deg = joined.select(explode(array(col("ca"), col("cb"))).as("c"), col("w"))
      .groupBy("c").agg(sum("w").as("d"))
    val intra = joined.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(sum("w").as("win"))
    val r = deg.join(intra, Seq("c"), "left")
      .na.fill(0L, Seq("win"))
      .agg(sum("win").as("a"),
        // d is a per-COMMUNITY weighted degree (can approach 2|E|), so
        // the square multiplies in decimal — the spend_trend long-
        // overflow class caught by a scale soak at sf1
        sum(col("d").cast("decimal(38,0)") *
          col("d").cast("decimal(38,0)")).as("b"),
        sum("d").as("d2")) // Σ_c d_c = 2m exactly (each edge adds w twice)
      .head()
    val nC = labels.select("label").distinct().count()
    // edgeless graph → NULL sums and m=0 — modularity is undefined (its
    // normalizer is 2m): report the community count with NULL Q, never
    // NPE/0-division. An empty month slice of the co-occurrence graph
    // is a routine state for a scheduled graph report.
    if (r.isNullAt(0) || r.getLong(2) == 0L)
      return spark.range(1).select(
        lit(nC).as("n_communities"),
        lit(null).cast("double").as("modularity"))
    val (a, b, m) = (r.getLong(0), r.getDecimal(1).doubleValue(), r.getLong(2) / 2)
    val q = a.toDouble / m - b / (4.0 * m * m)
    spark.range(1).select(
      lit(nC).as("n_communities"),
      round(lit(q), 6).as("modularity"))
  }

  /** Per-node triangle membership over the co-occurrence graph `e`
    * ([[itemPairEdges]]), top `k` nodes — the third graph operator next
    * to PageRank (rank) and BFS (reach): cohesion. Degree-rank-oriented
    * wedge enumeration (the node-iterator orientation from Schank &amp;
    * Wagner / Suri-Vassilvitskii's MapReduce variant): re-orient every
    * undirected edge from its lower- to its higher-(degree, id)
    * endpoint. Each triangle then has EXACTLY one
    * corner with two out-edges — its minimum-rank node — so wedges are
    * an out-edge self-join on that corner, closed by a semi-join against
    * the oriented edge set (the closing edge is guaranteed oriented
    * v→w because rank is a total order). One materialization per
    * triangle, no /6 correction, and the wedge count is bounded by
    * Σ C(outdeg,2) with outdeg ≤ √(2·|E|) — THE property that keeps a
    * celebrity node from generating deg² wedges at 100 TB (its edges all
    * point INTO it, so it spawns no wedges at all; its low-degree
    * neighbors each spawn few).
    *
    * Scale shape: degrees are node-grain (AQE broadcasts the attach at
    * any realistic |V|/|E| ratio); the self-join's two sides are the
    * SAME oriented frame keyed on the same column, so Spark reuses one
    * exchange; the close is a left-semi (build side dedup-free, no
    * output amplification). Membership counting explodes the (u,v,w)
    * triple — three rows per triangle — into one node-grain aggregate. */
  def copurchaseTrianglesFrom(e: DataFrame, k: Int = 20): DataFrame =
    triangleCounts(e)
      .orderBy(desc("n_triangles"), col("p_partkey"))
      .limit(k)

  /** Edge-sparsified twin of [[copurchaseTrianglesFrom]] — the DOULION
    * estimator (Tsourakakis, Kang, Miller &amp; Faloutsos, KDD'09, public):
    * keep each undirected edge with probability 1/invP, count triangles on
    * the sparsified graph with the SAME oriented-wedge core, and scale
    * every node's count by invP³ (a triangle survives iff all three of its
    * edges do, independently). The exact tier's cost is the wedge
    * enumeration, Σ C(outdeg,2) — quadratic in retained degree — so
    * sampling at 1/invP cuts the dominant stage ~invP² while the estimate
    * stays unbiased: E[count·invP³] = true count, node by node.
    *
    * The coin is a HASH of the edge key (xxhash64(a, b, seed)), not
    * Math.random: the sample is a pure function of the data, so the
    * estimate is bit-reproducible across runs, partitionings, and retries
    * — the determinism rule every approx tier here follows (a speculative
    * re-execution that re-flips coins would break exactly-once outputs).
    * invP³ stays integer arithmetic; no float enters until nothing does.
    * Rows-gated: GoldSpec pins a relative-error floor against the exact
    * tier plus repartition-invariance of the estimate. */
  def copurchaseTrianglesApprox(e: DataFrame, k: Int = 20, invP: Int = 2,
      seed: Long = 42L): DataFrame = {
    require(invP >= 1, s"invP must be >= 1, got $invP")
    val kept = e.filter(
      pmod(xxhash64(col("a"), col("b"), lit(seed)), lit(invP.toLong)) === 0L)
    val scale = invP.toLong * invP * invP
    triangleCounts(kept)
      .select(col("p_partkey"),
        (col("n_triangles") * scale).as("n_triangles_est"))
      .orderBy(desc("n_triangles_est"), col("p_partkey"))
      .limit(k)
  }

  /** Node-grain triangle membership counts — the rank-oriented counting
    * core the exact and the DOULION-sampled tier share (one algorithm, two
    * edge frames; the tiers can never drift onto different wedge logic).
    *
    * No wedge self-join: materializing every wedge as a (u,v,w) row and
    * shuffling the whole wedge set again for the semi-join close made
    * this one query 39% of the suite at sf1. Instead each node's
    * out-neighborhood is collected ONCE into an array and the close is
    * an in-task `array_intersect` on each oriented edge's two endpoint
    * lists: for the triangle x→y, x→z, y→z
    * (rank order) the edge (x,y) finds z in N⁺(x)∩N⁺(y), and no other
    * edge of the triangle can (y∉N⁺(z)), so each triangle is found
    * exactly once with all three corners in hand. Wedges never cross a
    * shuffle as rows — the only wedge-proportional traffic left is the
    * packed nbu arrays riding the second join's |E|-row exchange — and
    * the close shuffle is gone entirely. The orientation cap
    * outdeg ≤ √(2·|E|) still bounds both the array sizes and the
    * per-edge intersection cost, which is what keeps a celebrity node
    * harmless at 100 TB. */
  def triangleCounts(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // rank(x) = (deg(x), x): a total order, ties broken by id
    val ranked = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // consumed twice (edge stream + adjacency build) — without the
    // explicit cache each consumer re-runs the edge build and both
    // degree attaches (measured 3× the whole query's cost at sf0.1)
    val oriented = CacheOnce(ranked.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w")))
        .as("s"))
      .select(col("s.u").as("u"), col("s.w").as("w")))
    // out-adjacency, one array per node; cached — BOTH endpoint joins
    // consume it and the collect_list must not run twice
    val nbrs = CacheOnce(oriented.groupBy("u").agg(collect_list("w").as("nb")))
    // Both endpoint joins carry the packed adjacency ARRAYS. Their shuffle
    // bytes compress far below AQE's maxShuffledHashJoinLocalMapThreshold,
    // but a ShuffledHashJoin build relation holds the arrays UNPACKED in
    // execution memory — measured at sf1 as a hash-relation OOM ("Can't
    // acquire 268435456 bytes"). The caller runs the triangle tiers on a
    // session with that conversion OFF (queries.Fixtures.triangleSession):
    // AQE still broadcasts a genuinely small adjacency, and once it
    // outgrows broadcast the join stays sort-merge, which spills instead
    // of pinning a partition's unpacked arrays resident at once. (A
    // merge hint here would also kill the legitimate small-scale
    // broadcast — measured +65% at sf0.1 — so the session conf is the
    // narrowest lever that only disables the hash build.)
    val tri = oriented.select(col("u"), col("w").as("v"))
      .join(nbrs, Seq("u"))
      .withColumnRenamed("nb", "nbu")
      .join(nbrs.select(col("u").as("v"), col("nb").as("nbv")), Seq("v"))
      .select(col("u"), col("v"), array_intersect(col("nbu"), col("nbv")).as("ws"))
      .filter(size(col("ws")) > 0)
    // per-triangle membership: the min corner and the mid corner each
    // take the edge's whole intersection count, every closing corner
    // takes 1 — partial-aggregated map-side, 2+|ws| rows per edge
    tri.select(explode(concat(
        array(
          struct(col("u").as("p"), size(col("ws")).cast("long").as("c")),
          struct(col("v").as("p"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"), wv => struct(wv.as("p"), lit(1L).as("c"))))).as("x"))
      .groupBy(col("x.p").as("p_partkey"))
      .agg(sum(col("x.c")).as("n_triangles"))
  }

  /** Order-priority check (TPC-H Q4 shape): orders placed in a quarter
    * counted per priority class, keeping only orders where EXISTS a line
    * shipped after the order date (the test schema carries no
    * l_commitdate/l_receiptdate, so "late line" restates Q4's
    * commit<receipt correlate as shipdate>orderdate). The correlated
    * EXISTS is a LEFT SEMI join whose condition mixes the equi-key with
    * the per-order inequality — Spark keys the shuffle on l_orderkey and
    * evaluates the inequality as a residual, so the semi stays a hash
    * join, never a nested loop. Only (key, date) columns travel. */
  def orderPriority(orders: DataFrame, lineitem: DataFrame,
      from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val ord = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    ord.join(lineitem.select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Nation trade volume (TPC-H Q7 shape): line revenue shipped between
    * two named nations, one leg the supplier's nation, the other the
    * ordering customer's, by ship year. The IN-filter on BOTH dim chains
    * lands before the big joins — each side of the fact join carries only
    * the two nations' keys — and the disjunctive pair predicate
    * ((n1→n2) OR (n2→n1)) applies at the joined grain where it is a
    * residual comparison of two small ints, not a join condition. nation
    * broadcasts; supplier/customer shuffle on their keys (SF-proportional
    * dims — the [[caSupplierNation]] no-hint discipline). */
  def nationTradeVolume(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      nationA: String = "NATION_9", nationB: String = "NATION_10",
      from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val picked = nation.filter(col("n_name").isin(nationA, nationB))
      .select("n_nationkey", "n_name")
    val supp = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(picked.withColumnRenamed("n_name", "supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = customer.select("c_custkey", "c_nationkey")
      .join(broadcast(picked.withColumnRenamed("n_name", "cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg((sum("rev4") / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** National market share (TPC-H Q8 shape): inside one region's market,
    * the share of line revenue supplied by a target nation, per order
    * year. The share is a conditional-sum ratio over the SAME aggregated
    * frame — numerator and denominator come out of one grouped pass as
    * exact scaled-integer sums, divided once per year row (never a
    * self-join of two aggregates). Region filter prunes the customer dim
    * chain before the fact joins; the target-nation test is a residual
    * on the already-joined supplier nation. Rounded to 6dp — the one
    * float op, in the same expression order as the oracle. */
  def marketShare(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame, regionName: String = "EUROPE",
      targetNation: String = "NATION_7",
      from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val custRegion = customer.select("c_custkey", "c_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4")),
        col("o_orderkey") === col("l_orderkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === targetNation, col("rev4"))
          .otherwise(0L)).as("num4"),
        sum(col("rev4")).as("den4"))
      .select(col("o_year"),
        round(col("num4") / col("den4").cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Returned-item revenue (TPC-H Q10 shape): the top customers by
    * revenue on RETURNED lines for orders placed in a quarter. Join
    * order: quarter-filtered orders ⋈ returnflag-filtered lineitem first
    * (both selective filters reach their scans), THEN the customer dim
    * attach — the dim join runs at the already-reduced (customer×quarter)
    * grain. Global top-k folds to TakeOrderedAndProject; c_custkey
    * tie-breaks equal revenues so the cut is deterministic. */
  def returnedItemRevenue(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame,
      from: String = "1996-01-01", until: String = "1996-04-01",
      k: Int = 20): DataFrame = {
    val rev = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
      .join(lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
            .cast("long").as("rev4")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg((sum("rev4") / 10000.0).as("revenue"))
    rev
      .join(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        coalesce(col("n_name"), lit("Inconnu")).as("pays"), col("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(k)
  }

  /** Discounted revenue under a disjunction of brand/size/quantity
    * bands (TPC-H Q19 shape): the OR-of-ANDs predicate mixes part
    * attributes with line attributes, so no single branch can prune the
    * join — the part-side disjunction (brand ∈ {…}, size bounds) is
    * DISTRIBUTED OUT and pushed to the part scan as a standalone filter
    * (the classic Q19 rewrite), shrinking the build side to the union of
    * the three brands before the join; the full three-branch predicate
    * then applies as a residual at the joined grain. One global sum —
    * scaled-integer, one output row. */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = part.filter(
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
      .select("p_partkey", "p_brand", "p_size")
    lineitem
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
      .agg((sum("rev4") / 10000.0).as("revenue"))
  }

  /** Idle high-balance customers (TPC-H Q22 shape): customers whose
    * account balance beats the positive-balance average but who placed
    * no order since `since` (every test customer has SOME order, so the
    * recency cutoff is what realizes Q22's "no orders" correlate),
    * counted per nation. The global average folds to a driver scalar in
    * exact integer cents (two-phase, the [[scoreThresholds]] discipline
    * — sum(cents)/100.0/count, same expression order as the oracle so
    * the float threshold is bit-identical); "no recent order" is a LEFT
    * ANTI against the date-filtered order keys (keys only travel — the
    * Spark restatement of NOT EXISTS that the reference would have
    * written as a collected id set). */
  def idleCustomers(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, since: String = "2000-01-01"): DataFrame = {
    val r = customer.filter(col("c_acctbal") > 0)
      .agg(sum(cents(col("c_acctbal"))), count(lit(1))).first()
    // no positive-balance customers → NULL sum → threshold +∞: nobody
    // "beats the average of nothing", the report is empty (never an NPE)
    val avgBal = if (r.isNullAt(0)) Double.PositiveInfinity
      else r.getLong(0) / 100.0 / r.getLong(1)
    customer.filter(col("c_acctbal") > avgBal)
      .select("c_custkey", "c_acctbal", "c_nationkey")
      .join(orders.filter(col("o_orderdate") >= lit(since).cast("timestamp"))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy(coalesce(col("n_name"), lit("Inconnu")).as("pays"))
      .agg(count(lit(1)).as("numcust"),
        moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy("pays")
  }

  /** Partial frame for the ORDER-REVENUE JOIN VIEW — the join-view
    * sibling of [[caMonthlyPartial]]'s aggregate maintenance. The view
    * V = orders ⋈ lineitem reduced to (order, month) grain; because the
    * join key and the group key coincide, V over O∪ΔO and L∪ΔL is the
    * key-merge of FOUR partials (delta algebra):
    * base(O,L) ∪ (O,ΔL) ∪ (ΔO,L) ∪ (ΔO,ΔL) — history never re-joins
    * history. Each refresh term carries at least one delta side whose
    * date bound lands in its scan's PushedFilters; at production scale
    * the old-side probe is a key lookup into the bucketed base
    * ([[Bucketing]]), not a table scan. Sums stay in scaled integers so
    * the merge is bit-exact in any union order. */
  def orderRevenuePartial(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("mois"))
      .join(lineitem.select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "mois")
      .agg(sum("rev4").as("rev4"), count(lit(1)).as("n_lines"))

  /** Merge [[orderRevenuePartial]] frames into the served join view. */
  def orderRevenueFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy("o_orderkey", "mois")
      .agg((sum("rev4") / 10000.0).as("revenue"),
        sum("n_lines").as("n_lines"))
      .orderBy("o_orderkey")

  /** Fulfilment SLA by order month: the share of orders whose EVERY
    * line shipped within `slaDays` of the order date — the universally-
    * quantified (bool_and) aggregation, realized as a per-order max
    * over the line lag then a month-grain conditional share. Integer
    * day arithmetic end to end; the share is the single float division,
    * 6dp. Scale shape: the per-order reduce happens BEFORE the join —
    * datediff is monotone in its first argument with the order date
    * fixed, so max(datediff(ship, d)) = datediff(max(ship), d), and the
    * lineitem side collapses to one row per order in a map-side-combining
    * pre-aggregate. The join then runs at ORDER grain on both sides
    * (|O| × |O|, not |O| × |L|), and the line-grain post-join aggregate
    * the fused form needed disappears entirely. */
  def orderSla(orders: DataFrame, lineitem: DataFrame,
      slaDays: Int = 90): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderdate"),
      date_format(col("o_orderdate"), "yyyy-MM").as("mois"))
      .join(lineitem.select("l_orderkey", "l_shipdate")
          .groupBy("l_orderkey").agg(max("l_shipdate").as("last_ship")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("mois")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(datediff(col("last_ship"), col("o_orderdate")) <= slaDays,
          1L).otherwise(0L)).as("n_met"))
      .select(col("mois"), col("n_orders"), col("n_met"),
        round(col("n_met") / col("n_orders").cast("double"), 6).as("sla_share"))
      .orderBy("mois")

  /** Supplier concentration per month — the Herfindahl–Hirschman index
    * Σ share², computed WITHOUT materializing float shares:
    * HHI = Σ rev_i² / (Σ rev_i)² over exact scaled-integer supplier
    * revenues (squares in decimal — a long² overflows at the design
    * scale), one float division per month row. The concentration
    * complement to [[Serving.revenueGini]]'s inequality curve: Gini
    * ranks customers, HHI watches supply-side dependency. */
  def supplierHhi(lineitem: DataFrame): DataFrame = {
    // group on an INT month index at the line grain — date_format is a
    // per-row formatter allocation and the string widens the shuffle key
    // (narrower shuffle key types); the yyyy-MM string is rebuilt
    // AFTER the month-grain aggregate (≤ tens of rows), where the two
    // renderings are equal for every real date (zero-padded %04d-%02d)
    val bySupp = lineitem
      .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1).as("mi"),
        col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .groupBy("mi", "l_suppkey")
      .agg(sum("rev4").as("rev4"))
    bySupp.groupBy("mi")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev4").cast("decimal(38,0)") * col("rev4")).as("sq"),
        sum("rev4").as("tot"))
      .select(
        format_string("%04d-%02d", (col("mi") / 12).cast("int"),
          (col("mi") % 12 + 1).cast("int")).as("mois"),
        col("n_suppliers"),
        round(col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6).as("hhi"))
      .orderBy("mois")
  }

  /** Forecast-revenue change (TPC-H Q6 shape): one tight filter-scan-sum
    * — the query whose whole cost is how much the scan can skip. All
    * three predicates (date range, discount band, quantity cap) land in
    * PushedFilters; the aggregate is a single scaled-integer sum of
    * price×discount, so the output is bit-deterministic. The simplest
    * query in the family and the purest pushdown probe. */
  def forecastRevenue(lineitem: DataFrame,
      from: String = "1996-01-01", until: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum(round(col("l_extendedprice") * col("l_discount") * 10000)
        .cast("long")) / 10000.0).as("revenue"))

  /** Late-shipment priority split (TPC-H Q12 shape, l_returnflag standing
    * in for the missing l_shipmode): per flag, the count of lines shipped
    * more than `lateDays` after their order date in a year, split into
    * critical (URGENT/HIGH) vs other priorities — the two-bucket
    * conditional-count aggregation over a fact-fact join. The date
    * arithmetic stays on the join's residual (it references both sides);
    * the year filter pushes to the lineitem scan. */
  def latePriorityLines(orders: DataFrame, lineitem: DataFrame,
      lateDays: Int = 30,
      from: String = "1996-01-01", until: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")

  /** Promotion revenue share (TPC-H Q14 shape): the percentage of one
    * month's line revenue on PROMO-type parts — a conditional-sum ratio
    * out of ONE grouped pass (the [[marketShare]] discipline), part dim
    * broadcast, scaled-integer sums, one 6dp float divide at the end. */
  def promoRevenueShare(lineitem: DataFrame, part: DataFrame,
      from: String = "1996-03-01", until: String = "1996-04-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev4")).otherwise(0L)).as("num4"),
        sum(col("rev4")).as("den4"))
      .select(round(lit(100.0) * col("num4") / col("den4").cast("double"), 6)
        .as("promo_share"))

  /** Top supplier(s) by quarter revenue (TPC-H Q15 shape): per-supplier
    * revenue aggregated in exact 10⁻⁴-dollar integers, the maximum folded
    * to a DRIVER SCALAR (two-phase, the [[scoreThresholds]] discipline),
    * and the equality filter applied to the same integer — exact long
    * equality, so the "all suppliers achieving the max" semantics can't
    * be broken by float drift. Supplier dim attaches after the
    * reduction, at winner grain. */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
      from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val bySupp = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rev4"))
      .groupBy("l_suppkey")
      .agg(sum("rev4").as("rev4"))
    // empty window → NULL max → no winner: `rev4 === NULL` filters all
    // rows and the report is empty (never a getLong(null) throw)
    val maxRev = bySupp.agg(max("rev4")).first().get(0)
    bySupp.filter(col("rev4") === lit(maxRev).cast("long"))
      .join(supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev4") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Small-quantity-order revenue (TPC-H Q17 shape): average yearly
    * revenue lost to sub-threshold orders of one brand's parts, where
    * the threshold is 20% of EACH PART'S average order quantity — the
    * correlated-average subquery, decorrelated the way Catalyst would:
    * the per-part average is its own aggregation of the SAME
    * brand-pruned line frame (exact cents/count, matched expression
    * order), joined back at part grain. The brand filter semi-prunes
    * lineitem through the broadcast part dim BEFORE either pass, so
    * both the average and the probe run over the brand's lines only. */
  def smallQuantityRevenue(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#23"): DataFrame = {
    val brandParts = broadcast(part.filter(col("p_brand") === brand)
      .select("p_partkey"))
    val lines = lineitem
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("price2"))
      .join(brandParts, col("l_partkey") === col("p_partkey"), "left_semi")
    val avgQty = lines.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (sum(cents(col("l_quantity"))) / 100.0 / count(lit(1))))
        .as("qty_threshold"))
    lines.join(avgQty, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(round(sum(col("price2")) / 100.0 / 7.0, 6).as("avg_yearly"))
  }

  /** Large-volume customers (TPC-H Q18 shape): orders whose total line
    * quantity clears a threshold, with their customers — the
    * HAVING-subquery membership restated as aggregate-then-join: the
    * line-grain aggregation reduces FIRST (exact cents), the threshold
    * is a post-aggregation filter, and orders/customer attach at the
    * surviving-order grain. Top-k by order value with key tie-breaks. */
  def largeVolumeCustomers(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, minQty: Double = 180.0, k: Int = 50): DataFrame = {
    val big = lineitem.groupBy("l_orderkey")
      .agg((sum(cents(col("l_quantity"))) / 100.0).as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer.select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(k)
  }
}
