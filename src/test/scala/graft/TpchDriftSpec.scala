package graft

import org.apache.spark.sql.functions._

/** Semantics + plan gates for the round-8 additions: the TPC-H
  * Q4/Q7/Q8/Q10/Q19/Q22 shapes, the drift statistics (PSI/KS), and the
  * entity-resolution closure. Cross-engine value equality is the
  * DuckDB oracle's job; these pin the properties an oracle can't see —
  * join shapes, pushdowns, and the self-comparison identities. */
class TpchDriftSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("order_priority: EXISTS is a semi join — no row multiplication, no cartesian") {
    import spark.implicits._
    // order 1: one late + one on-time line (counted once); order 2: only
    // on-time (dropped); order 3: no lines at all (dropped)
    val ord = Seq(
      (1L, "1996-02-01", "1-URGENT"),
      (2L, "1996-02-02", "1-URGENT"),
      (3L, "1996-02-03", "2-HIGH"))
      .toDF("o_orderkey", "d", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val li = Seq(
      (1L, "1996-03-01"), (1L, "1996-01-15"), (2L, "1996-01-20"))
      .toDF("l_orderkey", "sd")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd")
    val out = Gold.orderPriority(ord, li).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("1-URGENT", 1L)))
    val p = plan("order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("nation_trade_volume: nation dims broadcast, disjunction is a residual, no cartesian") {
    val p = plan("nation_trade_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both directions present or absent together — the pair predicate
    // must never keep a one-way flow
    val rows = SparkEntry.queries("nation_trade_volume")(spark, sf).collect()
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_9", "NATION_10"), ("NATION_10", "NATION_9"))))
  }

  test("market_share: share bounded by construction (num4 <= den4)") {
    val shares = SparkEntry.queries("market_share")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(shares.nonEmpty)
    assert(shares.forall(s => s >= 0.0 && s <= 1.0), shares.toSeq)
  }

  test("disjunctive_revenue: pushed part filter + residual == the naive conjunctive form") {
    val pushed = Gold.disjunctiveRevenue(
      Tables.lineitem(spark, sf), Tables.part(spark, sf))
      .collect()(0).getDouble(0)
    val naive = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 10000).cast("long")) / 10000.0))
      .collect()(0).getDouble(0)
    assert(pushed == naive)
    val p = plan("disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("idle_customers: nobody in the output ordered after the cutoff") {
    val idle = SparkEntry.queries("idle_customers")(spark, sf)
    // reconstruct the member set at customer grain and anti-check it
    val members = Gold.idleCustomers(Tables.customer(spark, sf),
      Tables.orders(spark, sf), Tables.nation(spark, sf))
    assert(members.agg(sum("numcust")).collect()(0).getLong(0) > 0)
    val recent = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    // re-derive the idle customer keys the same way and verify the anti
    // property directly: intersection with recent orderers is empty
    val r = Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
      .agg(sum(round(col("c_acctbal") * 100).cast("long")), count(lit(1))).first()
    val avgBal = r.getLong(0) / 100.0 / r.getLong(1)
    val idleKeys = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > avgBal)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
    assert(idleKeys.join(recent, col("c_custkey") === col("o_custkey"))
      .count() == 0)
    assert(idle.queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("typo_clusters: every candidate edge lands in one cluster, rep is the min member") {
    val clusters = Llm.typoClusters(Tables.part(spark, sf), "p_name").collect()
    val rep = clusters.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep.nonEmpty)
    // edges from the same candidate generator must connect same-cluster words
    val pairs = Llm.typoPairs(Tables.part(spark, sf), "p_name")
      .select("w1", "w2").collect()
    pairs.foreach { r =>
      assert(rep(r.getString(0)) == rep(r.getString(1)),
        s"${r.getString(0)} / ${r.getString(1)} split across clusters")
    }
    // the label is the alphabetically smallest member of its cluster
    clusters.groupBy(_.getString(1)).foreach { case (lbl, members) =>
      assert(members.map(_.getString(0)).min == lbl)
    }
    // size column agrees with the actual member count
    clusters.groupBy(_.getString(1)).foreach { case (_, members) =>
      assert(members.forall(_.getLong(2) == members.length))
    }
  }

  test("spend_psi: self-comparison is exactly zero per bucket") {
    val self = Serving.spendPsi(Tables.orders(spark, sf), 1996, 1996)
      .collect()
    assert(self.length == 10)
    assert(self.forall(r => r.getLong(1) == r.getLong(2))) // n_a == n_b
    assert(self.forall(r => r.getDouble(3) == 0.0))
  }

  test("spend_ks: self-comparison is exactly zero; cross-years in (0, 1]") {
    val self = Serving.spendKs(Tables.orders(spark, sf), 1996, 1996)
      .collect()(0)
    assert(self.getDouble(0) == 0.0)
    val cross = Serving.spendKs(Tables.orders(spark, sf), 1996, 1997)
      .collect()(0)
    assert(cross.getDouble(0) >= 0.0 && cross.getDouble(0) <= 1.0)
    assert(cross.getLong(2) > 0 && cross.getLong(3) > 0)
  }

  test("forecast_revenue: every predicate reaches the scan") {
    val p = plan("forecast_revenue")
    // shipdate range + discount band + quantity cap all pushed
    assert(p.contains("PushedFilters"), p)
    val pushed = p.split("PushedFilters: \\[").last.split("]").head
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
  }

  test("late_priority_lines: high+low counts partition the late lines") {
    val rows = SparkEntry.queries("late_priority_lines")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .count()
    assert(total == direct)
  }

  test("promo_revenue_share: bounded percentage, part dim broadcast") {
    val v = SparkEntry.queries("promo_revenue_share")(spark, sf)
      .collect()(0).getDouble(0)
    assert(v >= 0.0 && v <= 100.0, v)
    assert(plan("promo_revenue_share").contains("BroadcastHashJoin"))
  }

  test("top_supplier: every returned supplier holds exactly the max revenue") {
    val out = SparkEntry.queries("top_supplier")(spark, sf).collect()
    assert(out.nonEmpty)
    val revs = out.map(_.getDouble(2)).distinct
    assert(revs.length == 1) // ties all share the exact integer max
  }

  test("small_quantity_revenue: threshold correlate keeps only sub-20%-of-average lines") {
    import spark.implicits._
    // one part, quantities 10 and 1: avg=5.5, threshold=1.1 — only the
    // qty-1 line (price 7.00) survives; 7.00/7 years = 1.0
    val li = Seq((1L, 10.0, 100.0), (1L, 1.0, 7.0))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "Brand#23")).toDF("p_partkey", "p_brand")
    val out = Gold.smallQuantityRevenue(li, part).collect()(0).getDouble(0)
    assert(out == 1.0, out)
  }

  test("large_volume_customers: all totals clear the threshold, ordered by value") {
    val out = SparkEntry.queries("large_volume_customers")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 50)
    assert(out.forall(_.getDouble(5) > 180.0))
    val key = out.map(r => (-r.getDouble(4), r.getLong(2))).toSeq
    assert(key == key.sorted)
  }

  test("join_view_maintained: three delta joins, base merges by key, date bounds pushed") {
    val p = plan("join_view_maintained")
    def occurs(needle: String) = p.sliding(needle.length).count(_ == needle)
    val joins = occurs("BroadcastHashJoin") + occurs("SortMergeJoin") +
      occurs("ShuffledHashJoin")
    // one join per delta term; the persisted base contributes via the
    // union-merge only — a 4th join would mean history re-joined history
    assert(joins == 3, p)
    // every delta scan carries its pushed date bound
    val pushed = p.split("PushedFilters: \\[").drop(1)
      .count(_.takeWhile(_ != ']').contains("1997-01-01"))
    assert(pushed >= 4, p)
    // all three delta terms actually contribute rows on the test data
    import org.apache.spark.sql.functions.{col, lit}
    val cut = lit(graft.queries.Fixtures.IncrementalCutoff).cast("timestamp")
    val newO = Tables.orders(spark, sf).filter(col("o_orderdate") >= cut)
    val oldO = Tables.orders(spark, sf).filter(col("o_orderdate") < cut)
    val newL = Tables.lineitem(spark, sf).filter(col("l_shipdate") >= cut)
    val oldL = Tables.lineitem(spark, sf).filter(col("l_shipdate") < cut)
    assert(Gold.orderRevenuePartial(oldO, newL).limit(1).count() == 1)
    assert(Gold.orderRevenuePartial(newO, oldL).limit(1).count() == 1)
    assert(Gold.orderRevenuePartial(newO, newL).limit(1).count() == 1)
  }

  test("plan gates: top-k folds to TakeOrderedAndProject, no cartesians anywhere new") {
    // global top-k queries must not global-sort
    assert(plan("returned_item_revenue").contains("TakeOrderedAndProject"))
    assert(plan("large_volume_customers").contains("TakeOrderedAndProject"))
    // the market-share semi-prune and the supplier-max equality join
    // stay cartesian-free
    Seq("market_share", "top_supplier", "late_priority_lines",
      "promo_revenue_share", "span_dedup", "attribution_credit")
      .foreach { q => assert(!plan(q).contains("CartesianProduct"), q) }
    // span_dedup's winner window keys on the block text, never a
    // single-partition global order
    assert(!plan("span_dedup").contains("Window [") ||
      !plan("span_dedup").contains("SinglePartition"), plan("span_dedup"))
  }

  test("runtime bloom filter from a selective dim filter reaches the fact side") {
    // the scale story's third runtime adaptation (after AQE coalesce and
    // skew split): a selective filter on one join side should inject a
    // bloom filter that prunes the OTHER side's scan before the shuffle.
    // Local test tables sit under the size thresholds, so lower them —
    // the optimizer decision itself is what's under test.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep the shuffle join
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(spark, sf)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        p.take(2000))
      assert(joined.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("attribution_credit: shares conserve the purchase value, fresher clicks earn more") {
    val out = Serving.attributionCredit(Tables.events(spark, sf)).collect()
    assert(out.nonEmpty)
    val byPurchase = out.groupBy(_.getLong(0))
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byPurchase.foreach { case (pid, clicks) =>
      val v = purchases(pid)
      // each model's credits sum back to the purchase value (6dp rounding
      // slack per click)
      val lin = clicks.map(_.getDouble(4)).sum
      val dec = clicks.map(_.getDouble(5)).sum
      assert(math.abs(lin - v) <= 1e-6 * clicks.length + 1e-9, s"$pid lin")
      assert(math.abs(dec - v) <= 1e-6 * clicks.length + 1e-9, s"$pid dec")
      // decay credit is non-increasing as the click gets older
      val byAge = clicks.sortBy(-_.getLong(2)) // newest (largest c_us) first
      val creds = byAge.map(_.getDouble(5)).toSeq
      assert(creds == creds.sorted.reverse, s"$pid decay not monotone")
    }
  }

  test("textlog parse: well-formed lines are null-free, malformed lines surface as nulls") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_textlog_spec")
    try {
      Tables.eventLogLines(Tables.events(spark, sf)).limit(50)
        .union(Seq("not a log line").toDF("value"))
        .write.mode("overwrite").text(tmp.toString)
      val parsed = Tables.parseEventLog(spark, tmp.toString)
      assert(parsed.count() == 51) // PERMISSIVE: nothing dropped
      assert(parsed.filter(col("user_id").isNull).count() == 1)
      assert(parsed.filter(col("user_id").isNotNull &&
        (col("ts").isNull || col("value_cents").isNull)).count() == 0)
    } finally Streams.deleteRec(tmp.toFile)
  }

  test("returned_item_revenue: dims attach after the reduction — one row per customer, k-bounded") {
    val out = SparkEntry.queries("returned_item_revenue")(spark, sf).collect()
    assert(out.length <= 20)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // sorted by revenue desc with custkey tie-break
    val rev = out.map(r => (-r.getDouble(4), r.getLong(0))).toSeq
    assert(rev == rev.sorted)
  }
}
