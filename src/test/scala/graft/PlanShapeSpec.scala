package graft

/** Plan-shape regression gates for the headline queries: a future edit
  * that reintroduces a shuffle, loses a broadcast, or duplicates the
  * grouping-sets Expand fails here, before it shows up in the bench.
  * Counts are against the pre-execution executedPlan string (AQE's
  * initial plan — the conservative shape; AQE only improves on it at
  * runtime).
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("ca_cube: one Expand, one aggregation shuffle, dims broadcast") {
    val p = plan("ca_cube")
    // grouping sets expand once over the cached fact; a second Expand
    // would mean the cube is computed per-grain
    assert(count(p, "Expand") == 1, p)
    // one hash exchange for the cube aggregation — the final
    // rangepartitioning is the deterministic ORDER BY contract
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ca_grouping_sets: explicit grains, still one Expand and one agg shuffle") {
    val p = plan("ca_grouping_sets")
    assert(count(p, "Expand") == 1, p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    // three explicit sets — the Expand emits 3 rows per input, not
    // cube's 4 (no grand-total grain was asked for). Checked on a
    // literal frame: executing anything plan-equal to the memoized fact
    // here would materialize its registered cache and flip every later
    // plan gate to InMemoryTableScan
    import spark.implicits._
    val lit = Seq(("FRANCE", 1995L, 10.0), ("PERU", 1996L, 20.0))
      .toDF("pays", "annee", "o_totalprice")
    val rows = Serving.caGroupingSets(lit).collect()
    assert(!rows.exists(r => r.getString(0) == "ALL" && r.getLong(1) == -1L))
    assert(rows.length == 6) // 2 exact + 2 pays-only + 2 annee-only grains
  }

  test("client_features: one agg shuffle + two-phase distinct, no extra join exchange") {
    val p = plan("client_features")
    // custkey agg (1) + exact countDistinct's (custkey, partkey) dedupe
    // and per-custkey count (2) — the orders x lineitem diversity join
    // itself must stay broadcast, adding no exchange
    assert(count(p, "Exchange hashpartitioning") == 3, p)
    assert(count(p, "BroadcastHashJoin") == 1, p)
    // the only sort-merge join is between the two already-partitioned
    // aggregated sides
    assert(count(p, "SortMergeJoin") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fact_achats: dims broadcast, no shuffle, no join sort") {
    val p = plan("fact_achats")
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(count(p, "Exchange hashpartitioning") == 0, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ca_supplier_nation: unhinted supplier join stays broadcast at test scale") {
    // supplier deliberately carries no broadcast() hint (SF-proportional
    // at the 100 TB posture, gold.scala caSupplierNation). At test scale
    // the STATIC planner must still pick BroadcastHashJoin for both the
    // supplier and nation joins from the parquet size estimate alone —
    // this is the pre-execution initial plan, not an AQE runtime
    // conversion. A SortMergeJoin here means the size-estimate path
    // regressed and the query pays two full shuffles it shouldn't.
    val p = plan("ca_supplier_nation")
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("prep operators stay map-side: no aggregation/join exchange") {
    // sample_mix and doc_chunks are pure scan->transform->sort pipelines;
    // a hash exchange appearing here means someone added a groupBy/join
    // to what must stream through the scan at 100 TB
    for (q <- Seq("sample_mix", "doc_chunks")) {
      val p = plan(q)
      assert(count(p, "Exchange hashpartitioning") == 0, s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
    // split_assign is one conditional-agg pass: exactly one hash exchange
    val p = plan("split_assign")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("decontaminate_bloom probes a literal sketch: one join fewer than the exact tier") {
    def joins(p: String) = Seq("BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin").map(count(p, _)).sum
    val pb = plan("decontaminate_bloom")
    val pe = plan("decontaminate")
    // the exact tier joins the corpus against the broadcast bench set and
    // then joins hit-counts back; the bloom tier replaces the first join
    // with a map-side might_contain filter over a literal sketch
    assert(joins(pb) == joins(pe) - 1, s"bloom joins=${joins(pb)} exact joins=${joins(pe)}")
    assert(pb.contains("might_contain"), "bloom probe predicate missing from plan")
  }

  test("gold_distribution_quantile: bucket assignment is map-side — one agg exchange only") {
    val p = plan("gold_distribution_quantile")
    // sketch edges are driver-folded literals, so the query is
    // scan -> project(comparison chain) -> single aggregation
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Expand"), p)
  }

  test("dedup_incremental reads the persisted corpus index; documents scans are delta-only") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    val all = scans(df.queryExecution.executedPlan)
    val (idx, doc) = all.partition(_.metadata("Location").contains("graft_dedup_idx"))
    // the corpus side must come from the persisted index...
    assert(idx.nonEmpty, "no index scan in the delta query's plan")
    // ...and every scan of the documents table must carry the pushed
    // delta predicate — corpus text is never rescanned per batch
    assert(doc.nonEmpty)
    doc.foreach { s =>
      assert(s.metadata("PushedFilters").contains("GreaterThanOrEqual(doc_id,400)"),
        s"corpus rows not pruned from a documents scan: ${s.metadata("PushedFilters")}")
    }
  }

  test("knn_ivf_incremental reads persisted centroids; embeddings scans are delta-only") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("knn_ivf_incremental")(spark, sf)
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    // centroids fold to a driver literal BEFORE the plan, so the only
    // file scans left must be delta-pruned embeddings reads — a plan
    // containing an unfiltered embeddings scan means the indexed corpus
    // was touched (the refit-per-batch anti-pattern)
    val all = scans(df.queryExecution.executedPlan)
    val emb = all.filter(_.metadata("Location").contains("embeddings"))
    assert(emb.nonEmpty)
    emb.foreach { s =>
      assert(s.metadata("PushedFilters").contains("GreaterThanOrEqual(vec_id,400)"),
        s"indexed vectors not pruned from an embeddings scan: ${s.metadata("PushedFilters")}")
    }
  }

  test("incremental refreshes never rescan pre-cutoff orders") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    for ((q, dir) <- Seq("ca_monthly_incremental" -> "graft_ca_partial",
        "kpis_incremental" -> "graft_kpi_partial")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val all = scans(df.queryExecution.executedPlan)
      val (partial, orders) = all.partition(_.metadata("Location").contains(dir))
      // the historical side must come from the persisted partial...
      assert(partial.nonEmpty, s"$q: no persisted-partial scan in the refresh plan")
      // ...and every orders scan must push the delta date bound — the
      // pre-cutoff fact is never rescanned per refresh
      assert(orders.nonEmpty)
      orders.foreach { s =>
        assert(s.metadata("PushedFilters").contains("GreaterThanOrEqual(o_orderdate,"),
          s"$q: pre-cutoff orders not pruned: ${s.metadata("PushedFilters")}")
      }
    }
  }

  test("vocab_top_approx: recount join broadcasts candidates; token stream never join-shuffled") {
    val p = plan("vocab_top_approx")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("events_range_join: interval predicate rides a (user, bin) equi-join") {
    // the whole point of the time-bin quantization is that Spark gets a
    // hash-joinable key — an interval-only join degenerates to a
    // nested-loop over each user's history
    val p = plan("events_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25_search: per-term df is broadcast, postings never join-shuffled twice") {
    val p = plan("bm25_search")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("customer_overlap: the fused flag-aggregate is ONE customer-keyed shuffle") {
    // the doc claims single-shuffle vs the 3-scan intersect/except form —
    // enforce it (the final 1-row agg needs no exchange; SinglePartition)
    val p = plan("customer_overlap")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("events_hopping: row-local window expansion, one time-keyed shuffle") {
    val p = plan("events_hopping")
    // the ×4 expansion must stay inside the scan stage (no Expand-then-
    // exchange-then-expand), with one aggregation exchange + the ORDER BY
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed scale tiers never degenerate to all-pairs") {
    // the exact tiers (dedup_embedding, knn_bruteforce) are O(N²) by
    // design; every bucketed/banded tier must keep candidate generation
    // join-based — a cross/nested-loop join here is a silent 100 TB
    // regression
    for (q <- Seq("dedup_minhash", "dedup_simhash", "dedup_ngram",
        "dedup_embedding_lsh", "knn_lsh", "dedup_clusters", "typo_pairs",
        "basket_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("ApproxDistinctRewrite: HLL only with the rule, multi-column stays exact") {
    val ns = spark.newSession()
    org.apache.spark.sql.graftbridge.Bridge.addOptimizerRule(
      ns, graft.plans.ApproxDistinctRewrite)
    import ns.implicits._
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    val rows = Seq.tabulate(1000)(i => (i % 37, i % 101))
    // a session without the rule: exact result, no sketch in the plan
    val exact = spark.createDataFrame(rows).toDF("k", "v").agg(countDistinct("v"))
    assert(!exact.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"), exact.queryExecution.optimizedPlan)
    assert(exact.head().getLong(0) == 101L)
    val df = rows.toDF("k", "v")
    val on = df.agg(countDistinct("v"))
    assert(on.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"), on.queryExecution.optimizedPlan)
    // identical sketch params ⇒ the rewrite equals the explicit call
    assert(on.head().getLong(0) ==
      df.agg(approx_count_distinct("v")).head().getLong(0))
    // multi-column distinct keeps exact semantics (the sketch doesn't
    // model tuples) — scope guard
    val multi = df.agg(countDistinct("k", "v"))
    assert(!multi.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    // (i%37, i%101) has period lcm=3737 > 1000 ⇒ all pairs distinct
    assert(multi.head().getLong(0) == 1000L)
  }

  test("user_state_intervals: ONE data exchange feeds both windows, the island agg and the lead") {
    val p = plan("user_state_intervals")
    // lag/running-sum windows share the (user_id | ts,event_id) sort; the
    // (user_id, state_seq) aggregate and the lead window are clustered by
    // the user_id partitioning already (subset rule) — a second hash
    // exchange here means the fusion regressed
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    // the ORDER BY contract stays a single range exchange
    assert(count(p, "Exchange rangepartitioning") == 1, p)
  }

  test("local_supplier_volume: Q5 cycle closes as equi-joins, dim chain broadcast") {
    val p = plan("local_supplier_volume")
    // the customer=supplier nation closure must land as a join KEY —
    // a cartesian/nested-loop here means the cycle degenerated to a
    // filter over a cross product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // nation and region (the dimension chain) both broadcast; the
    // supplier side is deliberately left to AQE (see the source note)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
  }

  test("dedup_ngram_prefix: candidate join keys on df-ordered prefix tokens, not all shingles") {
    val p = plan("dedup_ngram_prefix")
    // the AllPairs prefix bound (pos <= n - ceil(j*n) + 1) must gate
    // BOTH self-join sides before the candidate join — without it the
    // join is the full posting-list self-join, i.e. all-pairs again
    assert(p.toUpperCase.contains("CEIL"), p)
    assert(count(p, "row_number") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("market_share: the share ratio is ONE grouped pass, never a self-join of aggregates") {
    val p = plan("market_share")
    // num4/den4 come out of the same HashAggregate (partial + final = 2
    // occurrences); a numerator-aggregate ⋈ denominator-aggregate
    // refactor doubles that and adds a join of two aggregated frames
    assert(count(p, "HashAggregate") == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // region/nation dim chain broadcasts on both the customer-prune and
    // supplier-nation sides
    assert(count(p, "BroadcastHashJoin") >= 3, p)
  }

  test("small_quantity_revenue: the decorrelated average runs over the brand-pruned frame") {
    val p = plan("small_quantity_revenue")
    // BOTH passes (per-part average and the probe) must semi-prune
    // through the broadcast brand parts BEFORE aggregating/joining — one
    // LeftSemi means the correlated average regressed to full lineitem
    assert(count(p, "LeftSemi") == 2, p)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("order_priority: the correlated EXISTS stays a hash semi join, never a nested loop") {
    val p = plan("order_priority")
    // equi-key + per-order inequality: the key must drive a hash/merge
    // LeftSemi with the inequality as residual — a nested-loop or
    // cartesian here is the O(orders x lines) trap
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("client_percentiles: distributed ranks, never a single-partition window") {
    val p = plan("client_percentiles")
    // percent_rank/cume_dist SQL forms compile to an empty-partition
    // Window = Exchange SinglePartition — the one shape that cannot
    // scale; this query exists to avoid it
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Window"), p)
    // the machinery that replaces it: one range repartition for the
    // global order (+ the ORDER BY contract), ranks via mapPartitions
    assert(count(p, "Exchange rangepartitioning") >= 1, p)
  }

  test("copurchase_triangles: adjacency-intersect census — no cartesian, no close join, cached fan-out") {
    // node-level census, stopping at cache boundaries: the plan STRING
    // re-prints each InMemoryRelation's build plan, so substring counts
    // would charge the (once-built) cache's exchanges to every consumer
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins._
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case s: InMemoryTableScanExec => Seq(s) // cache build runs once, not per consumer
      case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
    }
    val ns = nodes(SparkEntry.queries("copurchase_triangles")(spark, sf)
      .queryExecution.executedPlan)
    def n(f: SparkPlan => Boolean) = ns.count(f)
    val census = ns.groupBy(_.getClass.getSimpleName).view.mapValues(_.size).toMap
    // the two adjacency attaches must stay equi-joins — a cartesian/
    // nested-loop here is the deg² celebrity-node trap the degree
    // orientation exists to prevent
    assert(n(_.isInstanceOf[CartesianProductExec]) == 0, census)
    assert(n(_.isInstanceOf[BroadcastNestedLoopJoinExec]) == 0, census)
    // r17 shape: the close is an IN-TASK array_intersect on the two
    // endpoint adjacency lists — NO join of any kind may carry wedge
    // rows, so the whole plan holds exactly the two equi-joins that
    // attach nbu/nbv to the |E|-row edge stream (a third join means the
    // wedge-materializing self-join + semi close crept back)
    assert(n {
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec
           | _: BroadcastHashJoinExec => true
      case _ => false
    } == 2, census)
    // cached fan-out: the oriented frame feeds the edge stream + the
    // adjacency build, the nbrs frame feeds both attaches — consumers
    // must read the caches (3 scans total), never rebuild the edge
    // frame (measured 3x the query cost when this regressed)
    assert(n(_.isInstanceOf[InMemoryTableScanExec]) == 3, census)
    // consumer-side shuffles only: the u-attach pair, the v-attach
    // pair, and the final membership aggregate — nothing wedge-
    // proportional beyond the packed arrays riding the v-attach
    val distinctEx = ns.collect {
      case e: ShuffleExchangeExec => e.canonicalized }.distinct.size
    assert(distinctEx <= 5, s"$distinctEx distinct exchanges; $census")
  }

  test("product_rank: broadcast-regime PageRank rounds are exchange-free single stages") {
    // the final plan can't show the per-round shape (localCheckpoint
    // severs lineage every round) — probe each round's frame instead.
    // Broadcast regime (|V| <= 4M, always true at test SF): the rank
    // join is map-side against the broadcast rank vector and the
    // contribution sum lands on the hash(dst) layout pinned ONCE before
    // the loop, so a round must plan ZERO exchanges — one stage per
    // round. An exchange appearing here means the pinned-layout
    // contract broke and every round pays a 2|E| shuffle at scale.
    val cp = Gold.copurchasePairs(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    Gold.productRankFrom(cp, iters = 3,
      roundProbe = df => plans += df.queryExecution.executedPlan.toString).collect()
    assert(plans.size == 3)
    for (p <- plans) {
      // no DATA exchange: the hash layout declared across the checkpoint
      // (Bridge.declareHashPartitioning) satisfies the contribution
      // sum's distribution, so partial+final agg fuse into the scan
      // stage; the one BroadcastExchange is the |V|-row rank vector
      assert(count(p, "Exchange hashpartitioning") == 0, p)
      assert(count(p, "Exchange rangepartitioning") == 0, p)
      assert(count(p, "BroadcastExchange") == 1, p)
      assert(count(p, "BroadcastHashJoin") == 1, p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("product_communities: broadcast-regime LPA rounds are exchange-free single stages") {
    // same discipline as the pageRank pin above: localCheckpoint severs
    // each round's lineage, so the per-round shape is probed. Broadcast
    // regime (|V| <= 4M, always true at test SF): the label join is
    // map-side against the broadcast label frame, and BOTH aggregates —
    // the (src, label) weight sum and the per-src argmax — land on the
    // hash(src) layout pinned once before the loop (hash(src) satisfies
    // ClusteredDistribution(src, label) and (src) alike). An exchange
    // here means every LPA round pays a 2|E| aggregation shuffle at scale.
    val edges = Gold.communityEdges(Gold.itemCooccurrenceFrom(
      Gold.orderItems(Tables.lineitem(spark, sf))))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    Graph.labelPropagation(edges, rounds = 3,
      roundProbe = df => plans += df.queryExecution.executedPlan.toString).collect()
    assert(plans.size == 3)
    for (p <- plans) {
      assert(count(p, "Exchange hashpartitioning") == 0, p)
      assert(count(p, "Exchange rangepartitioning") == 0, p)
      assert(count(p, "BroadcastExchange") == 1, p)
      assert(count(p, "BroadcastHashJoin") == 1, p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("merge_upsert: full-outer join rides the two aggregate exchanges, filters pushed") {
    val p = plan("merge_upsert")
    // one exchange per aggregated side; the key-unique full-outer join
    // must NOT add a third
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(count(p, "SortMergeJoin") == 1, p)
    // cutoff + validity predicates reach both parquet scans
    assert(count(p, "PushedFilters: [IsNotNull(o_totalprice), IsNotNull(o_orderdate)") == 2, p)
  }
}
