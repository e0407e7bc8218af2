package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a DataFrame edge list, via
  * alternating large-star / small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014 — a public
  * algorithm designed exactly for this engine's target shape: huge edge
  * sets, bounded-memory reducers, no driver-side graph).
  *
  * Why not label propagation: naive min-label flooding needs
  * O(diameter) rounds — a pathological dup chain (doc A ~ B ~ C ~ ...)
  * makes it O(n). Star contraction converges in O(log² n) rounds on ANY
  * graph, each round being two groupBy shuffles that carry only 8-byte
  * node ids. That is the 100 TB-safe choice.
  *
  * Per-round mechanics (all DataFrame ops, nothing on the driver but the
  * convergence check):
  *  - large-star: every node attaches its LARGER neighbors to the
  *    minimum of its neighborhood (incl. itself) — long chains collapse
  *    toward small ids without ever growing a reducer's group beyond the
  *    node's degree.
  *  - small-star: every node attaches its smaller-or-equal neighbors
  *    (and itself) to the minimum — turns the forest into stars.
  *  - `localCheckpoint` truncates the plan each round (an iterative
  *    DataFrame loop otherwise accretes an exponentially growing
  *    lineage). On a real cluster with a fault-tolerance requirement,
  *    swap for `checkpoint` onto durable storage — same call shape.
  *
  * Convergence = the (count, hash-sum) checksum of the edge set is
  * unchanged by a full large+small round; at the fixpoint every edge is
  * (node, componentMin), i.e. the stars ARE the answer.
  */
object Graph {

  /** Large-star: for each node u with neighborhood Γ(u), attach every
    * v ∈ Γ(u) with v > u to m = min(Γ(u) ∪ {u}). Never emits self-loops
    * (m ≤ u < v). */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val m = und.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.join(m, Seq("u")).filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star: orient edges (u, v) with v < u; for each u attach
    * every smaller neighbor and u itself to m = min of them. */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
    val m = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(m, Seq("u"))
      .select(explode(array(col("u"), col("v"))).as("n"), col("m"))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("a"), col("m").as("b"))
      .distinct()
  }

  /** (count, order-independent hash fold) of the edge set — one action.
    * XOR, not sum: ANSI mode would overflow a long sum, and the edge set
    * is distinct so XOR cancellation can't hide a difference of pairs.
    * This probe doubles as the round's MATERIALIZING action (job
    * fusion): the per-round frames are checkpointed LAZILY, so the
    * checksum job both computes-and-persists the round and reads the
    * convergence scalar — one job per round, not checkpoint + probe. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      bit_xor(xxhash64(col("a"), col("b")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Label every node of the undirected graph `edges` (columns `a`, `b`)
    * with its component's minimum node id. Output: (node, component),
    * one row per distinct node appearing in the edge list — callers
    * left-join and coalesce to cover isolated vertices. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsBy(edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b")), maxIter)

  /** [[connectedComponents]] over nodes of ANY ordered type (the
    * alternating-star algorithm only ever compares and min-folds node
    * labels, so string nodes — entity-resolution vocabularies, URL
    * hosts — work unchanged; Spark's UTF8 binary string order matches
    * DuckDB's default binary collation, which is what lets a string-keyed
    * component map hash-match a recursive-CTE oracle). */
  def connectedComponentsBy(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // lazy checkpoints throughout: the RDD is persisted and the
    // lineage severed at declaration, but the materializing job is the
    // checksum probe the loop must run anyway — fusing what used to be
    // an eager-checkpoint job + a probe job into one job per round.
    // Same frames, same convergence test, half the scheduler round trips.
    var e = edges
      .select(col("a"), col("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    var prev = checksum(e)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      i += 1
    }
    require(converged, s"connectedComponents: not converged after $maxIter rounds")
    val roots = e.select(col("b").as("node")).distinct()
      .withColumn("component", col("node"))
    e.select(col("a").as("node"), col("b").as("component")).union(roots)
  }

  /** PageRank over a directed edge list (`src`, `dst`) — power iteration
    * as pure DataFrame rounds: contributions = ranks / out-degree joined
    * through the edges, summed per destination, damped. Every round is
    * two 8-byte-key shuffles (the join and the sum); `localCheckpoint`
    * truncates the accreting lineage exactly as in
    * [[connectedComponents]]. The only driver scalar is the node count.
    *
    * Callers feeding an UNDIRECTED graph emit both edge directions —
    * that also removes dangling nodes (every node has out-degree ≥ 1),
    * so rank mass is conserved and sums to 1 at every round (GraphSpec
    * pins both the conservation and the values against an in-test
    * reference power iteration); such callers pass `bothDirectionsEmitted = true`
    * to skip the node-set union-distinct the build otherwise pays —
    * the flag asserts the EMISSION contract (every edge present in both
    * directions), not merely "I think of my graph as undirected"; a
    * caller passing an asymmetric frame with it set would silently drop
    * in-degree-0 nodes and their (1−d)/n baseline rank. Fixed iteration count rather than a
    * convergence probe: each probe is an action, and rank deltas decay
    * geometrically — the standard budget (damping 0.85, ~10 rounds for
    * 3-digit stability) is predictable, which a 100 TB scheduler wants. */
  def pageRank(edges: DataFrame, iters: Int = 10,
      damping: Double = 0.85, bothDirectionsEmitted: Boolean = false,
      preDeduped: Boolean = false,
      // test probe: sees each round's rank frame BEFORE localCheckpoint
      // materializes it — PlanShapeSpec pins the per-round plan
      // (broadcast regime: zero exchanges) against regression, which
      // the final plan can't show because the checkpoint severs lineage
      roundProbe: DataFrame => Unit = _ => ()): DataFrame = {
    val cast = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // Checkpoint the (deduped) edge frame once; the loop-load-bearing
    // layout — hash on the round key — is pinned further down on `ew`,
    // where the degree-joined frame is explicitly repartitioned and the
    // layout re-declared across the checkpoint. Callers whose
    // construction already guarantees uniqueness (productRankFrom's
    // parity-encoded bipartite expansion) skip the dedup pass entirely
    // via preDeduped.
    val e = (if (preDeduped) cast else cast.distinct())
      .localCheckpoint()
    // |V|-grain frames first: degree (partial agg collapses each task to
    // its distinct srcs before the exchange) and the node set, so the
    // node COUNT — the scalar every sizing decision below keys on — is
    // known before any 2|E| frame is built.
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    // `bothDirectionsEmitted` callers emitted both directions, so every node is a
    // src and the node set IS outDeg's key set — that skips a 2|E|-row
    // union-distinct. General digraphs (sink-only nodes possible) take
    // the full union.
    val nodes =
      (if (bothDirectionsEmitted) outDeg.select(col("src").as("id"))
       else outDeg.select(col("src").as("id"))
         .union(e.select(col("dst").as("id"))).distinct())
      .localCheckpoint()
    val n = nodes.count()
    // empty graph → empty ranking (1/n is undefined, but there is
    // nothing to rank — degrade, don't crash: an empty edge slice is a
    // routine state for a scheduled graph job)
    if (n == 0L)
      return nodes.sparkSession.range(0)
        .select(col("id").cast("long").as("id"), lit(0.0).as("rank"))
    // |V| rows of (long, double) is ~64 MB at 4M nodes: below that, both
    // the degree attach AND the per-round rank join go map-side
    // (broadcast), so the edge frame is never exchanged at all — the
    // only per-round shuffle is the contribution sum. Past 4M, degree
    // rides with the edges via one explicit hash(src) exchange that
    // localCheckpoint pins for every round's shuffle join (the exchange
    // then lands on the |V|-row ranks side only). One driver scalar
    // decides both, and it was free.
    val broadcastRanks = n <= 4000000L
    // degree rides WITH the edges either way: rounds join ONE frame.
    // Division stays rank/deg, bit-identical to the two-join formulation.
    // Broadcast regime: the rank join needs NO edge-side distribution
    // (the ranks are the broadcast side), so the one distribution a
    // round does need — the contribution sum's hash(dst) — is paid HERE,
    // once: the per-round plan is then a single exchange-free stage
    // (scan ⋈ broadcast → project → partial+final agg on the pinned
    // hash(dst) layout). Shuffle regime keeps hash(src), which the
    // per-round shuffle join requires instead. Two subtleties make the
    // pin REAL rather than aspirational (PlanShapeSpec gates it):
    // under AQE, localCheckpoint drops the physical plan's output
    // partitioning (measured on 4.1.2 — the LogicalRDD comes back with
    // UnknownPartitioning), so the layout is re-declared on the severed
    // plan via Bridge.declareHashPartitioning; and the repartition uses
    // an EXPLICIT partition count, which AQE never coalesces, so the
    // declared hash(key) % n layout is exactly true of the RDD.
    val nPart = cast.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ewKey = if (broadcastRanks) "dst" else "src"
    val ew = org.apache.spark.sql.graftbridge.Bridge.declareHashPartitioning(
      (if (broadcastRanks)
         e.join(broadcast(outDeg), Seq("src")).repartition(nPart, col("dst"))
       else e.repartition(nPart, col("src")).join(outDeg, Seq("src")))
      .localCheckpoint(), Seq(ewKey), nPart)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val rk = if (broadcastRanks) broadcast(ranks) else ranks
      val contribs = ew.join(rk, col("src") === col("id"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("contrib"))
      // bothDirectionsEmitted callers sent every edge both ways, so every node
      // has in-edges and `contribs` already covers the full node set —
      // the zero-contrib left join is a provable no-op there and one
      // whole join per round; general digraphs (sink-only in-degree-0
      // nodes possible) keep it. coalesce stays: it's free, and it makes
      // the two branches the same expression shape.
      val kept =
        if (bothDirectionsEmitted) contribs
        else nodes.join(contribs, Seq("id"), "left")
      val next = kept
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      roundProbe(next)
      // lazy checkpoint: the round's materializing job is the NEXT
      // round's broadcast build (or the consumer's action after the last
      // round) — what used to be an eager-checkpoint job + a broadcast
      // collect per round is now one job. In the broadcast regime the
      // round plan is exchange-free, so the whole round's compute rides
      // that single job; frames and values are bit-identical.
      ranks = next.localCheckpoint(false)
    }
    ranks.orderBy(desc("rank"), col("id"))
  }

  /** Single-source BFS distances over a directed edge list (`a`, `b`) —
    * frontier expansion as DataFrame rounds: join the frontier through
    * the edges, anti-join out already-visited nodes, repeat until the
    * frontier drains or `maxDepth`. Exactly min-distance by
    * construction (a node is labeled the first time it is reached), and
    * — unlike the float power iteration — exactly oracle-checkable
    * (DuckDB reproduces it with a depth-bounded recursive CTE + min()).
    *
    * Scale shape: in the broadcast regime (frontier + visited under the
    * 4M gate) the edge frame is read but never exchanged per round —
    * the frontier join and visited anti-join are map-side, and the one
    * per-round shuffle is the neighbor distinct over the
    * frontier-incident slice (≤ one BFS level of edges, small by
    * construction). Past the gate, a hash(a) copy of the edges is built
    * once for the shuffle join. The per-round `count()` action is the
    * termination probe — one scalar per level, the price of a
    * data-dependent loop. */
  def bfsDistances(edges: DataFrame, source: Long, maxDepth: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // broadcast-regime layout: the frontier join is map-side (frontier
    // is the broadcast side), so the edge frame owes NO distribution to
    // it — the one distribution a round does need is the neighbor
    // distinct's hash(b), pinned here once so the whole round runs as a
    // single exchange-free stage (pageRank's discipline). The >4M-node
    // shuffle regime needs hash(a) for its frontier shuffle join
    // instead; that copy is built lazily IF the walk ever crosses the
    // gate, one extra exchange paid once at a scale where it vanishes.
    // NOT layout-pinned across the checkpoint (unlike pageRank's ew /
    // labelPropagation's sym): in the broadcast regime the frontier
    // join is map-side, so the edge frame is never exchanged per round
    // regardless — the only per-round shuffle is the neighbor distinct,
    // whose input is the frontier-incident slice (small by
    // construction), and letting AQE coalesce those tiny exchanges
    // beats a declared fixed-N layout (measured +77% wall at sf0.1 when
    // the pin forced 32-partition granularity onto every round's
    // frontier frames)
    val eB = edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .repartition(col("b"))
      .localCheckpoint()
    var eA: DataFrame = null
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint()
    var frontier = dist
    var d = 0L
    var reached = 1L
    var done = false
    while (!done && d < maxDepth) {
      // the frontier and the visited set are node-grain; while they fit
      // the broadcast budget (same 4M gate as pageRank's rank vector,
      // tracked from the counts the termination probe already takes),
      // both the expansion join and the visited anti-join go map-side —
      // the only per-round shuffle is the neighbor distinct
      val small = reached <= 4000000L
      val fr = if (small) broadcast(frontier) else frontier
      if (!small && eA == null)
        eA = eB.repartition(col("a")).localCheckpoint()
      val e = if (small) eB else eA
      // anti-join BEFORE distinct: the visited filter is map-side (under
      // the broadcast gate) while distinct is the round's one shuffle —
      // in late rounds most neighbors are already visited, so filtering
      // first shrinks the shuffle to the genuinely-new nodes
      // lazy checkpoint + count (job fusion): the termination probe
      // IS the materializing job — one job per level instead of an
      // eager-checkpoint job plus a count job
      val next = e.join(fr, e("a") === fr("node"))
        .select(col("b").as("node"))
        .join(if (small) broadcast(dist) else dist, Seq("node"), "left_anti")
        .distinct()
        .withColumn("dist", lit(d + 1))
        .localCheckpoint(false)
      val n = next.count()
      if (n == 0) done = true
      else {
        // no re-checkpoint of the accumulated distance set: each
        // level is already a checkpointed RDD, so the union is a flat
        // ≤ maxDepth-leaf scan of persisted blocks — re-materializing it
        // per level copied O(|dist|) rows per round for nothing (the
        // union of LogicalRDDs accretes no lineage to truncate)
        dist = dist.union(next)
        frontier = next
        reached += n
        d += 1
      }
    }
    dist
  }

  /** Deterministic weighted label propagation — the COMMUNITY member of
    * the graph family (rank = pageRank, reach = bfs, cohesion =
    * triangles, connectivity = components; communities are the partition
    * the others can't see: densely-linked groups that need not be
    * cliques or components). Each round every node adopts the label
    * carrying the max total edge weight among its neighbors, ties to the
    * SMALLEST label — no randomization, no async order-dependence, so
    * the result is a pure function of the graph (the classic LPA
    * oscillation risk is bounded by the fixed round count; bipartite
    * flip-flops freeze at the round limit rather than diverge).
    *
    * Scale shape per round: one join of the symmetric edge list against
    * the |V|-row label frame (8-byte keys) and one (node, label) weight
    * aggregate with map-side combine; `localCheckpoint` truncates the
    * accreting lineage as in the other iterative operators. Weights are
    * integer counts, so the argmax is exact — no float accumulation. */
  def labelPropagation(edges: DataFrame, rounds: Int = 5,
      // test probe: sees each round's label frame BEFORE localCheckpoint
      // severs its lineage — PlanShapeSpec pins the broadcast-regime
      // round plan (zero exchanges) against regression, same as pageRank
      roundProbe: DataFrame => Unit = _ => ()): DataFrame = {
    // Same two-regime discipline as pageRank. Below the 4M-node
    // gate the |V|-row label frame is BROADCAST each round, so with the
    // edge list pinned hash(src) the whole round is exchange-free: the
    // map-side label join preserves the hash(src) layout, which
    // satisfies ClusteredDistribution for BOTH the (src, label) weight
    // aggregate and the per-src argmax — zero exchanges per round where
    // the old shape paid a full 2|E| aggregation exchange every round.
    // Past the gate, the label frame rides the shuffle join instead and
    // the edges are pinned hash(dst) so only the |V|-row side is ever
    // exchanged (the shape used at every size before the gate). One
    // free-ish driver scalar (|V| — the count doubles as the label
    // frame's materializing action) decides the regime, exactly like
    // pageRank's rank-vector gate.
    val nPart = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val symRaw = edges
      .select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(edges.select(col("b").as("src"), col("a").as("dst"), col("w")))
    var labels = symRaw.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    val broadcastLabels = labels.count() <= 4000000L
    val symKey = if (broadcastLabels) "src" else "dst"
    val sym = org.apache.spark.sql.graftbridge.Bridge.declareHashPartitioning(
      symRaw.repartition(nPart, col(symKey)).localCheckpoint(),
      Seq(symKey), nPart)
    for (_ <- 1 to rounds) {
      // lazy checkpoints: the round's RDD persists as the next
      // round's broadcast build (or the final consumer) computes through
      // it — no eager materialization job per round
      val lb = if (broadcastLabels) broadcast(labels) else labels
      labels = sym
        .join(lb, col("dst") === col("v"))
        .groupBy(col("src"), col("label"))
        .agg(sum("w").as("wt"))
        .groupBy("src")
        .agg(max(struct(col("wt"), (-col("label")).as("nl"),
          col("label").as("label"))).as("m"))
        .select(col("src").as("v"), col("m.label").as("label"))
      roundProbe(labels)
      labels = labels.localCheckpoint(false)
    }
    labels
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes of
    * degree < k (and their incident edges) until the fixpoint — the
    * standard cohesive-subgraph extractor (Seidman 1983; the distributed
    * peel is one degree aggregation + two semi joins per round, all
    * keyed on node ids, no driver-side graph). The ROUND CONTRACT is
    * `maxRounds` peels: the oracle unrolls exactly that many, and the
    * early stop below only fires at a true fixpoint, where further
    * rounds are no-ops — so both engines compute the identical frame
    * whether or not the graph converged inside the budget. Per-round
    * `localCheckpoint` truncates the accreting lineage exactly as in
    * [[connectedComponents]]. Output: surviving nodes with their degree
    * inside the core. */
  def kCore(edges: DataFrame, k: Int = 3, maxRounds: Int = 16): DataFrame = {
    // lazy checkpoints (job fusion): the per-round count — already
    // the convergence probe — doubles as the materializing job, fusing
    // the former eager-checkpoint job into it (one job per peel round)
    var e = edges
      .select(col("a"), col("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    // one count per round: the previous round's count doubles as this
    // round's "before" size, so convergence costs no extra job
    var before = e.count()
    var i = 0
    var converged = false
    while (i < maxRounds && !converged) {
      val keep = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("v")
      e = e
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
      val after = e.count()
      converged = after == before
      before = after
      i += 1
    }
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
      .orderBy("v")
  }
}
