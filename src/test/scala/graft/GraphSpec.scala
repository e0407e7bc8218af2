package graft

import org.apache.spark.sql.functions._

/** Connected components (large-star/small-star) vs a driver-side
  * union-find ground truth, plus the worst-case shapes for each
  * algorithm family (long chains kill label propagation; stars kill
  * naive pair-joins). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Ground truth: union-find over the same edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to its minimum (label-prop worst case)") {
    val edges = (1L until 64L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("disjoint cliques and a star keep separate labels") {
    val clique = for { a <- 10L to 14L; b <- 10L to 14L if a < b } yield (a, b)
    val star = (101L to 110L).map(v => (100L, v))
    val got = cc(clique ++ star ++ Seq((500L, 501L)))
    assert(got.filter(_._1 >= 10L).filter(_._1 <= 14L).values.toSet == Set(10L))
    assert(got.filter(_._1 >= 100L).filter(_._1 <= 110L).values.toSet == Set(100L))
    assert(got(501L) == 500L && got(500L) == 500L)
  }

  test("seeded random graph matches union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val truth = unionFind(edges)
    assert(cc(edges) == truth)
  }

  test("empty and self-loop-only edge sets yield no components") {
    assert(cc(Seq.empty) == Map.empty)
    assert(cc(Seq((7L, 7L))) == Map.empty)
  }

  test("star edge set is a fixpoint of both phases") {
    val star = (2L to 9L).map(v => (v, 1L)).toDF("a", "b")
    val afterLarge = Graph.largeStar(star).orderBy("a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val afterSmall = Graph.smallStar(star).orderBy("a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (2L to 9L).map(v => (v, 1L))
    assert(afterLarge == want)
    assert(afterSmall == want)
  }

  test("dedupClusters: every doc labeled, representatives are members, sizes consistent") {
    val docs = Tables.documents(spark, sf)
    val pairs = Llm.jaccardFromStats(Llm.ngramPairStatsFrom(Llm.shingleHashes(docs)))
    val out = Llm.dedupClustersFrom(docs, pairs).cache()
    assert(out.count() == docs.count())
    // cluster_id is always a member of its own cluster
    assert(out.filter(col("doc_id") === col("cluster_id")).count() ==
      out.select("cluster_id").distinct().count())
    // sizes sum back to the doc count
    val sizeSum = out.filter(col("doc_id") === col("cluster_id"))
      .agg(sum("cluster_size")).head().getLong(0)
    assert(sizeSum == docs.count())
    out.unpersist()
  }

  /** Ground truth: dense power iteration on the driver, same damping
    * and rounds as the distributed loop. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val in = edges.groupBy(_._2).map { case (t, es) => t -> es.map(_._1) }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters)
      r = nodes.map(v => v -> ((1 - d) / n +
        d * in.getOrElse(v, Nil).map(s => r(s) / out(s)).sum)).toMap
    r
  }

  test("pageRank matches the dense reference; mass conserved; symmetry respected") {
    // asymmetric directed graph WITH both-direction edges for a core
    // pair, a hub, and a chain — plus a symmetric triangle whose members
    // must tie exactly
    val edges: Seq[(Long, Long)] = Seq(
      (1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (4L, 2L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (10L, 12L), (12L, 11L), (11L, 10L)) // symmetric triangle 10-11-12
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = refPageRank(edges, iters = 10)
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, rank) =>
      assert(math.abs(rank - ref(id)) < 1e-9, s"node $id: $rank vs ${ref(id)}")
    }
    // the symmetric triangle's members tie bit-for-bit
    assert(got(10L) == got(11L) && got(11L) == got(12L))
    // chain/hub ordering: 1 receives from three nodes, 5 from none
    assert(got(1L) > got(5L))
  }

  test("pageRank conserves rank mass on a dangling-free graph") {
    // undirected co-purchase shape: every edge emitted both ways
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 8, bothDirectionsEmitted = true).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    val mass = out.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass leaked: $mass")
    // the undirected fast path computes the same ranks as the general one
    val general = Graph.pageRank(edges, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach(r => assert(r.getDouble(1) == general(r.getLong(0))))
  }

  test("bfsDistances: first-reach levels, unreachable excluded, depth bound") {
    // 1-2-3-4 chain with a shortcut 1-3; node 9 disconnected from 1
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val out = Graph.bfsDistances(edges, source = 1L).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    // the shortcut wins: 3 is at 1 hop, 4 at 2 — and 9/10 never appear
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // depth bound truncates the frontier, keeping what was reached
    val bounded = Graph.bfsDistances(edges, source = 1L, maxDepth = 1).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(bounded == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("communityModularity: 0.5 for two clean cliques, 0 for the everything-community") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (10L, 12L, 1L))
      .toDF("a", "b", "w")
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("v", "label")
    val r = Gold.communityModularity(edges, perfect).head()
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Double]("modularity") == 0.5)
    // the degenerate one-community partition scores exactly zero
    val blob = perfect.select(col("v"), lit(1L).as("label"))
    assert(Gold.communityModularity(edges, blob).head()
      .getAs[Double]("modularity") == 0.0)
  }

  test("labelPropagation: two dense triangles stay separate communities across a weak bridge; deterministic") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L),      // clique A
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L), // clique B
      (3L, 10L, 1L))                                  // weak bridge
      .toDF("a", "b", "w")
    val out = Graph.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aLabels = Set(1L, 2L, 3L).map(out)
    val bLabels = Set(10L, 11L, 12L).map(out)
    assert(aLabels.size == 1, s"clique A split: $out")
    assert(bLabels.size == 1, s"clique B split: $out")
    assert(aLabels != bLabels, s"bridge merged the cliques: $out")
    // pure function of the graph: a second run agrees exactly
    val again = Graph.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again)
    // the wired query: every part labeled once, sizes consistent
    val q = SparkEntry.queries("product_communities")(spark, sf)
    val rows = q.collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).distinct.length == rows.length)
    val bySize = rows.groupBy(_.getLong(1)).map { case (c, rs) =>
      (rs.length.toLong, rs.head.getLong(2)) }
    assert(bySize.forall { case (actual, claimed) => actual == claimed },
      "community_size column disagrees with actual member counts")
  }

  test("kCore: peels a pendant chain off a clique, keeps the core's internal degrees") {
    import spark.implicits._
    // K4 on 1-4 plus a chain 4-5-6: the chain peels in two rounds
    // (deg(6)=1, then deg(5)=1), the clique survives with degree 3
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core = Graph.kCore(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree empties the graph
    assert(Graph.kCore(edges, k = 5).count() == 0)
    // a graph already at its fixpoint passes through unchanged
    val k2 = Graph.kCore(edges.filter(col("a") <= 3 && col("b") <= 4), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }
}
