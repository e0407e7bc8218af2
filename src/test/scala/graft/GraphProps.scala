package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck equivalence for the iterative graph operators: on random
  * undirected graphs (self-contained driver-side references, no Spark in
  * the oracle), the DataFrame frontier/contraction loops must produce
  * exactly the classical algorithms' answers. Fixed-case specs pin the
  * known edge semantics; these hunt the layouts nobody thought to write
  * down (stars inside chains, multi-component tangles, dense cores). */
object GraphProps extends Properties("Graph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(SparkSpec.fuzzN(6))

  private lazy val spark = SparkSpec.session

  // up to 14 nodes over a 20-id space (gaps = isolated ids that must NOT
  // appear), edge count up to ~2n — sparse enough for long chains,
  // dense enough for cycles
  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 14)
    m <- Gen.choose(1, 2 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, 20L)
      b <- Gen.choose(1L, 20L) if a != b
    } yield (a, b))
  } yield edges

  private def refBfs(edges: Seq[(Long, Long)], source: Long): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    var dist = Map(source -> 0L)
    var frontier = Set(source)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist ++= next.map(_ -> (dist(frontier.head) + 1))
      frontier = next
    }
    dist
  }

  private def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> refBfs(edges, n).keySet.min).toMap
  }

  property("bfsDistances equals driver BFS on random graphs") =
    Prop.forAll(genGraph) { edges =>
      import spark.implicits._
      val df = (edges ++ edges.map(_.swap)).toDF("a", "b")
      val source = edges.head._1
      val got = Graph.bfsDistances(df, source, maxDepth = 25).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
      got == refBfs(edges, source)
    }

  property("connectedComponents labels every node with its component min") =
    Prop.forAll(genGraph) { edges =>
      import spark.implicits._
      val df = edges.toDF("a", "b")
      val got = Graph.connectedComponents(df).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
      got == refComponents(edges)
    }

  // ---- hostile-input replays for the iterative contracts ------------------
  // Each re-derives the exact synchronous dynamics driver-side and demands
  // bit equality — the posture that found every real bug since round 9.

  /** BFS is DIRECTED and depth-TRUNCATED by contract: callers hand it a
    * symmetric frame when they mean undirected, and copurchaseDistanceFrom
    * relies on "a node is labeled the first time it arrives". The replay
    * runs raw directed edges with a maxDepth that is OFTEN SMALLER than
    * the true eccentricity, so a frontier that sneaks one round past the
    * budget, or revisits a labeled node, falsifies. */
  private def refBfsDirected(edges: Seq[(Long, Long)], source: Long,
      maxDepth: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    var dist = Map(source -> 0L)
    var frontier = Set(source)
    var d = 0L
    while (frontier.nonEmpty && d < maxDepth) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      d += 1
      dist ++= next.map(_ -> d)
      frontier = next
    }
    dist
  }

  property("bfsDistances (directed, truncated) equals the replay at any depth budget") =
    Prop.forAll(genGraph, Gen.choose(0, 6)) { (edges, depth) =>
      import spark.implicits._
      val df = edges.toDF("a", "b")
      val source = edges.head._1
      val got = Graph.bfsDistances(df, source, maxDepth = depth).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
      val want = refBfsDirected(edges, source, depth.toLong)
      Prop(got == want) :| s"depth=$depth got=$got want=$want"
    }

  /** Weighted LPA: 5 synchronous rounds, every node adopts the label with
    * the max total incident weight among its neighbors' PREVIOUS-round
    * labels, ties to the smallest label. The replay reproduces those
    * dynamics literally (including bipartite flip-flops frozen by the
    * round budget); an async update, a wrong tie sign, or a double-counted
    * duplicate edge falsifies. */
  private val genWeighted: Gen[Seq[(Long, Long, Long)]] = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 2 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, 15L)
      b <- Gen.choose(1L, 15L) if a != b
      w <- Gen.choose(1L, 4L)
    } yield (math.min(a, b), math.max(a, b), w))
  } yield edges.groupBy(e => (e._1, e._2)).map { case ((a, b), es) =>
    (a, b, es.head._3) // unique undirected edges — the builder's contract
  }.toSeq

  private def refLpa(edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = edges ++ edges.map(e => (e._2, e._1, e._3))
    val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(v => (v._2, v._3)) }
    var labels = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (v, nbrs) =>
        val wt = nbrs.groupBy(n => labels(n._1))
          .map { case (l, ns) => l -> ns.map(_._2).sum }
        v -> wt.toSeq.minBy { case (l, w) => (-w, l) }._1
      }
    }
    labels
  }

  property("labelPropagation equals the synchronous smallest-label-tie replay") =
    Prop.forAll(genWeighted) { edges =>
      import spark.implicits._
      val df = edges.toDF("a", "b", "w")
      val got = Graph.labelPropagation(df).collect()
        .map(r => r.getAs[Long]("v") -> r.getAs[Long]("label")).toMap
      val want = refLpa(edges, 5)
      Prop(got == want) :| s"got=$got want=$want"
    }

  /** k-core peel: drop ALL nodes of degree < k simultaneously each round,
    * to fixpoint or the 16-round budget; self-loops and duplicate edges
    * must be cleaned BEFORE the first degree count (the generator injects
    * both). Output = surviving nodes with their in-core degree. */
  private val genDirty: Gen[(Seq[(Long, Long)], Int)] = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 3 * n)
    k <- Gen.choose(2, 3)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, 12L)
      b <- Gen.choose(1L, 12L) // a == b allowed: hostile self-loops
    } yield (a, b))
  } yield (edges, k)

  private def refKCore(edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int): Map[Long, Long] = {
    var e = edges.filter(ed => ed._1 != ed._2).distinct.toSet
    var i = 0
    var converged = false
    while (i < maxRounds && !converged) {
      def deg = e.toSeq.flatMap(ed => Seq(ed._1, ed._2))
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter(ed => keep(ed._1) && keep(ed._2))
      converged = next == e
      e = next
      i += 1
    }
    e.toSeq.flatMap(ed => Seq(ed._1, ed._2))
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
  }

  property("kCore equals the synchronous peel replay on dirty edge lists") =
    Prop.forAll(genDirty) { case (edges, k) =>
      import spark.implicits._
      val df = edges.toDF("a", "b")
      val got = Graph.kCore(df, k).collect()
        .map(r => r.getAs[Long]("v") -> r.getAs[Long]("core_deg")).toMap
      val want = refKCore(edges, k, 16)
      Prop(got == want) :| s"k=$k got=$got want=$want"
    }
}
