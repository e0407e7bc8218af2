package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck equivalence for the gold-layer set/graph operators:
  * random keyed changesets and random baskets checked against
  * brute-force driver references. The triangle reference enumerates
  * ordered triples directly from the derived edge set, so any
  * orientation slip (double count, missed closing edge, dropped
  * duplicate) falsifies immediately.
  */
object GoldProps extends Properties("Gold") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(SparkSpec.fuzzN(6))

  private lazy val spark = SparkSpec.session

  private val genBase = Gen.mapOf(for {
    k <- Gen.choose(1L, 8L)
    n <- Gen.choose(1L, 5L)
    cents <- Gen.choose(0L, 5000L)
  } yield k -> (n, cents))

  private val genChanges = Gen.mapOf(for {
    k <- Gen.choose(1L, 8L)
    n <- Gen.choose(1L, 5L)
    cents <- Gen.choose(0L, 5000L)
    op <- Gen.oneOf("U", "D")
  } yield k -> (n, cents, op))

  property("mergeUpsert equals the four-branch reference merge") =
    Prop.forAll(genBase, genChanges) { (base, chg) =>
      import spark.implicits._
      val baseDf = base.toSeq.map { case (k, (n, c)) => (k, n, c) }
        .toDF("o_custkey", "n_orders", "cents")
      val chgDf = chg.toSeq.map { case (k, (n, c, op)) => (k, n, c, op) }
        .toDF("o_custkey", "c_n", "c_cents", "op")
      val expected = (base.keySet ++ chg.keySet).toSeq.sorted.flatMap { k =>
        (base.get(k), chg.get(k)) match {
          case (Some((n, c)), None)                => Some((k, n, c))
          case (Some(_), Some((_, _, "D")))        => None // matched delete
          case (Some((n, c)), Some((cn, cc, _)))   => Some((k, n + cn, c + cc))
          case (None, Some((cn, cc, "U")))         => Some((k, cn, cc))
          case (None, Some((_, _, _)))             => None // unmatched delete
          case (None, None)                        => sys.error(s"key $k in neither map")
        }
      }
      // compare in exact cents: the engine divides once on output, so
      // round-tripping its 2dp double back to cents is lossless
      val got = Gold.mergeUpsert(baseDf, chgDf).collect().map(r =>
        (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100))).toSeq
      got == expected
    }

  private val genBaskets = for {
    n <- Gen.choose(1, 20)
    rows <- Gen.listOfN(n, for {
      order <- Gen.choose(1L, 5L)
      part <- Gen.choose(1L, 7L)
    } yield (order, part))
  } yield rows

  // baskets drawn from either a narrow catalog (every part frequent — the
  // adaptive prune must take the shared-cooc no-op path) or a wide one
  // (most parts below support — the prune fires); the reference is the
  // same either way, so a prune that drops a surviving pair, keeps a
  // sub-support pair, or shifts a lift denominator falsifies immediately
  private val genTailedBaskets = for {
    maxPart <- Gen.oneOf(5L, 30L)
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      order <- Gen.choose(1L, 6L)
      part <- Gen.choose(1L, maxPart)
    } yield (order, part))
  } yield rows

  property("basketPairsFrom with adaptive support prune equals brute force") =
    Prop.forAll(genTailedBaskets, Gen.choose(1L, 3L)) { (rows, minSup) =>
      import spark.implicits._
      val items = rows.distinct
      val nOrders = items.map(_._1).distinct.size
      val freq = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val byOrder = items.groupBy(_._1).view.mapValues(_.map(_._2))
      val together = byOrder.values.flatMap(ps =>
        for (a <- ps; b <- ps if a < b) yield (a, b))
        .groupBy(identity).view.mapValues(_.size.toLong)
      // mirror Spark's exact arithmetic: double multiply/divide, then
      // HALF_UP at 6dp (what functions.round does on a double)
      def lift(p: (Long, Long), t: Long): Double =
        java.math.BigDecimal.valueOf(t.toDouble * nOrders / (freq(p._1) * freq(p._2)))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val expected = together.filter(_._2 >= minSup).toSeq
        .map { case (p, t) => (p._1, p._2, t, lift(p, t)) }
        .sortBy { case (p1, p2, _, l) => (-l, p1, p2) }
        .take(20)
      val itemsDf = rows.toDF("l_orderkey", "l_partkey")
      val frame = Gold.orderItems(itemsDf)
      val got = Gold.basketPairsFrom(frame, Gold.itemCooccurrenceFrom(frame),
          minSupport = minSup).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      got == expected
    }

  property("copurchaseTriangles equals brute-force triple enumeration") =
    Prop.forAll(genBaskets) { rows =>
      import spark.implicits._
      val li = rows.toDF("l_orderkey", "l_partkey")
      // reference: undirected edge set from per-order pairs, then count
      // triples {a<b<c} with all three edges present; per-node = number
      // of triples containing the node
      val byOrder = rows.distinct.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
      val edges = byOrder.values.flatMap(ps =>
        for (a <- ps; b <- ps if a < b) yield (a, b)).toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val triples = for {
        a <- nodes; b <- nodes if a < b && edges((a, b))
        c <- nodes if b < c && edges((b, c)) && edges((a, c))
      } yield (a, b, c)
      val perNode = triples.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      val expected = perNode.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
      val got = Gold.copurchaseTriangles(li).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      got == expected
    }
}
