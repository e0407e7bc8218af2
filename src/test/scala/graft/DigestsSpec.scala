package graft

import org.apache.spark.sql.functions._

import graft.queries.{Digest, QuerySpec}

/** Pins the determinism-digest gate (graft.Digests) that machine-checks
  * the no-oracle queries against committed goldens, the spec registry's
  * size, and the SessionMemo container behind both of [[Shared]]'s
  * lifetimes. */
class DigestsSpec extends SparkSpec {

  test("resultDigest is row-order independent and column-order independent") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.5), (2L, "y", -0.25), (3L, null, 0.0))
      .toDF("k", "s", "v")
    val shuffled = a.orderBy(desc("k")).repartition(7)
    assert(Digests.resultDigest(a) == Digests.resultDigest(shuffled))
    // column ORDER must not matter (fields sort by name before folding)
    val reordered = a.select("v", "k", "s")
    assert(Digests.resultDigest(a) == Digests.resultDigest(reordered))
  }

  test("resultDigest is sensitive to any cell change, row loss, and null-vs-blank") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.5), (2L, "y", -0.25)).toDF("k", "s", "v")
    val d = Digests.resultDigest(a)
    assert(d != Digests.resultDigest(
      Seq((1L, "x", 1.5), (2L, "y", -0.250001)).toDF("k", "s", "v")))
    assert(d != Digests.resultDigest(a.limit(1)))
    // a NULL cell and an empty string must not collide
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("k", "s")
    val withBlank = Seq((1L, "")).toDF("k", "s")
    assert(Digests.resultDigest(withNull) != Digests.resultDigest(withBlank))
    // format: "<n_rows>:<hex>"
    assert(d.matches("""2:[0-9a-f]+"""))
    assert(Digests.resultDigest(a.limit(0)) == "0:0")
  }

  test("the spec registry holds exactly 191 distinct query names") {
    // Seq → Map would silently drop a duplicated name from `queries`
    val names = SparkEntry.specs.map(_.name)
    assert(names.size == 191)
    assert(names.distinct.size == names.size,
      s"duplicated: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("every digest-pinned query carries goldens for sf0.001, sf0.01 and sf0.1") {
    // an unpinned dataset would let Verify skip the comparison silently
    val pinned = SparkEntry.specs.collect { case q @ QuerySpec(_, _, Digest(g, _)) => q.name -> g }
    assert(pinned.nonEmpty)
    pinned.foreach { case (name, golden) =>
      assert(golden.keySet == Set("sf0.001", "sf0.01", "sf0.1"), name)
    }
  }

  test("SessionMemo: winner semantics, per-session keys") {
    val m = new Shared.SessionMemo[String, String]
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(m.getOrElseUpdate(spark, "k", build("a")) == "a")
    assert(m.getOrElseUpdate(spark, "k", build("b")) == "a") // memo hit
    assert(builds == 1)
    assert(m(spark, "k") == "a")
    val clone = spark.newSession()
    assert(m.getOrElseUpdate(clone, "k", build("d")) == "d") // own slot
    assert(m(spark, "k") == "a")
    assert(m.keys.map(_._1).forall(_.length == 36)) // sessionUUID keys
    m.clear()
    assert(m.values.isEmpty)
  }
}
