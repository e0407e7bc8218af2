package graft

import org.apache.spark.sql.functions._

/** Pins the determinism-digest gate (graft.Digests) that machine-checks
  * the no-oracle queries across rounds, and the SessionMemo container
  * the round-15 eviction sweep moved every session-keyed memo onto. */
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

  test("every golden-pinned and exempt query exists in the registry; sets are disjoint") {
    val reg = SparkEntry.queries.keySet
    assert(Digests.queries.subsetOf(reg),
      s"unknown digest queries: ${Digests.queries -- reg}")
    assert(Digests.exempt.keySet.subsetOf(Digests.queries))
    val pinned = Digests.golden.keySet.map(_._1)
    assert(pinned.subsetOf(Digests.queries))
    // no query is both golden-pinned and exempt
    assert((pinned & Digests.exempt.keySet).isEmpty)
    // everything under digest pinning is either golden-pinned or
    // documented exempt — a third state would be an unpinned hole
    assert(pinned ++ Digests.exempt.keySet == Digests.queries)
    // none of the digest queries carries a DuckDB oracle (those are
    // already hash-checked; double-gating would mask a ledger error)
    assert((Digests.queries & SparkEntry.oracleSql.keySet).isEmpty)
    // every registry query has exactly one gate: a DuckDB oracle or a
    // digest pin — a query with neither would ship unchecked
    assert(SparkEntry.oracleSql.keySet ++ Digests.queries == reg,
      s"ungated: ${reg -- SparkEntry.oracleSql.keySet -- Digests.queries}; " +
        s"unregistered: ${SparkEntry.oracleSql.keySet ++ Digests.queries -- reg}")
    // an exact tier replaces its query's body in Verify, so it must be
    // oracle-checked there
    assert(SparkEntry.exactTiers.keySet.subsetOf(SparkEntry.oracleSql.keySet),
      s"exact tiers without an oracle: ${SparkEntry.exactTiers.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("SessionMemo: winner semantics, put returns previous, per-session keys") {
    val m = new Tables.SessionMemo[String, String]
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(m.getOrElseUpdate(spark, "k", build("a")) == "a")
    assert(m.getOrElseUpdate(spark, "k", build("b")) == "a") // memo hit
    assert(builds == 1)
    assert(m.put(spark, "k", "c").contains("a"))
    assert(m(spark, "k") == "c")
    val clone = spark.newSession()
    assert(m.getOrElseUpdate(clone, "k", build("d")) == "d") // own slot
    assert(m(spark, "k") == "c")
    assert(m.keys.map(_._1).forall(_.length == 36)) // sessionUUID keys
    m.clear()
    assert(m.values.isEmpty)
  }
}
