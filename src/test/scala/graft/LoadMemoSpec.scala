package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Pins [[Tables.load]]'s resolved-relation memo: a [[Shared.session]]
  * entry keyed by Spark's `sessionUUID` (unique per session for the JVM
  * lifetime), never by identity hash, so a GC'd session's slot can never
  * be handed to an unrelated new session.
  *
  * Stop-eviction (`filterInPlace` on `sparkContext.isStopped`) cannot be
  * exercised here — the suite shares one SparkContext and a JVM allows
  * only one — so this spec pins the invariants that make eviction sound:
  * distinct sessions get distinct keys, and a hit returns the identical
  * resolved handle (the whole point of the memo). MemoAuditSpec covers
  * eviction in a forked JVM.
  */
class LoadMemoSpec extends SparkSpec {

  test("repeated load is a memo hit: the identical DataFrame instance") {
    val a = Tables.load(spark, sf, "region")
    val b = Tables.load(spark, sf, "region")
    assert(a eq b, "second load must return the memoized handle, not a re-resolve")
  }

  test("memo keys are sessionUUIDs, and a cloned session gets its own entry") {
    Tables.load(spark, sf, "region")
    val clone = spark.newSession()
    assert(Bridge.sessionUUID(clone) != Bridge.sessionUUID(spark))
    val c = Tables.load(clone, sf, "region")
    assert(!(c eq Tables.load(spark, sf, "region")),
      "a cloned session must resolve its own relation, not share the parent's")
    val keys = Shared.kept.keys
    assert(keys((Bridge.sessionUUID(spark), ("load", sf, "region"))))
    assert(keys((Bridge.sessionUUID(clone), ("load", sf, "region"))))
    // identity hashes must appear nowhere in the key space
    assert(keys.forall(_._1.length == 36), s"non-UUID memo key in $keys")
  }
}
