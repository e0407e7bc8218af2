package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Forked-JVM half of MemoAuditSpec: stopped-session eviction cannot be
  * exercised inside the shared-context suite (a JVM allows one active
  * SparkContext, and stopping it would kill every other suite), so this
  * main runs the full lifecycle in its own JVM:
  *
  *  1. session A populates one entry of each family in [[Shared]]'s two
  *     stores: the released side (the `fact` frame, the kmeans fit
  *     `kmeans_fit`, a CacheOnce plan frame) and the session side (the
  *     attribution pairs drain, its heartbeat dir, the upsert sink dir,
  *     a stream prefix's last memory table and a [[Tables.load]]
  *     relation); the heartbeat dir and the last memory table are keyed
  *     by A's stream state clone ([[Streams.stateSession]]);
  *  2. session A's context stops; a FRESH context (session B) comes up
  *     and loads a table and runs a query, the normal accesses whose
  *     first step evicts stopped sessions' entries from each store;
  *  3. no family may still hold session A's entry, and neither store any
  *     entry of A or of its state clone;
  *  4. session B's entries are there, proving the eviction left the
  *     stores serviceable.
  *
  * Prints MEMO_AUDIT_PASS on success; any require failure exits nonzero
  * and the spec surfaces the captured output. */
object MemoAuditMain {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    def session() = EntryPoint.session("4")

    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val id1 = Bridge.sessionUUID(s1)
    // one query per family (cheap at sf0.001): event_funnel caches its
    // step frames through CacheOnce; copurchase_triangles adds entries
    // owned by a cloned session of the same context
    for (q <- Seq("fact_achats", "kmeans_segments", "events_attribution_outer",
        "events_upsert_publish", "event_funnel", "copurchase_triangles"))
      SparkEntry.queries(q)(s1, sf).collect()
    // the streams read on session A's state clone, which keys the
    // heartbeat dir and the memory-sink pointer
    val state1 = Bridge.sessionUUID(Streams.stateSession(s1))
    def keptBy(id: String)(k: Any => Boolean) =
      Shared.kept.keys.exists { case (u, key) => u == id && k(key) }
    // family -> does it hold an entry of session A (or its state clone)
    val families: Seq[(String, () => Boolean)] = Seq(
      "shared frame fact" -> (() => Shared.released.keys((id1, ("fact", sf)))),
      "ML fit kmeans" -> (() => Shared.released.keys((id1, ("kmeans_fit", sf)))),
      "CacheOnce plan frame" -> (() =>
        Shared.released.keys.exists { case (u, k) => u == id1 && k.isInstanceOf[Int] }),
      "attribution pairs" -> (() => Shared.kept.keys((id1, ("attrPairs", sf)))),
      "heartbeat dir" -> (() => Shared.kept.keys((state1, ("heartbeat", sf)))),
      "upsert dir" -> (() => Shared.kept.keys((id1, ("upsert_q", sf)))),
      "last memory table" -> (() => keptBy(state1) { case ("lastSink", _) => true; case _ => false }),
      "Tables.load" -> (() => keptBy(id1) { case ("load", `sf`, _) => true; case _ => false }))
    val missing = families.collect { case (f, holds) if !holds() => f }
    require(missing.isEmpty, s"no session-A entry in: ${missing.mkString(", ")}")
    s1.stop()

    val s2 = session()
    s2.sparkContext.setLogLevel("ERROR")
    val id2 = Bridge.sessionUUID(s2)
    require(Tables.load(s2, sf, "region").count() > 0)
    require(SparkEntry.queries("fact_achats")(s2, sf).count() > 0)
    val survivors = families.collect { case (f, holds) if holds() => f }
    require(survivors.isEmpty,
      s"dead session's entries survive in: ${survivors.mkString(", ")}")
    val dead = Set(id1, state1)
    val leftover = Seq("released" -> Shared.released, "kept" -> Shared.kept)
      .collect { case (n, m) if m.keys.exists(k => dead(k._1)) => n }
    require(leftover.isEmpty, s"dead session's entries survive in: ${leftover.mkString(", ")}")
    require(Shared.released.keys((id2, ("fact", sf))))
    require(Shared.kept.keys((id2, ("load", sf, "region"))))
    s2.stop()
    println(s"MEMO_AUDIT_PASS families=${families.size}")
  }
}
