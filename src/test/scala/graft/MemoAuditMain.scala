package graft

/** Forked-JVM half of MemoAuditSpec (r15 judge item 6): stopped-session
  * eviction cannot be exercised inside the shared-context suite (a JVM
  * allows one active SparkContext, and stopping it would kill every
  * other suite), so this main runs the full lifecycle in its own JVM:
  *
  *  1. session A populates one entry of each memo family: Shared's
  *     released side (the `fact` frame, the kmeans fit `kmeans_fit`, a CacheOnce
  *     plan frame), Shared's session side (the attribution pairs drain,
  *     its heartbeat dir, the upsert sink dir), Streams' lastSink
  *     pointer and Tables.load; the heartbeat dir and lastSink are keyed
  *     by A's stream state clone ([[Streams.stateSession]]);
  *  2. session A's context stops; a FRESH context (session B) comes up;
  *  3. the eviction pass every access runs is invoked on EVERY
  *     SessionMemo in the JVM (the instance registry — a memo added
  *     anywhere in the codebase is audited automatically); no family may
  *     still hold session A's entry, and no registry any entry of A or
  *     of its state clone;
  *  4. session B then uses the memos normally, proving the eviction
  *     left them serviceable.
  *
  * Prints MEMO_AUDIT_PASS on success; any require failure exits nonzero
  * and the spec surfaces the captured output. */
object MemoAuditMain {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    def session() = EntryPoint.session("4")

    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val id1 = Tables.sessionId(s1)
    // one query per family (cheap at sf0.001): event_funnel caches its
    // step frames through CacheOnce; copurchase_triangles adds entries
    // owned by a cloned session of the same context
    for (q <- Seq("fact_achats", "kmeans_segments", "events_attribution_outer",
        "events_upsert_publish", "event_funnel", "copurchase_triangles"))
      SparkEntry.queries(q)(s1, sf).collect()
    // the streams read on session A's state clone, which keys the
    // heartbeat dir and the memory-sink pointer
    val state1 = Tables.sessionId(Streams.stateSession(s1))
    // family -> does it hold an entry of session A (or its state clone)
    val families: Seq[(String, () => Boolean)] = Seq(
      "shared frame fact" -> (() => Shared.released.keys((id1, ("fact", sf)))),
      "ML fit kmeans" -> (() => Shared.released.keys((id1, ("kmeans_fit", sf)))),
      "CacheOnce plan frame" -> (() =>
        Shared.released.keys.exists { case (u, k) => u == id1 && k.isInstanceOf[Int] }),
      "attribution pairs" -> (() => Shared.kept.keys((id1, ("attrPairs", sf)))),
      "heartbeat dir" -> (() => Shared.kept.keys((state1, ("heartbeat", sf)))),
      "upsert dir" -> (() => Shared.kept.keys((id1, ("upsert_q", sf)))),
      "lastSink" -> (() => Streams.lastSink.ownerSessionIds(state1)),
      "Tables.load" -> (() => Tables.loadMemoKeys.exists(_._1 == id1)))
    val missing = families.collect { case (f, holds) if !holds() => f }
    require(missing.isEmpty, s"no session-A entry in: ${missing.mkString(", ")}")
    s1.stop()

    val s2 = session()
    s2.sparkContext.setLogLevel("ERROR")
    val regs = Tables.SessionMemo.registries
    regs.foreach(_.evictStopped())
    val survivors = families.collect { case (f, holds) if holds() => f }
    require(survivors.isEmpty,
      s"dead session's entries survive in: ${survivors.mkString(", ")}")
    val leftover = regs.zipWithIndex.collect {
      case (r, i) if r.ownerSessionIds.exists(Set(id1, state1)) => i }
    require(leftover.isEmpty,
      s"dead session's entries survive in ${leftover.size} registries (indices $leftover)")
    // the registries stay serviceable for the new session
    require(Tables.load(s2, sf, "region").count() > 0)
    require(SparkEntry.queries("fact_achats")(s2, sf).count() > 0)
    require(Shared.released.keys((Tables.sessionId(s2), ("fact", sf))))
    s2.stop()
    println(s"MEMO_AUDIT_PASS families=${families.size} registries=${regs.size}")
  }
}
