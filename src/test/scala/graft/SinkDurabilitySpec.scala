package graft

import org.apache.spark.sql.DataFrame

/** The manifest sinks' durability contract, adversarially: the
  * single-writer commit discipline (CAS + lock), the full
  * crash-injection matrix over every fault point of the stage/commit
  * path for BOTH sink families, foreachBatch redelivery idempotence,
  * and the legacy-layout migration guard. Complements the happy-path
  * sink tests in StreamsSpec. */
class SinkDurabilitySpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def kv(rows: (Long, Double)*): DataFrame =
    rows.toDF("user_id", "v")

  private def months(rows: (String, Long)*): DataFrame =
    rows.toDF("mois", "ca_cents")

  private def upsertSnap(sink: String): Map[Long, Double] =
    Streams.readUpserted(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def mergeSnap(sink: String): Map[String, Long] =
    Streams.readUpserted(spark, sink)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Store directories must be exactly the manifest's live set. */
  private def assertStoreClean(sink: String): Unit = {
    val stored = Option(new java.io.File(sink, "store").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    assert(stored == Streams.readManifest(sink).values.toSet,
      s"store $stored vs manifest ${Streams.readManifest(sink).values.toSet}")
  }

  test("two racing writers: the loser fails LOUDLY on commit, never silently drops the winner's merge (upsert sink)") {
    val sink = tmp("graft_race_upsert")
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // both writers stage against the same committed base
    val stagedA = Streams.upsertStage(spark, sink, "user_id")(kv(1L -> 100.0))
    val stagedB = Streams.upsertStage(spark, sink, "user_id")(kv(2L -> 200.0))
    Streams.upsertCommit(sink, stagedA) // writer A wins; sweeps B's staged gens
    assert(upsertSnap(sink) == Map(1L -> 100.0, 2L -> 20.0, 3L -> 30.0))
    // writer B's commit would silently erase A's merge — it must throw
    val ex = intercept[IllegalStateException] {
      Streams.upsertCommit(sink, stagedB)
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // A's merge is intact; B's documented recovery is restage-and-retry
    assert(upsertSnap(sink) == Map(1L -> 100.0, 2L -> 20.0, 3L -> 30.0))
    Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 200.0))
    assert(upsertSnap(sink) == Map(1L -> 100.0, 2L -> 200.0, 3L -> 30.0))
    assertStoreClean(sink)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("two racing writers: the loser fails LOUDLY on commit (maintained-view merge sink)") {
    val sink = tmp("graft_race_merge")
    def stage(rows: (String, Long)*) =
      Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(months(rows: _*))
    Streams.upsertCommit(sink, stage("m1" -> 100L))
    val a = stage("m1" -> 1L)
    val b = stage("m1" -> 10L)
    Streams.upsertCommit(sink, a)
    assert(mergeSnap(sink) == Map("m1" -> 101L))
    // committing B would LOSE writer A's +1 (B merged against 100)
    assert(intercept[IllegalStateException] {
      Streams.upsertCommit(sink, b)
    }.getMessage.contains("concurrent writer"))
    assert(mergeSnap(sink) == Map("m1" -> 101L))
    Streams.upsertCommit(sink, stage("m1" -> 10L)) // restage over 101
    assert(mergeSnap(sink) == Map("m1" -> 111L))
    assertStoreClean(sink)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("commit lock: a fresh foreign lock fails loudly; a crashed writer's stale lock is broken after the lease") {
    val sink = tmp("graft_lock")
    val lock = new java.io.File(sink, "LOCK")
    // a live concurrent writer holds the lock -> loud failure, no wait-and-clobber
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    }
    assert(ex.getMessage.contains("concurrent writer holds"))
    assert(!new java.io.File(sink, "MANIFEST").isFile, "commit must not have published")
    // the same lock left by a CRASHED writer (older than the lease) is broken
    assert(lock.setLastModified(System.currentTimeMillis() - Streams.lockLeaseMs - 60000))
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    assert(upsertSnap(sink) == Map(1L -> 1.0))
    assert(!lock.exists(), "lock must be released after commit")
    Streams.deleteRec(new java.io.File(sink))
  }

  // ------------------------------------------------- crash-injection matrix
  // Every fault point of the stage/commit path, for both sink families.
  // `tick`-thrown crashes model the JVM dying mid-path (the lock a real
  // crash leaves behind ages out via the lease — covered above); the
  // invariant at EVERY point is one whole committed generation visible:
  // the previous one before the manifest rename, the new one at/after it.
  private case class Fault(point: String, inStage: Boolean, newVisible: Boolean)
  private val faults = Seq(
    Fault("staging-written", inStage = true, newVisible = false),
    Fault("store-renamed", inStage = true, newVisible = false),
    Fault("lock-acquired", inStage = false, newVisible = false),
    Fault("manifest-tmp-written", inStage = false, newVisible = false),
    Fault("manifest-renamed", inStage = false, newVisible = true),
    Fault("sweep-orphan", inStage = false, newVisible = true))

  private final class Crash extends RuntimeException("injected crash")
  private def crashAt(p: String): String => Unit =
    q => if (q == p) throw new Crash

  test("crash matrix, upsert sink: every fault point leaves exactly one whole committed generation") {
    for (f <- faults) {
      val sink = tmp(s"graft_crash_up")
      Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 10.0, 2L -> 20.0))
      val before = Map(1L -> 10.0, 2L -> 20.0)
      val after = Map(1L -> 99.0, 2L -> 20.0, 4L -> 44.0)
      intercept[Crash] {
        if (f.inStage)
          Streams.upsertStage(spark, sink, "user_id", tick = crashAt(f.point))(
            kv(1L -> 99.0, 4L -> 44.0))
        else
          Streams.upsertCommit(sink,
            Streams.upsertStage(spark, sink, "user_id")(kv(1L -> 99.0, 4L -> 44.0)),
            tick = crashAt(f.point))
      }
      // one whole generation visible — never a mix, never none
      assert(upsertSnap(sink) == (if (f.newVisible) after else before),
        s"fault ${f.point}: wrong visible generation")
      // recovery: retry the batch end-to-end; replace-by-key re-apply is
      // idempotent, so the retry converges from either visible state
      Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 99.0, 4L -> 44.0))
      assert(upsertSnap(sink) == after, s"fault ${f.point}: retry did not converge")
      assertStoreClean(sink)
      Streams.deleteRec(new java.io.File(sink))
    }
  }

  test("crash matrix, merge sink: every fault point leaves one whole generation; redelivery never double-counts") {
    for (f <- faults) {
      val sink = tmp(s"graft_crash_mg")
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 0L)(
        months("m1" -> 100L, "m2" -> 200L))
      val before = Map("m1" -> 100L, "m2" -> 200L)
      val after = Map("m1" -> 105L, "m2" -> 200L)
      intercept[Crash] {
        if (f.inStage)
          Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"),
            tick = crashAt(f.point))(months("m1" -> 5L))
        else
          Streams.upsertCommit(sink,
            Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(
              months("m1" -> 5L)).copy(batchId = Some(1L)),
            tick = crashAt(f.point))
      }
      assert(mergeSnap(sink) == (if (f.newVisible) after else before),
        s"fault ${f.point}: wrong visible generation")
      // recovery = the stream redelivers batch 1 after restart. If the
      // crash hit AFTER the manifest rename the batch is already merged
      // and the batch-id high-water mark makes the replay a no-op —
      // without it this would double-count to m1=110.
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 1L)(
        months("m1" -> 5L))
      assert(mergeSnap(sink) == after, s"fault ${f.point}: redelivery did not converge")
      // when the replay was a no-op (crash at/after the rename), the
      // crashed commit's unswept orphan survives it — by design, the
      // NEXT real commit sweeps store garbage; drive one and re-check
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 2L)(
        months("m2" -> 1L))
      assert(mergeSnap(sink) == after.updated("m2", after("m2") + 1L),
        s"fault ${f.point}: post-recovery merge diverged")
      assertStoreClean(sink)
      Streams.deleteRec(new java.io.File(sink))
    }
  }

  test("sink-root garbage from crashed stages/commits survives while fresh, is swept once past the lease") {
    val sink = tmp("graft_rootsweep")
    def rootGarbage = new java.io.File(sink).listFiles().map(_.getName)
      .filter(n => n.startsWith("staging_") || n.startsWith("MANIFEST_tmp_"))
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    // a crashed stage leaves its staging_* dir; a crashed commit its
    // MANIFEST_tmp_* file — neither lives under store/, so the store
    // sweep alone would let them accumulate forever
    intercept[Crash] {
      Streams.upsertStage(spark, sink, "user_id",
        tick = crashAt("staging-written"))(kv(2L -> 2.0))
    }
    intercept[Crash] {
      Streams.upsertCommit(sink,
        Streams.upsertStage(spark, sink, "user_id")(kv(2L -> 2.0)),
        tick = crashAt("manifest-tmp-written"))
    }
    assert(rootGarbage.exists(_.startsWith("staging_")) &&
      rootGarbage.exists(_.startsWith("MANIFEST_tmp_")))
    // FRESH garbage survives a commit — it could be a live concurrent
    // writer's in-flight stage, and yanking it would starve that writer
    Streams.upsertByKey(spark, sink, "user_id")(kv(3L -> 3.0))
    assert(rootGarbage.length == 2, s"fresh root garbage swept early: ${rootGarbage.toSeq}")
    // past the COMMIT lease: the metadata-sized MANIFEST_tmp_ goes, but
    // a staging_ dir is a full parquet write that can legitimately
    // outlive the sub-second lease — it gets the larger staging TTL
    val pastLease = System.currentTimeMillis() - Streams.lockLeaseMs - 60000
    new java.io.File(sink).listFiles()
      .filter(f => rootGarbage.contains(f.getName))
      .foreach(f => assert(f.setLastModified(pastLease)))
    Streams.upsertByKey(spark, sink, "user_id")(kv(4L -> 4.0))
    assert(rootGarbage.forall(_.startsWith("staging_")),
      s"lease-aged MANIFEST_tmp_ not swept: ${rootGarbage.toSeq}")
    assert(rootGarbage.length == 1,
      s"staging_ swept on the commit lease, not its own TTL: ${rootGarbage.toSeq}")
    // past the staging TTL it belongs to a crashed JVM: next commit sweeps
    val pastTtl = System.currentTimeMillis() -
      math.max(Streams.lockLeaseMs, Streams.stagingTtlMs) - 60000
    new java.io.File(sink).listFiles()
      .filter(f => rootGarbage.contains(f.getName))
      .foreach(f => assert(f.setLastModified(pastTtl)))
    Streams.upsertByKey(spark, sink, "user_id")(kv(5L -> 5.0))
    assert(rootGarbage.isEmpty, s"aged root garbage not swept")
    assert(upsertSnap(sink) == Map(1L -> 1.0, 3L -> 3.0, 4L -> 4.0, 5L -> 5.0))
    assertStoreClean(sink)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("foreachBatch replay is a no-op; a manual commit carries the batch high-water mark forward") {
    val sink = tmp("graft_replay")
    def merge(id: Long, v: Long): Unit =
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), id)(
        months("m" -> v))
    merge(0L, 5L); merge(1L, 7L)
    assert(mergeSnap(sink) == Map("m" -> 12L))
    merge(1L, 7L) // replayed batch: skipped
    assert(mergeSnap(sink) == Map("m" -> 12L))
    merge(2L, 1L)
    assert(mergeSnap(sink) == Map("m" -> 13L))
    // a batch-id-less manual merge must not reopen the replay window
    Streams.upsertCommit(sink,
      Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(months("m" -> 100L)))
    assert(mergeSnap(sink) == Map("m" -> 113L))
    merge(2L, 1L) // replay after the manual commit: still skipped
    assert(mergeSnap(sink) == Map("m" -> 113L))
    Streams.deleteRec(new java.io.File(sink))
  }

  test("redelivery skip is lineage-scoped: a fresh run's batch 0 merges over an old sink instead of returning a stale view") {
    val sink = tmp("graft_lineage")
    def merge(run: String, id: Long, v: Long): Unit =
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), id, run)(
        months("m" -> v))
    merge("runA", 0L, 5L); merge("runA", 1L, 7L)
    assert(mergeSnap(sink) == Map("m" -> 12L))
    merge("runA", 1L, 7L) // same-lineage replay: skipped
    assert(mergeSnap(sink) == Map("m" -> 12L))
    // a NEW lineage (fresh/temp checkpoint) restarts batch ids at 0 —
    // before the lineage check, every one of its batches was <= the
    // persisted high-water mark, silently skipped, and the stale view
    // came back as if current
    merge("runB", 0L, 100L)
    assert(mergeSnap(sink) == Map("m" -> 112L))
    merge("runB", 0L, 100L) // the new lineage's own replay: skipped
    assert(mergeSnap(sink) == Map("m" -> 112L))
    // the lineage header survives a batch-id-less manual commit
    Streams.upsertCommit(sink,
      Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(months("m" -> 1L)))
    merge("runB", 0L, 100L) // still the recorded lineage: still skipped
    assert(mergeSnap(sink) == Map("m" -> 113L))
    Streams.deleteRec(new java.io.File(sink))
  }

  test("runIdFor: stable across restarts for a persisted checkpoint, fresh per temp-checkpoint run") {
    assert(Streams.runIdFor(Some("/tmp/graft_ck/x")) == Streams.runIdFor(Some("/tmp/graft_ck/x")))
    assert(Streams.runIdFor(Some("/tmp/graft_ck/x")) != Streams.runIdFor(Some("/tmp/graft_ck/y")))
    assert(Streams.runIdFor(None) != Streams.runIdFor(None))
  }

  test("a holder that stalls past its lease is FENCED at publish: the successor's commit wins, the stalled one aborts loudly") {
    val sink = tmp("graft_fence")
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    val stalled = Streams.upsertStage(spark, sink, "user_id")(kv(2L -> 2.0))
    val successor = Streams.upsertStage(spark, sink, "user_id")(kv(3L -> 3.0))
    val ex = intercept[IllegalStateException] {
      Streams.upsertCommit(sink, stalled, tick = q =>
        if (q == "manifest-tmp-written") {
          // simulate the stall INSIDE the commit window: age our lock
          // past the lease, then let a successor break it and publish
          val lock = new java.io.File(sink, "LOCK")
          assert(lock.setLastModified(
            System.currentTimeMillis() - Streams.lockLeaseMs - 60000))
          Streams.upsertCommit(sink, successor)
        })
    }
    assert(ex.getMessage.contains("fenced"), s"wrong failure: ${ex.getMessage}")
    // the successor's commit is intact — the stalled writer neither
    // published its (now dangling) manifest nor deleted the live state
    assert(upsertSnap(sink) == Map(1L -> 1.0, 3L -> 3.0))
    assert(!new java.io.File(sink, "LOCK").exists(), "stalled writer leaked a lock")
    // recovery is the documented restage-and-retry
    Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 2.0))
    assert(upsertSnap(sink) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    assertStoreClean(sink)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("contention stress: six concurrent writers with retry-on-conflict all land, none lost") {
    // the documented recovery loop under real contention: every writer
    // retries the WHOLE stage+commit on a loud conflict, so no
    // committed merge is ever lost and the sink converges to the union
    val sink = tmp("graft_contend")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 6).map { w =>
      new Thread(() => {
        var attempts = 0
        var done = false
        while (!done && attempts < 100) {
          attempts += 1
          try {
            Streams.upsertByKey(spark, sink, "user_id")(kv(w.toLong -> w.toDouble))
            done = true
          } catch {
            // a loser can also fail mid-STAGE when the winner's sweep
            // removes the base generation it was reading — any of these
            // is the same documented recovery: restage and retry
            case scala.util.control.NonFatal(_) => Thread.sleep(20)
          }
        }
        if (!done) errors.add(new RuntimeException(s"writer $w starved"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer died: ${errors.peek()}")
    assert(upsertSnap(sink) == (1 to 6).map(w => w.toLong -> w.toDouble).toMap)
    assertStoreClean(sink)
    assert(!new java.io.File(sink, "LOCK").exists())
    Streams.deleteRec(new java.io.File(sink))
  }

  // ------------------------------------------- cross-process (two-JVM) lock
  // The six-writer stress above shares one JVM (and one writerToken);
  // these spawn a genuinely separate JVM (LockContenderMain) so the lock
  // file crosses a real process boundary — the production topology.

  /** Launch the contender JVM and block until it prints `HELD` (it is
    * then sleeping INSIDE the commit-lock window). */
  private def spawnContender(sink: String, holdMs: Long): Process = {
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val p = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.LockContenderMain", sink, holdMs.toString)
      .redirectErrorStream(true).start()
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    val deadline = System.currentTimeMillis() + 60000
    var line = in.readLine()
    while (line != null && line != "HELD" && System.currentTimeMillis() < deadline)
      line = in.readLine()
    assert(line == "HELD", s"contender never took the lock (last: $line)")
    p
  }

  test("two JVMs: a live writer in another process fails this one loudly; after its release the retry lands") {
    val sink = tmp("graft_xjvm_live")
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    val p = spawnContender(sink, holdMs = 8000)
    try {
      // the other PROCESS holds a fresh lock: loud failure, no wait-and-clobber
      val ex = intercept[IllegalStateException] {
        Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 2.0))
      }
      assert(ex.getMessage.contains("concurrent writer holds"))
      assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), "contender hung")
      // contender released cleanly -> the retry commits
      Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 2.0))
      assert(upsertSnap(sink) == Map(1L -> 1.0, 2L -> 2.0))
      assert(!new java.io.File(sink, "LOCK").exists())
      assertStoreClean(sink)
    } finally { p.destroyForcibly(); Streams.deleteRec(new java.io.File(sink)) }
  }

  test("two JVMs: a KILLED process's leftover lock ages out via the lease and the next writer recovers") {
    val sink = tmp("graft_xjvm_crash")
    Streams.upsertByKey(spark, sink, "user_id")(kv(1L -> 1.0))
    val p = spawnContender(sink, holdMs = 120000)
    try {
      p.destroyForcibly()
      assert(p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS), "kill did not land")
      val lock = new java.io.File(sink, "LOCK")
      assert(lock.isFile, "a killed process must leave its lock behind")
      // fresh, the foreign corpse lock still fails writers loudly …
      assert(intercept[IllegalStateException] {
        Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 2.0))
      }.getMessage.contains("concurrent writer holds"))
      // … until the lease expires; then the next writer breaks it and lands
      assert(lock.setLastModified(System.currentTimeMillis() - Streams.lockLeaseMs - 60000))
      Streams.upsertByKey(spark, sink, "user_id")(kv(2L -> 2.0))
      assert(upsertSnap(sink) == Map(1L -> 1.0, 2L -> 2.0))
      assert(!lock.exists())
      assertStoreClean(sink)
    } finally { p.destroyForcibly(); Streams.deleteRec(new java.io.File(sink)) }
  }

  test("a legacy current/ layout without a MANIFEST fails loudly instead of silently resetting the view") {
    val sink = tmp("graft_legacy")
    new java.io.File(sink, "current").mkdirs()
    assert(intercept[IllegalStateException] {
      Streams.readManifest(sink)
    }.getMessage.contains("legacy"))
    intercept[IllegalStateException] {
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 0L)(
        months("m" -> 1L))
    }
    // no manifest was published over the legacy state
    assert(!new java.io.File(sink, "MANIFEST").isFile)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("a pre-upgrade ckpt<8-hex> lineage mark fails fast instead of double-counting the redelivered batch") {
    val sink = tmp("graft_legacyid")
    // seed a sink whose manifest carries the legacy 32-bit-hashCode id
    // format (round <=15 wrote ckpt + 8 hex chars)
    Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 3L,
      "ckptdeadbeef")(months("m" -> 5L))
    assert(mergeSnap(sink) == Map("m" -> 5L))
    // the first post-upgrade run derives a 16-hex SHA-256 id; under the
    // plain lineage-mismatch rule its redelivered batch would re-merge
    // and double-count — the guard must refuse with the rebuild hint
    val ex = intercept[IllegalStateException] {
      Streams.mergeKeyedPartial(spark, sink, Seq("mois"), Seq("ca_cents"), 3L,
        Streams.runIdFor(Some(s"$sink-ckpt")))(months("m" -> 5L))
    }
    assert(ex.getMessage.contains("pre-upgrade"))
    assert(mergeSnap(sink) == Map("m" -> 5L)) // nothing merged
    // format discrimination: current ids and temp ids never trip it
    assert(Streams.isLegacyRunId("ckptdeadbeef"))
    assert(!Streams.isLegacyRunId(Streams.runIdFor(Some(s"$sink-ckpt"))))
    assert(!Streams.isLegacyRunId(Streams.runIdFor(None)))
    assert(!Streams.isLegacyRunId(""))
    assert(!Streams.isLegacyRunId("ckptDEADBEEF")) // legacy wrote lowercase hex
    Streams.deleteRec(new java.io.File(sink))
  }

  test("mixed-sink coexistence endurance: four sibling sinks, 20 interleaved rounds, no cross-contamination") {
    val root = tmp("graft_multi")
    val upsertSink = s"$root/upsert"
    val viewA = s"$root/view_a" // month grain
    val viewB = s"$root/view_b" // client grain, two sum columns
    val viewC = s"$root/view_c" // month grain, different stream
    val expA = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val expB = scala.collection.mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    val expC = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (r <- 1 to 20) {
      Streams.upsertByKey(spark, upsertSink, "user_id")(
        kv((r % 5).toLong -> r.toDouble, 100L -> -r.toDouble))
      val aRows = (0 until 3).map(k => (f"a$k", (r * 7 + k).toLong))
      aRows.foreach { case (k, v) => expA(k) += v }
      Streams.mergeKeyedPartial(spark, viewA, Seq("mois"), Seq("ca_cents"), r.toLong)(
        months(aRows: _*))
      val bRows = (0 until 2).map(k => (k.toLong, (r * 3 + k).toLong, 1L))
      bRows.foreach { case (k, s, n) =>
        val (ps, pn) = expB(k); expB(k) = (ps + s, pn + n)
      }
      Streams.mergeKeyedPartial(spark, viewB, Seq("c_custkey"),
        Seq("spend_cents", "total_orders"), r.toLong)(
        bRows.toDF("c_custkey", "spend_cents", "total_orders"))
      expC("c") += r.toLong
      Streams.mergeKeyedPartial(spark, viewC, Seq("mois"), Seq("ca_cents"), r.toLong)(
        months("c" -> r.toLong))
      // every sink's store holds exactly its own live generations — one
      // sink's orphan sweep never reaches into a sibling's store
      Seq(upsertSink, viewA, viewB, viewC).foreach(assertStoreClean)
      Seq(viewA, viewB, viewC).foreach { v =>
        assert(new java.io.File(v, "store").listFiles().length == 1,
          s"round $r: $v store grew beyond one generation")
      }
    }
    assert(mergeSnap(viewA) == expA.toMap)
    assert(mergeSnap(viewC) == expC.toMap)
    val gotB = Streams.readUpserted(spark, viewB).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotB == expB.toMap)
    assert(upsertSnap(upsertSink) ==
      Map(1L -> 16.0, 2L -> 17.0, 3L -> 18.0, 4L -> 19.0, 0L -> 20.0, 100L -> -20.0))
    Streams.deleteRec(new java.io.File(root))
  }
}
