package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming extension (SURVEY §2.8 — the reference is
  * batch-only; the `events` table makes event-time windowed aggregation a
  * first-class extension here).
  *
  * The same tumbling-hour aggregate as the batch `events_hourly` query,
  * expressed as a streaming job: parquet file source → event-time window
  * + watermark → stateful aggregation → sink. In production the source
  * would be Kafka/files-arriving and the sink a table/topic; for the
  * correctness gate we drive it with Trigger.AvailableNow over the static
  * parquet and materialize via the memory sink, so the result is exactly
  * comparable to the batch oracle.
  *
  * Every public entry point reads its stream on [[stateSession]], a
  * cached clone of the caller's session that carries the state width; a
  * drain runs on its source's session and reads its memory table back
  * there. No body here writes the conf of the session it is called with.
  */
object Streams extends Serializable {

  private val runId = new AtomicInteger(0)

  /** Fresh memory-sink table name for a streaming query, dropping the
    * SAME query's previous table first. Every invocation (each bench
    * pass, each verify call) starts a new streaming query into a new
    * memory table, and an undropped table pins every row it ever
    * received on the driver heap — across 9 streaming queries and 3
    * bench passes that accumulation was measured pushing the suite into
    * GC thrash. The previous invocation's DataFrame is dead by the time
    * the next one starts, so the drop is safe. The previous name is a
    * session entry of [[Shared]], swapped for the new one. */
  private def sinkName(spark: SparkSession, prefix: String): String = {
    val name = s"${prefix}_${runId.incrementAndGet()}"
    Option(Shared.session(spark, ("lastSink", prefix))(new AtomicReference[String])
      .getAndSet(name)).foreach(spark.catalog.dropTempView)
    name
  }

  /** The session every public entry point below reads its streams on: a
    * clone of `spark` ([[Shared.clone]]) whose shuffle width is the
    * streaming state width, so no drain writes the conf of the session
    * its caller plans batch queries on. A stateful streaming query
    * materializes one state-store instance PER shuffle partition and
    * pays its open/maintenance/commit on EVERY micro-batch, so the state
    * width should track stateful-key cardinality and stream volume — not
    * the batch shuffle width sized for table-scan joins. (At production
    * volume the two converge; the knob matters whenever a modest stream
    * runs inside a wide-cluster session.) The width is pinned at the
    * query's FIRST start and persists in the checkpoint, which is exactly
    * why it must be chosen deliberately rather than inherited. */
  private[graft] def stateSession(spark: SparkSession): SparkSession =
    Shared.clone(spark, "streamState")(_.conf.set("spark.sql.shuffle.partitions", "8"))

  /** Run `query` to completion (AvailableNow) into a fresh memory table on
    * the session it was read on, and return that table. */
  private def drain(query: DataFrame, prefix: String, mode: String,
      checkpoint: Option[String] = None): DataFrame = {
    val spark = query.sparkSession
    val name = sinkName(spark, prefix)
    val writer = query.writeStream.outputMode(mode).format("memory").queryName(name)
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.table(name)
  }

  /** Raw events stream over the test parquet (nanos ts → TIMESTAMP_NTZ,
    * same conversion as Tables.events), read on `spark` itself. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.parquet(spark, s"$dir/events.parquet").schema
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // keep TimestampType (not NTZ): watermarks require an instant-typed
    // event time; the session runs UTC so wall-clock values are unchanged
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Multi-batch file stream over pre-chunked event files — the fuzz
    * harness's arrival-order control: each `chunk_NN.parquet` in `dir`
    * becomes its own micro-batch (oldest modification time first, so the
    * writer dictates arrival order), which is what lets StreamsProps
    * drive shuffled, late, and duplicate-burst arrivals through the real
    * micro-batch/watermark machinery instead of one all-at-once batch. */
  private[graft] def chunkedEventsStream(spark: SparkSession, dir: String): DataFrame = {
    // File.listFiles is null (not empty) on a missing/unreadable dir,
    // and minBy on no chunks would throw an opaque UnsupportedOperation —
    // both are caller mistakes that deserve a named message. The
    // one-file-per-batch ARRIVAL ORDER is mtime-based (Spark's file
    // source sorts by modification time), so chunk writers must give
    // each file a distinct, increasing mtime — same-mtime chunks may
    // collapse into one batch in either order.
    val chunks = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
    require(chunks.nonEmpty, s"chunked event stream: no .parquet chunk files in $dir")
    val first = chunks.minBy(_.getName)
    val raw = spark.readStream
      .schema(Tables.parquet(spark, first.getAbsolutePath).schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(dir)
    raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Tumbling 1-hour event-time aggregation with a watermark. Watermark is
    * a no-op under complete output but defines the late-data contract the
    * production append-mode job would have. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("heure"), col("event_type"),
        col("n_events"), col("total_value"))

  // ------------------------------------------------- stateful sessionization

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, tsMicros: Long,
      value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, duration_sec: Long, n_events: Long,
      total_value: Double)

  /** Custom streaming state machine via flatMapGroupsWithState: per-user
    * 30-min-gap sessionization. A session is emitted either when the NEXT
    * event opens a new one, or — via EventTimeTimeout — when the watermark
    * passes session_end + gap, so a user's last session doesn't sit in
    * state forever. The zero watermark delay matches the deterministic
    * test stream; a production job would set it to its late-data
    * tolerance. Events are sorted within each micro-batch before folding
    * into state.
    *
    * LATE ROWS ARE DROPPED IN THE FOLD: unlike aggregations and
    * dropDuplicates, Spark delivers sub-watermark rows to
    * flatMapGroupsWithState UNFILTERED — enforcing the late-data
    * contract is the operator's job. Before this guard, a late event
    * folded straight into state: `e.ts - st.last` went negative, the
    * "gap" test passed, and the session extended BACKWARDS to a
    * negative duration — silent corruption that only multi-batch
    * arrival can trigger (found by the StreamsProps fuzz harness;
    * pinned by the late-arrival regression test in StreamsSpec). The
    * boundary is inclusive: a row exactly AT the watermark is on time.
    * State rows always satisfy `st.last <= watermark`, so after the
    * guard `e.ts >= st.last` holds and durations are non-negative by
    * construction. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[SessionEvent]

    def fold(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[ClosedSession] =
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator(close(userId, st))
      } else {
        val evs = it.toSeq
          .filter(_.tsMicros >= state.getCurrentWatermarkMs() * 1000L)
          .sortBy(_.tsMicros)
        var st = state.getOption.orNull
        val out = Seq.newBuilder[ClosedSession]
        for (e <- evs) {
          if (st == null) st = SessionState(e.tsMicros, e.tsMicros, 1, e.value)
          else if (e.tsMicros - st.last > gapSeconds * 1000000L) {
            out += close(userId, st)
            st = SessionState(e.tsMicros, e.tsMicros, 1, e.value)
          } else st = SessionState(st.start, e.tsMicros, st.n + 1, st.sum + e.value)
        }
        if (st != null) {
          state.update(st)
          // fire once no in-gap event can still arrive: ceil(last)ms + gap.
          // A late event can set this below the current watermark (Spark
          // rejects that) — clamp to watermark + 1ms: times out next batch.
          val fireAt = (st.last + 999L) / 1000L + gapSeconds * 1000L
          state.setTimeoutTimestamp(math.max(fireAt, state.getCurrentWatermarkMs() + 1L))
        }
        out.result().iterator
      }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
      .toDF()
  }

  private def close(userId: Long, st: SessionState): ClosedSession =
    ClosedSession(userId,
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(st.start * 1000)),
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(st.last * 1000)),
      (st.last - st.start) / 1000000L, st.n,
      math.round(st.sum * 100.0) / 100.0)

  /** Keyed upsert parquet sink via foreachBatch (the Spark analog of the
    * reference's Mongo ReplaceOne-upsert publisher,
    * serving_mongo/publish_gold_to_mongo.py:91-100 — SURVEY S5): each
    * micro-batch replaces rows sharing its keys (batch wins), others
    * survive.
    *
    * The key space is hash-bucketed and each merge touches ONLY the
    * buckets the batch's keys hash into — the merge scan and rewrite are
    * proportional to the batch's key spread, not the table (a
    * continuously-running upsert over a large table rewrites a few
    * buckets per trigger).
    *
    * COMMIT IS ATOMIC via a manifest pointer (the snapshot discipline
    * Delta/Iceberg formalize, reduced to its two essentials): bucket
    * data lives in immutable generation directories `store/b<i>_g<gen>`
    * that no reader ever discovers by listing — the single source of
    * truth is the `MANIFEST` file mapping bucket -> directory, replaced
    * with ONE atomic rename. A crash anywhere before that rename leaves
    * the previous manifest — and therefore the previous generation,
    * whole — visible; a crash after it leaves the new generation whole.
    * There is no window where readers can see buckets from two
    * generations (the flaw of the previous per-bucket directory swaps).
    * Orphaned store directories from a crashed stage are garbage, not
    * corruption, and the next successful commit sweeps them.
    *
    * CONCURRENCY CONTRACT — one committer at a time per sink dir. Any
    * number of READERS are safe concurrently (they only ever follow the
    * manifest pointer), and concurrent STAGING is tolerated (staged
    * generations are invisible), but the commit is serialized: each
    * staged merge records the manifest commit-id it was derived from,
    * and [[upsertCommit]] publishes under a lock file with a
    * compare-and-set on that id. A second writer racing the same sink
    * therefore fails LOUDLY (`IllegalStateException`) instead of
    * silently discarding the first writer's merge — the loser's staged
    * generations may have been swept as orphans, and its recovery is to
    * restage from the new current generation and commit again. Lock
    * files left by a crashed writer age out after [[lockLeaseMs]];
    * a fresh lock is honored (fail loudly), never stolen. A holder that
    * STALLS past the lease (GC pause, NFS hang) can have its lock
    * legitimately broken by a successor — the resumed holder is fenced:
    * it re-verifies lock ownership immediately before the manifest
    * rename and aborts loudly rather than publish over the successor. */
  def upsertByKey(spark: SparkSession, sinkDir: String, key: String,
      buckets: Int = 16)(batch: DataFrame): Unit =
    upsertCommit(sinkDir, upsertStage(spark, sinkDir, key, buckets)(batch))

  /** A staged-but-uncommitted sink generation: the manifest entries to
    * publish plus the commit-id of the manifest they were derived from
    * (the compare-and-set token that makes lost-update races loud) and,
    * for stream-fed merges, the foreachBatch batch-id folded in (the
    * redelivery-dedup token recorded at commit). */
  final case class Staged(base: String, entries: Map[Long, String],
      batchId: Option[Long] = None, runId: String = "")

  /** Committed manifest state: its commit-id ("" before the first
    * commit / for a pre-contract headerless manifest), the redelivery
    * lineage that produced the recorded batch high-water mark ("" for a
    * pre-lineage manifest or batch-id-less commits), the highest stream
    * batch-id merged in (-1 if none recorded), and entries. */
  private[graft] final case class ManifestState(commitId: String,
      lastRun: String, lastBatch: Long, entries: Map[Long, String])

  /** Per-JVM writer identity, embedded in generation and commit names so
    * two writers can never collide on a directory or commit id (nanoTime
    * alone is not unique across JVMs). */
  private[graft] val writerToken: String =
    java.util.UUID.randomUUID().toString.take(8)
  private val commitSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Age after which another writer's LOCK file is presumed to belong to
    * a crashed JVM and may be broken. Commits are sub-second metadata
    * operations (manifest write + rename + orphan sweep), so minutes of
    * lease is already orders of magnitude conservative. Tests lower it
    * to exercise crashed-writer recovery. */
  @volatile private[graft] var lockLeaseMs: Long = 10L * 60 * 1000

  /** Age after which a sink-root `staging_*` directory is presumed
    * abandoned and swept. Deliberately MUCH larger than [[lockLeaseMs]]:
    * the lease is sized for sub-second commit metadata, but a stage is a
    * full parquet write of every touched bucket — sweeping it on the
    * commit lease would yank a legitimately slow stage mid-write and
    * retry-starve large batches (each retry is just as slow and gets
    * swept again). Tests lower it to exercise the sweep. */
  @volatile private[graft] var stagingTtlMs: Long = 60L * 60 * 1000

  /** The per-acquisition fencing nonce of the LOCK this thread currently
    * holds — what [[upsertCommit]] re-checks immediately before the
    * manifest rename. Per-acquisition (not [[writerToken]]) so even two
    * same-JVM writers can never mistake each other's lock for their own. */
  private val heldNonce = new ThreadLocal[String]

  private def ownsLock(lock: java.io.File, nonce: String): Boolean =
    try lock.isFile && new String(
      java.nio.file.Files.readAllBytes(lock.toPath),
      java.nio.charset.StandardCharsets.UTF_8).startsWith(nonce + " ")
    catch { case _: java.io.IOException => false }

  /** Serialize the publish step across JVMs via an atomically-created
    * LOCK file. A fresh foreign lock fails loudly (live concurrent
    * writer — the one scenario the contract forbids); a lock older than
    * [[lockLeaseMs]] is a crashed writer's leftover and is broken by
    * atomic RENAME, so when two writers race the same stale lock exactly
    * one wins the break (delete-then-create would let both through and
    * reopen the silent-lost-update window the lock exists to close) —
    * the other fails loudly and retries. */
  private def withCommitLock[T](sinkDir: String)(f: => T): T = {
    new java.io.File(sinkDir).mkdirs()
    val lock = new java.io.File(sinkDir, "LOCK")
    if (!lock.createNewFile()) {
      val age = System.currentTimeMillis() - lock.lastModified()
      if (age < lockLeaseMs)
        throw new IllegalStateException(
          s"concurrent writer holds $lock (age ${age}ms < lease ${lockLeaseMs}ms): " +
            "the sink allows one committer at a time; retry after it finishes " +
            "or raise graft.Streams.lockLeaseMs if it crashed")
      val broken = new java.io.File(sinkDir,
        s"LOCK_broken_${System.nanoTime()}_$writerToken")
      if (!lock.renameTo(broken))
        throw new IllegalStateException(
          s"another writer won the race to break the stale lock $lock; retry")
      broken.delete()
      if (!lock.createNewFile())
        throw new IllegalStateException(
          s"lost the lock race on $lock after breaking a stale lease; retry")
    }
    val nonce = s"${writerToken}_${commitSeq.incrementAndGet()}"
    val outer = heldNonce.get() // save/restore: reentrant same-thread commits
    heldNonce.set(nonce)
    try {
      java.nio.file.Files.write(lock.toPath,
        s"$nonce ${ProcessHandle.current().pid()}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f
    } finally {
      if (outer == null) heldNonce.remove() else heldNonce.set(outer)
      // release only what is still OURS: a holder that stalled past its
      // lease and was broken must not delete the successor's live lock
      if (ownsLock(lock, nonce)) lock.delete()
    }
  }

  /** Fencing check run immediately before the MANIFEST rename: a writer
    * that stalled past [[lockLeaseMs]] between acquiring the lock and
    * publishing (GC pause, NFS hang) may have had its lock broken by a
    * successor — its staged store dirs are already swept, so renaming
    * its manifest would publish dangling entries AND silently erase the
    * successor's commit. Re-reading the LOCK and verifying this
    * acquisition's nonce still owns it closes that hole loudly. (A
    * check-then-rename race window remains — fencing a rename fully
    * needs a filesystem with conditional writes — but it shrinks the
    * exposure from the whole stall to microseconds.) */
  private def requireLockStillHeld(sinkDir: String): Unit = {
    val nonce = heldNonce.get()
    require(nonce != null, s"commit on $sinkDir outside withCommitLock")
    if (!ownsLock(new java.io.File(sinkDir, "LOCK"), nonce))
      throw new IllegalStateException(
        s"commit fenced on $sinkDir: this writer stalled past the " +
          s"${lockLeaseMs}ms lease and a successor broke its lock — its " +
          "staged generation may already be swept; aborting instead of " +
          "publishing over the successor's commit (restage and retry)")
  }

  /** Stage one batch's merge: write the touched buckets' next generation
    * into the immutable store and return the manifest the commit should
    * publish. Performs NO visible state change — a crash after staging
    * is invisible to readers (split from [[upsertCommit]] exactly so the
    * crash window is testable). `tick` is a test-only fault-injection
    * hook called at each named point of the stage path. */
  private[graft] def upsertStage(spark: SparkSession, sinkDir: String,
      key: String, buckets: Int = 16, tick: String => Unit = _ => ())(
      batch: DataFrame): Staged = {
    val ManifestState(base, _, _, man) = readManifestState(sinkDir)
    val store = new java.io.File(sinkDir, "store")
    val b = batch.withColumn("_bucket", pmod(xxhash64(col(key)), lit(buckets.toLong)))
    // driver-side list of touched buckets: bounded by `buckets`, not keys
    val touched = b.select("_bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val onDisk = touched.filter(man.contains)
    val merged =
      if (onDisk.isEmpty) b
      else {
        val existing = Tables.parquet(spark,
          onDisk.toSeq.map(i => s"${store.getAbsolutePath}/${man(i)}"): _*)
        existing.join(b.select(key).distinct(), Seq(key), "left_anti")
          .withColumn("_bucket", pmod(xxhash64(col(key)), lit(buckets.toLong)))
          .unionByName(b)
      }
    val staging = new java.io.File(sinkDir, s"staging_${System.nanoTime()}_$writerToken")
    // one task -> one file per bucket: the bucket is the rewrite unit,
    // so fan-out beyond it only multiplies small files
    merged.repartition(buckets, col("_bucket"))
      .write.partitionBy("_bucket").mode("overwrite")
      .parquet(staging.getAbsolutePath)
    tick("staging-written")
    store.mkdirs()
    val gen = System.nanoTime()
    val fresh = touched.flatMap { i =>
      val src = new java.io.File(staging, s"_bucket=$i")
      if (src.isDirectory) { // a touched bucket can be empty after the merge
        val name = s"b${i}_g${gen}_$writerToken"
        require(src.renameTo(new java.io.File(store, name)),
          s"upsert stage failed: $src -> $store/$name")
        Some(i -> name)
      } else None
    }.toMap
    tick("store-renamed")
    deleteRec(staging)
    // untouched buckets carry over; emptied touched buckets drop out
    Staged(base, (man -- touched) ++ fresh)
  }

  /** Publish a staged generation: under the commit lock, verify the
    * manifest is still the one the stage was derived from (compare-and-
    * set — a concurrent commit in between means this merge would silently
    * erase that one, so it fails loudly instead), write the manifest
    * beside the store, then ONE atomic rename onto `MANIFEST` — the only
    * visible state change the sink ever makes — and sweep store
    * directories the new manifest no longer references (replaced
    * generations + any garbage a crashed stage left). `tick` is the
    * test-only fault-injection hook behind the crash matrix. */
  private[graft] def upsertCommit(sinkDir: String, staged: Staged,
      tick: String => Unit = _ => ()): Unit = withCommitLock(sinkDir) {
    tick("lock-acquired")
    val cur = readManifestState(sinkDir)
    if (cur.commitId != staged.base)
      throw new IllegalStateException(
        s"concurrent writer detected on $sinkDir: staged against manifest " +
          s"'${staged.base}' but '${cur.commitId}' is now committed — this " +
          "merge no longer includes that commit's rows; restage from the " +
          "current generation and retry")
    val commitId = s"c${commitSeq.incrementAndGet()}_$writerToken"
    // a commit without a batch-id (manual merge) carries the previous
    // lineage + high-water mark forward — it must not reopen the
    // redelivery window
    val (lastRun, lastBatch) = staged.batchId match {
      case Some(b) => (staged.runId, b)
      case None => (cur.lastRun, cur.lastBatch)
    }
    val tmp = new java.io.File(sinkDir, s"MANIFEST_tmp_${System.nanoTime()}_$writerToken")
    val body = staged.entries.toSeq.sorted.map { case (i, n) => s"$i $n" }
      .mkString(s"#commit $commitId\n#run $lastRun\n#batch $lastBatch\n", "\n", "\n")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    tick("manifest-tmp-written")
    requireLockStillHeld(sinkDir)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(sinkDir, "MANIFEST").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    tick("manifest-renamed")
    val store = new java.io.File(sinkDir, "store")
    val live = staged.entries.values.toSet
    Option(store.listFiles()).getOrElse(Array.empty)
      .filterNot(d => live(d.getName))
      .foreach { d => tick("sweep-orphan"); deleteRec(d) }
    // crashed stages/commits also leave sink-ROOT garbage (staging_*
    // dirs, MANIFEST_tmp_* files, LOCK_broken_* markers) that the store
    // sweep above never touches. Swept only past an age cutoff: a LIVE
    // concurrent stage writes into a fresh staging_* dir, and yanking it
    // mid-write on every commit would starve that writer into its retry
    // loop. staging_* ages on [[stagingTtlMs]] (a stage is a full
    // parquet write — a legitimate one can outlive the sub-second
    // commit lease many times over); the metadata-sized MANIFEST_tmp_*
    // and LOCK_broken_* leftovers age on [[lockLeaseMs]].
    val now = System.currentTimeMillis()
    Option(new java.io.File(sinkDir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        val ttl =
          if (n.startsWith("staging_")) stagingTtlMs
          else if (n.startsWith("MANIFEST_tmp_") || n.startsWith("LOCK_broken_"))
            lockLeaseMs
          else Long.MaxValue
        now - f.lastModified() >= ttl
      }
      .foreach { f => tick("sweep-orphan"); deleteRec(f) }
  }

  /** Parse `MANIFEST` (bucket -> store directory); empty before the
    * first commit. */
  private[graft] def readManifest(sinkDir: String): Map[Long, String] =
    readManifestState(sinkDir).entries

  /** Parse `MANIFEST` with its commit-id header. A missing manifest next
    * to a legacy `current/` directory (the pre-manifest sink layout) is
    * a migration hazard, not an empty sink — treating it as "no prior
    * state" would silently reset the accumulated view while a surviving
    * stream checkpoint prevents reprocessing — so it fails loudly. */
  private[graft] def readManifestState(sinkDir: String): ManifestState = {
    val f = new java.io.File(sinkDir, "MANIFEST")
    if (!f.isFile) {
      if (new java.io.File(sinkDir, "current").isDirectory)
        throw new IllegalStateException(
          s"$sinkDir has a legacy 'current/' layout but no MANIFEST: refusing " +
            "to treat it as an empty sink (that would silently drop the " +
            "accumulated state); migrate it by committing 'current' as a " +
            "generation, or point the writer at a fresh directory")
      ManifestState("", "", -1L, Map.empty)
    } else {
      val lines = scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).toSeq
      val commitId = lines.collectFirst {
        case l if l.startsWith("#commit ") => l.stripPrefix("#commit ")
      }.getOrElse("")
      val lastRun = lines.collectFirst {
        case l if l.startsWith("#run") => l.stripPrefix("#run").trim
      }.getOrElse("")
      val lastBatch = lines.collectFirst {
        case l if l.startsWith("#batch ") => l.stripPrefix("#batch ").toLong
      }.getOrElse(-1L)
      val entries = lines.filterNot(_.startsWith("#")).map { l =>
        val Array(i, n) = l.split(" ", 2)
        i.toLong -> n
      }.toMap
      ManifestState(commitId, lastRun, lastBatch, entries)
    }
  }

  /** Read the sink's current committed generation — the manifest IS the
    * table; store directories are never discovered by listing. */
  def readUpserted(spark: SparkSession, sinkDir: String): DataFrame = {
    val man = readManifest(sinkDir)
    require(man.nonEmpty, s"upsert sink has no committed generation: $sinkDir")
    Tables.parquet(spark,
      man.toSeq.sortBy(_._1).map { case (_, n) => s"$sinkDir/store/$n" }: _*)
  }

  /** Streaming job publishing per-user running aggregates with
    * upsert-by-key semantics (update output mode → foreachBatch sink). */
  def userTotalsUpserted(parent: SparkSession, dir: String, sinkDir: String): DataFrame = {
    val spark = stateSession(parent)
    val agg = eventsStream(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    val q = agg.writeStream
      .outputMode("update")
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertByKey(spark, sinkDir, "user_id")(batch.toDF()))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // a zero-file source commits no batch and the sink never gains a
    // generation: an empty publish is an empty table (the aggregate's
    // own schema), not a violated precondition — readUpserted's loud
    // require is for CONSUMERS of a sink that should exist
    if (readManifest(sinkDir).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], agg.schema)
    else readUpserted(spark, sinkDir).orderBy("user_id")
  }

  /** Streaming incremental gold maintenance — continuous ingest keeping
    * [[Gold.caMonthly]] current without ever recomputing it. Orders
    * arrive as a micro-batched file stream; each batch reduces to its
    * per-month integer-cents partial ([[Gold.caMonthlyPartial]] — the
    * mergeable form) and foreachBatch sum-merges it into a persisted
    * partial table with a crash-atomic manifest-pointer commit. The merge reads and rewrites
    * ~|months| rows — the GOLD GRAIN, never the order history — so a
    * year of continuous ingest costs the same per trigger as day one.
    * Because cents merge associatively, the final table is bit-identical
    * to the batch recompute (hash-checked against ca_monthly's oracle),
    * in any batch split or arrival order. */
  def caMonthlyMaintained(spark: SparkSession, ordersDir: String,
      sinkDir: String, filesPerBatch: Int = 2,
      checkpointDir: Option[String] = None,
      crashAfterCommitOfBatch: Long = -1L): DataFrame = {
    val schema = Tables.parquet(spark, ordersDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(ordersDir)
    val runId = runIdFor(checkpointDir)
    val writer = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeKeyedPartial(spark, sinkDir, Seq("mois"), Seq("ca_cents"), batchId,
          runId)(Gold.caMonthlyPartial(batch.toDF()))
        // test-only fault: die AFTER the manifest commit but BEFORE Spark
        // records the batch in the checkpoint — the exact window where a
        // restart REDELIVERS the already-merged batch through the real
        // recovery path (StreamsSpec proves the batch-id high-water mark
        // makes the replay a no-op instead of a double-count)
        if (batchId == crashAfterCommitOfBatch)
          throw new RuntimeException(s"injected crash after commit of batch $batchId")
      }
    val q = checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Gold.caMonthlyFromPartials(readUpserted(spark, sinkDir))
  }

  /** Streamed maintenance of the top-client ranking's BASE STATE: the
    * client-grain (spend_cents, total_orders) table merges per batch by
    * key — exact integer partials, so the maintained state is
    * bit-identical to a full recompute in any batch order — and the
    * top-k is computed ON READ over the maintained state
    * (TakeOrderedAndProject on a client-grain frame). Maintaining the
    * base rather than the top-k list itself is the correct shape: a
    * maintained top-k alone cannot handle a client FALLING OUT (its
    * replacement's total lives outside the list), the classic top-k
    * view-maintenance trap. Answers the same oracle as `top_clients`. */
  def topClientsMaintained(spark: SparkSession, ordersDir: String,
      sinkDir: String, filesPerBatch: Int = 2, k: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val schema = Tables.parquet(spark, ordersDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(ordersDir)
    val runId = runIdFor(checkpointDir)
    val writer = stream.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeKeyedPartial(spark, sinkDir, Seq("c_custkey"),
          Seq("spend_cents", "total_orders"), batchId, runId)(
          Gold.validOrders(batch.toDF())
            .groupBy(col("o_custkey").as("c_custkey"))
            .agg(sum(Tables.cents(col("o_totalprice"))).as("spend_cents"),
              count(lit(1)).as("total_orders"))))
    val q = checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readUpserted(spark, sinkDir)
      .select(col("c_custkey"), (col("spend_cents") / 100.0).as("total_spend"),
        col("total_orders"))
      .orderBy(desc("total_spend"), col("c_custkey"))
      .limit(k)
  }

  /** Sum-merge one keyed partial into the sink's committed generation
    * under the SAME manifest-pointer discipline as [[upsertByKey]]: the
    * merged table is written as a new immutable generation in `store/`,
    * then ONE atomic manifest rename makes it current ([[upsertCommit]]
    * also sweeps the replaced generation). The previous design renamed
    * `current`→`old` then `staging`→`current` — a crash between the two
    * renames left NO current generation; here every crash point leaves
    * exactly one whole committed generation (covered by the
    * maintained-view crash test in StreamsSpec). The partial table is
    * one small file by construction — maintained grains are bounded
    * (months, clients), and a single writer task avoids a shuffle for
    * the small row counts. */
  private[graft] def mergeKeyedPartial(spark: SparkSession, sinkDir: String,
      keys: Seq[String], sums: Seq[String], batchId: Long = -1L,
      runId: String = "")(partial: DataFrame): Unit = {
    // foreachBatch is at-least-once: after a crash between the manifest
    // commit and the stream checkpoint write, the SAME batch is
    // redelivered on restart. A sum-merge is not idempotent, so the
    // committed manifest records the batch high-water mark and a
    // replayed batch is a no-op instead of a double-count. Batch-ids are
    // monotone only WITHIN one checkpoint lineage — a fresh run (new or
    // temp checkpoint) restarts them at 0, so the skip also requires the
    // committed lineage id to match `runId`: without that, re-running
    // maintenance over an existing sink would silently skip every batch
    // (all ids <= the persisted mark) and hand back a stale view as if
    // current. A lineage mismatch always merges — the pre-guard
    // double-count on genuine misuse is at least detectable. (The
    // replace-by-key upsert sink needs no such guard — re-replacing the
    // same rows is naturally idempotent.)
    if (batchId >= 0) {
      val st = readManifestState(sinkDir)
      // Upgrade guard: a manifest written under the older checkpoint-id
      // format carries a legacy `ckpt<8-hex>` mark (32-bit hashCode;
      // current ids are ckpt + 16-hex SHA-256 pathTag).
      // Under the lineage-mismatch rule that mark can never match the new
      // id, so the first redelivered batch would silently re-merge and
      // double-count its sums. Refuse loudly instead: the sink must be
      // rebuilt from source (or its #run mark cleared AND the stream
      // checkpoint discarded together — clearing only the mark while the
      // checkpoint survives reintroduces exactly the double-count).
      if (isLegacyRunId(st.lastRun))
        throw new IllegalStateException(
          s"$sinkDir: manifest carries a pre-upgrade lineage mark " +
            s"'${st.lastRun}' (legacy ckpt<8-hex-hashCode> format). " +
            "Refusing to merge: a redelivered batch under the new id " +
            "format would double-count. Rebuild the sink from source, or " +
            "clear the manifest's #run mark together with the stream " +
            "checkpoint (see CHANGELOG, round 16 BREAKING note).")
      if (st.lastRun == runId && st.lastBatch >= batchId) return
    }
    upsertCommit(sinkDir,
      mergeStage(spark, sinkDir, keys, sums)(partial)
        .copy(batchId = if (batchId >= 0) Some(batchId) else None,
          runId = if (batchId >= 0) runId else ""))
  }

  /** Redelivery lineage id for a maintained-view run: derived from the
    * CANONICAL checkpoint path when one exists (the checkpoint IS the
    * redelivery scope — a restart from it replays the same batch ids,
    * so the id must survive the restart), fresh per invocation when the
    * query runs on a temp checkpoint (its batch ids share no lineage
    * with anything persisted, so no persisted mark may suppress them).
    * The id is a SHA-256 path tag, not a 32-bit hashCode: a collision
    * between two checkpoint paths would alias their redelivery scopes,
    * letting one dataset's persisted mark suppress another's replay
    * (the same collision class as the shared-drain sink prefixes).
    *
    * FORMAT BREAK (round 15→16, see CHANGELOG): ids were previously
    * `ckpt<8-hex-hashCode>`. A sink whose manifest persists ACROSS the
    * upgrade carries a mark under the old id, so the first restarted
    * batch takes the lineage-mismatch path and re-merges once
    * (double-counting that one redelivered batch's sums). Persisted
    * sinks upgrading in place should be rebuilt from source (or their
    * manifest's lastRun cleared) before the first post-upgrade run. */
  private[graft] def runIdFor(checkpointDir: Option[String]): String =
    checkpointDir match {
      case Some(c) => "ckpt" + Tables.pathTag(new java.io.File(c).getAbsolutePath)
      case None => s"tmp${writerToken}_${commitSeq.incrementAndGet()}"
    }

  /** True iff a persisted lineage mark is in the legacy format: `ckpt`
    * + exactly 8 lowercase-hex chars (the 32-bit hashCode id).
    * Current checkpoint ids are `ckpt` + 16 hex (SHA-256 pathTag) and
    * temp ids start with `tmp`, so the match is unambiguous. */
  private[graft] def isLegacyRunId(id: String): Boolean =
    id.length == 12 && id.startsWith("ckpt") &&
      id.drop(4).forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))

  /** Stage one partial merge: write the merged table as the next
    * generation in the store and return the staged one-entry manifest
    * (with its compare-and-set base) the commit should publish. No
    * visible state change (the testable crash window, exactly like
    * [[upsertStage]]). */
  private[graft] def mergeStage(spark: SparkSession, sinkDir: String,
      keys: Seq[String], sums: Seq[String], tick: String => Unit = _ => ())(
      partial: DataFrame): Staged = {
    val ManifestState(base, _, _, man) = readManifestState(sinkDir)
    val merged =
      if (man.isEmpty) partial
      else readUpserted(spark, sinkDir).unionByName(partial)
        .groupBy(keys.map(col): _*)
        .agg(sum(sums.head).as(sums.head),
          sums.tail.map(c => sum(c).as(c)): _*)
    val store = new java.io.File(sinkDir, "store")
    store.mkdirs()
    tick("staging-written")
    val gen = s"view_g${System.nanoTime()}_$writerToken"
    merged.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(store, gen).getAbsolutePath)
    tick("store-renamed")
    Staged(base, Map(0L -> gen))
  }

  /** Streaming exact dedup by event_id with watermark-bounded state
    * (dropDuplicatesWithinWatermark): late duplicates beyond the
    * watermark age out of state instead of growing it forever — the
    * streaming twin of the batch exact-dedup operator. */
  def eventsDedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run the streaming dedup over a doubled event stream (every file read
    * twice) and return the surviving rows — proves duplicate suppression
    * across the stream. */
  def eventsDedupStreamed(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(stateSession(spark), dir)
    dedupDrain(src.union(src))
  }

  /** The dedup drain behind [[eventsDedupStreamed]], split on the source
    * for the fuzz harness (duplicate bursts across micro-batches). */
  private[graft] def dedupDrain(source: DataFrame): DataFrame =
    drain(eventsDedupStream(source), "graft_dedup_stream", "append").orderBy("event_id")

  /** Stream-stream inner join with an event-time range condition —
    * click→purchase attribution: for each purchase, the same-user clicks
    * in the preceding hour. The range predicate plus a watermark on BOTH
    * sides bounds each side's join state to one hour of events per user,
    * so state size tracks stream rate, not stream history — the only
    * stream-stream join shape that survives an unbounded run. Matches
    * emit eagerly (inner join), so Trigger.AvailableNow over the finite
    * test stream yields exactly the batch join's pair set; the per-
    * purchase rollup happens on the materialized pairs afterwards.
    * Purchases with no preceding click don't appear (inner semantics,
    * same as the oracle's plain join).
    *
    * The three attribution views never each run their own stream-stream
    * join: ONE full-outer attribution stream is drained per (session,
    * dataset) and all three views derive from its pair set, because a
    * full-outer pair set is a strict superset: inner = rows with both
    * sides matched, left-outer = rows with the purchase side present.
    * [[sharedAttributionPairs]] memoizes that drain. The rollups are
    * exact, so this one body is what Bench times and what Verify
    * hash-checks against the batch-join oracle at every scale factor;
    * StreamsProps fuzzes the three rollups against the batch joins. */
  def attributionStreamed(spark: SparkSession, dir: String): DataFrame =
    innerFromPairs(sharedAttributionPairs(spark, dir))

  /** Inner-attribution rollup over a (possibly full-outer) drained pair
    * set: matched rows only — both join sides present and neither the
    * heartbeat sentinel (a sentinel can never match, the guards are
    * belt-and-braces). */
  private[graft] def innerFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("purchase_id").isNotNull && col("c_user").isNotNull &&
        col("purchase_id") =!= -1L && col("c_user") =!= -1L)
      .groupBy("purchase_id", "user_id", "purchase_ts")
      .agg(count(lit(1)).as("n_clicks"),
        Tables.moneySum(col("click_value")).as("click_value"))
      .select(col("purchase_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("n_clicks"), col("click_value"))
      .orderBy("purchase_id")

  /** Left-outer rollup over the full-outer pair set: every real purchase
    * row (matched or null-click), click-orphan rows dropped. */
  private[graft] def outerFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("purchase_id").isNotNull && col("purchase_id") =!= -1L)
      .groupBy("purchase_id", "user_id", "purchase_ts")
      .agg(count(col("c_user")).as("n_clicks"),
        Tables.moneySum(col("click_value")).as("click_value"))
      .select(col("purchase_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("n_clicks"), col("click_value"))
      .orderBy("purchase_id")

  /** Full-outer rollup: purchases (matched or zero-click) plus orphan
    * clicks under a NULL purchase key; heartbeat sentinels dropped. */
  private[graft] def fullFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .filter(coalesce(col("purchase_id"), lit(0L)) =!= -1L &&
        coalesce(col("user_id"), col("c_user")) =!= -1L)
      .groupBy(col("purchase_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        col("purchase_ts"))
      .agg(count(col("c_user")).as("n_clicks"),
        Tables.moneySum(col("click_value")).as("click_value"))
      .select(col("purchase_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("n_clicks"), col("click_value"))
      .orderBy("purchase_id", "user_id")

  /** The one shared full-outer pair drain behind the three attribution
    * views — drained once per (session, dataset), heartbeat-punctuated
    * on both sides so every outer row flushes. A [[Shared.session]]
    * entry is built once, so concurrent first callers wait for the one
    * drain: a second drain's `sinkName` would drop the first one's
    * memory table before that drain reads it back. */
  private def sharedAttributionPairs(spark: SparkSession, dir: String): DataFrame =
    Shared.session(spark, ("attrPairs", dir)) {
      val state = stateSession(spark)
      attributionPairsDrain(
        () => eventsStream(state, dir).unionByName(heartbeatStream(state, dir)),
        // own per-dir sink prefix: sinkName drops the PREVIOUS view of
        // the same (session, prefix), so the memoized view must never
        // share a prefix with per-call drains (spec/fuzz paths) or with
        // a different dataset's shared drain in the same session
        sharedPairsPrefix(dir))
    }
  private[graft] def sharedPairsPrefix(dir: String): String =
    s"graft_attr_shared_${Tables.pathTag(dir)}"

  /** Drain the full-outer click↔purchase range join and return the RAW
    * pair set (no rollup) as the source session's memory table. */
  private[graft] def attributionPairsDrain(mkSource: () => DataFrame,
      prefix: String = "graft_attr_full"): DataFrame = {
    val clicks = mkSource()
      .filter(col("event_type").isin("click", "sentinel"))
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    val purchases = mkSource()
      .filter(col("event_type").isin("purchase", "sentinel"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val pairs = purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("purchase_ts"),
      "full_outer")
    drain(pairs, prefix, "append")
  }

  /** A one-row "heartbeat" stream whose single event sits 3 hours past
    * the events stream's end. Unioned into a watermarked side, it drives
    * that side's watermark past every real event's join window — the
    * punctuation-message pattern production streams use so OUTER join
    * results flush instead of waiting for traffic that never comes. A
    * finite stream otherwise strands its last `delay` worth of unmatched
    * rows in the join state (the watermark stops at lastEvent − delay).
    * Written in the source parquet's raw schema so the streaming reader
    * treats it exactly like the real feed. */
  private[graft] def heartbeatStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.parquet(spark, s"$dir/events.parquet").schema
    val isNanos = schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tmp = Shared.dir(spark, "heartbeat", dir) { p =>
      // the full relation resolves only on the one-time sentinel build
      val static = Tables.parquet(spark, s"$dir/events.parquet")
      val maxTs = static.agg(max("ts")).first()
      // `lit` accepts java.sql.Timestamp (TIMESTAMP) and
      // java.time.LocalDateTime (TIMESTAMP_NTZ) alike, so the same branch
      // covers both physical encodings of a timestamp-typed `ts`.
      val tsLit =
        if (isNanos) lit(maxTs.getLong(0) + 3L * 3600 * 1000000000L)
        else lit(maxTs.get(0)) + expr("INTERVAL 3 HOURS")
      static.limit(1)
        .withColumn("event_id", lit(-1L))
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", tsLit)
        .withColumn("event_type", lit("sentinel"))
        .withColumn("value", lit(0.0))
        .write.mode("overwrite").parquet(p)
    }
    val raw = spark.readStream.schema(schema).parquet(tmp)
    if (isNanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** [[attributionStreamed]]'s LEFT OUTER form: every purchase emits,
    * zero-click purchases with a null-click row once the watermark proves
    * no matching click can still arrive. Outer stream-stream joins only
    * emit their null rows when the watermark PASSES the row's join
    * window, so each side unions the [[heartbeatStream]] sentinel (3 h
    * past end-of-stream) — without it, every purchase in the final hour
    * would stay stranded in state and the result could never equal the
    * batch left join it is hash-checked against. State stays bounded to
    * one hour per user exactly as in the inner form. */
  def attributionOuterStreamed(spark: SparkSession, dir: String): DataFrame =
    outerFromPairs(sharedAttributionPairs(spark, dir))

  /** [[attributionOuterStreamed]]'s FULL OUTER form — the last member of
    * the stream-stream join family: every purchase emits (zero-click ones
    * with a null-click row, as in the left-outer form) AND every click
    * that attributed to no purchase emits once the watermark proves none
    * can still arrive — the "orphaned spend" rows a marketing team
    * reconciles against ad-platform invoices. Orphan clicks aggregate per
    * user under a NULL purchase key. Both sides union the
    * [[heartbeatStream]] sentinel (outer emission on EITHER side waits on
    * the OTHER side's watermark); sentinel rows are dropped after the
    * join — a sentinel click can never match (it sits 3 h past every
    * purchase's window), so it only ever appears as an orphan of user -1.
    * State stays bounded to one hour per user exactly as in the inner and
    * left-outer forms. */
  def attributionFullStreamed(spark: SparkSession, dir: String): DataFrame =
    fullFromPairs(sharedAttributionPairs(spark, dir))

  /** Recursive delete for staged sink/checkpoint directories. */
  private[graft] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Run the streaming sessionizer over the static events parquet; returns
    * every session. EventTimeTimeout emits sessions the watermark has
    * passed; a FINITE stream then still ends with the tail sessions open
    * (the watermark stops at the last event, short of their last+gap
    * timeout), so they are flushed from the state store afterwards via the
    * statestore read source — making the result equal to the batch
    * sessionizer's. The flush collects only still-open sessions (bounded
    * by active users in the final gap window), not the output. */
  def eventSessionsStreamed(spark: SparkSession, dir: String): DataFrame =
    sessionsDrain(eventsStream(stateSession(spark), dir))

  /** The sessionization drain behind [[eventSessionsStreamed]], split on
    * the SOURCE so the fuzz harness can feed chunked/shuffled/late
    * arrivals ([[chunkedEventsStream]]) through the identical
    * state-machine + timeout + end-of-stream-flush machinery. */
  private[graft] def sessionsDrain(source: DataFrame): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sessions_ckpt")
    val emitted = drain(sessionizeStream(source), "graft_sessions_stream", "append",
      Some(ckpt.toString))
    // a zero-file source commits NO batch under AvailableNow, and the
    // statestore read source then refuses the checkpoint
    // (STDS_COMMITTED_BATCH_UNAVAILABLE) — no batch means no state, so
    // the flush is empty, not an error
    val leftoverRows =
      try spark.read.format("statestore").load(ckpt.toString)
        .select(col("key.value").as("u"), col("value.groupState.start"),
          col("value.groupState.last"), col("value.groupState.n"),
          col("value.groupState.sum"))
        .as[(Long, Long, Long, Long, Double)]
        .collect().toSeq
      catch {
        case e: org.apache.spark.SparkThrowable
            if e.getCondition == "STDS_COMMITTED_BATCH_UNAVAILABLE" => Seq.empty
      }
    val leftover = leftoverRows
      .map { case (u, s, l, n, sm) => close(u, SessionState(s, l, n, sm)) }
      .toDF()
    deleteRec(ckpt.toFile)
    emitted.unionByName(leftover)
      // instant → NTZ under the UTC session: same wall clock, and the
      // dumped parquet compares 1:1 with the oracle's naive TIMESTAMP
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("duration_sec"), col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** Run the streaming hourly aggregate to completion over the static
    * events parquet and return the materialized result — the streaming
    * twin of the batch `events_hourly` query, checked against the same
    * DuckDB oracle. */
  def eventsHourlyStreamed(spark: SparkSession, dir: String): DataFrame =
    hourlyDrain(eventsStream(stateSession(spark), dir))

  /** The complete-mode hourly drain, split on the source for the fuzz
    * harness: complete output keeps ALL window state (the watermark is a
    * no-op), so the result must equal the batch aggregate over EVERY
    * row under any chunking — late arrivals included. */
  private[graft] def hourlyDrain(source: DataFrame): DataFrame =
    drain(hourlyAgg(source), "graft_events_stream", "complete")
      .orderBy("heure", "event_type")

  /** Streaming twin of the batch hopping-window aggregate
    * (Serving.eventsHopping): the SAME `window(ts, 1h, 15min)` operator
    * under a watermark — each event expands row-locally into its 4
    * covering windows before the stateful aggregation, so state size is
    * slide-ratio × live windows, and the watermark bounds "live".
    * Materialized to completion and checked against the batch query's
    * own DuckDB oracle, proving the sliding operator agrees between the
    * at-rest and in-motion paths. */
  def eventsHoppingStreamed(spark: SparkSession, dir: String): DataFrame =
    drain(eventsStream(stateSession(spark), dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("w_start"),
        col("n_events"), col("total_value")),
      "graft_hopping_stream", "complete").orderBy("w_start")

  /** Streaming twin of [[Serving.eventSessionsNative]]: Spark's native
    * session_window under a watermark — the engine merges/extends
    * session state per micro-batch in the state store (gap-bounded
    * windows coalesce as late events arrive), where the
    * flatMapGroupsWithState variant ([[eventSessionsStreamed]]) hand-rolls
    * the same machinery. Complete-mode AvailableNow drain, checked
    * against the SAME batch oracle as the native batch form (update
    * mode is the one session_window doesn't support). */
  def sessionsNativeStreamed(spark: SparkSession, dir: String): DataFrame =
    sessionsNativeDrain(eventsStream(stateSession(spark), dir))

  /** The native session_window drain, split on the source for the fuzz
    * harness: complete output ignores the watermark entirely, so
    * gap-bounded session windows must coalesce to the batch result
    * under ANY multi-batch arrival — late chunks included (the
    * engine-managed merge of session state the hand-rolled FMGWS
    * variant reimplements). */
  private[graft] def sessionsNativeDrain(source: DataFrame): DataFrame =
    drain(source
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .withColumn("duration_sec",
        expr("(unix_micros(CAST(session_end AS TIMESTAMP)) - unix_micros(CAST(session_start AS TIMESTAMP))) div 1000000"))
      .select("user_id", "session_start", "session_end", "duration_sec",
        "n_events", "total_value"),
      "graft_sessions_native_stream", "complete").orderBy("user_id", "session_start")

  /** Stream-static enrichment (the standard production shape for joining
    * a fact stream to slowly-changing dims): the event stream left-joins
    * the broadcast customer→nation dim — stateless, re-resolved per
    * micro-batch, no stream-stream state — then aggregates hourly revenue
    * by country. Materialized to completion and checked against the same
    * batch-join oracle. */
  def enrichedHourlyStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = stateSession(parent)
    val dims = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), coalesce(col("n_name"), lit("Inconnu")).as("pays"))
    val agg = eventsStream(spark, dir)
      .join(broadcast(dims), col("user_id") === col("c_custkey"), "left")
      .withColumn("pays", coalesce(col("pays"), lit("Inconnu")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("pays"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("heure"), col("pays"),
        col("n_events"), col("total_value"))
    drain(agg, "graft_enriched_stream", "complete").orderBy("heure", "pays")
  }
}
