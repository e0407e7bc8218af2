package graft

import org.apache.spark.sql.functions._

import graft.queries.{Oracle, QuerySpec}

/** Streaming + multimodal extension plumbing. */
class StreamsSpec extends SparkSpec {
  /** The chunked drains read at the registry drains' state width. */
  private lazy val state = Streams.stateSession(spark)

  test("streamed hourly aggregate equals the batch aggregate") {
    // cast heure to string on both sides: batch carries TIMESTAMP, the
    // streamed result TIMESTAMP_NTZ — same wall-clock under the UTC session
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("heure", date_format(col("heure"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("heure", "event_type")
      .collect().map(_.mkString("|")).toSeq
    val batch = canon(Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("heure"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value")))
    val streamed = canon(Streams.eventsHourlyStreamed(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed hopping windows equal the batch sliding aggregate") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("w_start", date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("w_start")
      .collect().map(_.mkString("|")).toSeq
    val batch = canon(Serving.eventsHopping(Tables.events(spark, sf)))
    val streamed = canon(Streams.eventsHoppingStreamed(spark, sf))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("multimodal decode: deterministic stub, frame fan-out, feature norm 1") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.multimodalFeatures(docs)
    val rows = feats.collect()
    assert(rows.nonEmpty)
    // audio/video docs fan out to n_frames rows
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, rs) =>
      assert(rs.length == rs.head.getAs[Int]("n_frames"))
    }
    // L1-normalized byte histogram sums to ~1 for non-empty frames
    assert(rows.forall { r =>
      val l1 = r.getAs[Double]("feat_l1")
      l1 >= 0.0 && l1 <= 1.000001
    })
    // determinism: run twice, same result
    val again = Multimodal.multimodalFeatures(docs).collect()
    assert(again.map(_.mkString("|")).toSeq == rows.map(_.mkString("|")).toSeq)
  }

  test("streamed sessionization emits exactly the batch session set (timeout + end-of-stream flush)") {
    import org.apache.spark.sql.Row
    val batch = Serving.eventSessions(Tables.events(spark, sf))
    // normalize timestamp rendering: batch carries TIMESTAMP_NTZ
    // (LocalDateTime, 'T' separator), streamed java.sql.Timestamp
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("e"),
        col("duration_sec"), col("n_events"), col("total_value"))
      .orderBy("user_id", "s")
      .collect()
    def key(r: Row) = (r.getLong(0), r.getString(1), r.getString(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))
    val streamed = canon(Streams.eventSessionsStreamed(spark, sf))
    assert(streamed.nonEmpty)
    assert(streamed.map(key).toSeq == canon(batch).map(key).toSeq)

    // same job on the RocksDB state store — the provider a production
    // cluster runs when session state outgrows the JVM heap (HDFS-backed
    // keeps every key in executor memory; RocksDB spills to local SSD).
    // The result must be byte-identical: state backend is an operational
    // choice, never a semantic one. The provider is set on a private
    // session, and the drain reads on it directly: a state clone of the
    // shared session would not inherit the provider.
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val rocks = spark.newSession()
    rocks.conf.set(provider, rocksDb)
    val drained = Streams.sessionsDrain(Streams.eventsStream(rocks, sf))
    assert(drained.sparkSession.conf.get(provider) == rocksDb)
    assert(canon(drained).map(key).toSeq == canon(batch).map(key).toSeq,
      "RocksDB state store changed the session set")
  }

  test("concurrent drains run at the state width and never write their caller's shuffle width") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    // Verify runs bodies concurrently on one session: a drain that
    // lowered the session's shuffle width around its run handed that
    // width to every batch query planned meanwhile, and two overlapping
    // drains could restore it in the wrong order
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    // a SparkListener sees the progress of every session's queries
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress)
        case _ =>
      }
    }
    val drainBus = () => org.apache.spark.graftbridge.BusDrain(spark.sparkContext)
    drainBus()
    spark.sparkContext.addSparkListener(listener)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sampled = try {
      val drains = Seq(
        Future(Streams.eventsHourlyStreamed(spark, sf).collect()),
        Future(Streams.eventSessionsStreamed(spark, sf).collect()))
      // the batch query's thread samples the caller's width while the
      // drains run, and plans and runs a query at each sample
      val batch = Future {
        val seen = Seq.newBuilder[String]
        while (!drains.forall(_.isCompleted)) {
          seen += spark.conf.get(key)
          Tables.events(spark, sf).groupBy("event_type").count().collect()
        }
        seen.result()
      }
      drains.foreach(Await.result(_, Duration.Inf))
      val seen = Await.result(batch, Duration.Inf)
      drainBus()
      seen
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      pool.shutdown()
    }
    val states = progress.asScala.toSeq
      .filter(p => Option(p.name).exists(n =>
        n.startsWith("graft_events_stream") || n.startsWith("graft_sessions_stream")))
      .flatMap(_.stateOperators)
    assert(states.nonEmpty, "no state operator progress from the drains")
    assert(states.forall(_.numShufflePartitions == 8),
      s"state widths: ${states.map(_.numShufflePartitions).distinct}")
    assert(sampled.nonEmpty && sampled.forall(_ == before),
      s"caller's $key read ${sampled.distinct} during the drains, $before before")
    assert(spark.conf.get(key) == before, s"caller's $key left at ${spark.conf.get(key)}")
  }

  test("late arrivals are dropped at the watermark, never folded backwards into session state") {
    import java.sql.Timestamp
    import spark.implicits._
    // Spark delivers sub-watermark rows to flatMapGroupsWithState
    // UNFILTERED; before the fold's guard, the late t=500 row below
    // extended the open [7000,7000] session BACKWARDS to end=500 —
    // a negative-duration session (found by StreamsProps; this pins the
    // minimal two-batch reproduction). Boundary rows (ts == watermark)
    // are on time.
    def ts(off: Long) = Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(off))
    def chunk(rows: (Long, Long, Long)*) =
      rows.map { case (id, u, off) => (id, u, "view", ts(off), 1.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_late_events")
    val stage = java.nio.file.Files.createTempDirectory("graft_late_stage")
    try {
      // batch 1: user 1 at t=1000 and t=7000 (watermark after it: 7000)
      // batch 2: LATE t=500 (dropped), boundary t=7000 for user 2 (kept),
      //          6999 late for user 2 (dropped), on-time t=7100 user 1
      val chunks = Seq(
        chunk((1L, 1L, 1000L), (2L, 1L, 7000L)),
        chunk((3L, 1L, 500L), (4L, 2L, 7000L), (5L, 2L, 6999L), (6L, 1L, 7100L)))
      chunks.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir.toFile, f"chunk_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 10000L)
      }
      val got = Streams.sessionsDrain(Streams.chunkedEventsStream(state, dir.toString))
        .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
          col("duration_sec"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      val base = ts(0).getTime / 1000
      assert(got == Seq(
        (1L, base + 1000, 0L, 1L),   // first session, closed by the gap
        (1L, base + 7000, 100L, 2L), // extended by on-time 7100, NOT by late 500
        (2L, base + 7000, 0L, 1L)),  // boundary row kept; 6999 dropped
        s"got $got")
      assert(got.forall(_._3 >= 0), "negative-duration session emitted")
    } finally {
      Streams.deleteRec(dir.toFile); Streams.deleteRec(stage.toFile)
    }
  }

  test("watermark boundary lags one batch: adjacent-batch ts tie kept, one-batch-lagged tie dropped") {
    // The r15 N=100 StreamsProps soak falsified the single-watermark
    // delivered model with exactly this shape. Spark admits a row iff
    // ts > max(batches <= k-2)  [built-in LessThanOrEqual late filter on
    // eventTimeWatermarkForLateEvents, which LAGS one batch]  AND
    // ts >= max(batches <= k-1) [the sessionizer's getCurrentWatermarkMs
    // guard, equality kept]. So a tie with the previous batch's max
    // survives, but the SAME tie with any batch in between — even an
    // empty one, which advances nothing except the lag — is dropped.
    import spark.implicits._
    def ts(off: Long) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(off))
    def chunk(rows: (Long, Long, Long)*) =
      rows.map { case (id, u, off) => (id, u, "view", ts(off), 1.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    def drain(chunks: Seq[Seq[(Long, Long, Long)]]): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_wmlag_events")
      val stage = java.nio.file.Files.createTempDirectory("graft_wmlag_stage")
      try {
        chunks.zipWithIndex.foreach { case (rows, i) =>
          chunk(rows: _*).coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(dir.toFile, f"chunk_$i%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + i * 10000L)
        }
        Streams.sessionsDrain(Streams.chunkedEventsStream(state, dir.toString))
          .select("user_id").collect().map(_.getLong(0)).toSeq.sorted
      } finally {
        Streams.deleteRec(dir.toFile); Streams.deleteRec(stage.toFile)
      }
    }
    val t = 10561L
    // tie in the immediately-next batch: late watermark still lags -> kept
    assert(drain(Seq(Seq((1L, 3L, t)), Seq((2L, 4L, t)))) == Seq(3L, 4L))
    // same tie after an empty micro-batch: the late watermark caught up
    // to t and LessThanOrEqual drops the boundary row
    assert(drain(Seq(Seq((1L, 3L, t)), Seq.empty, Seq((2L, 4L, t)))) == Seq(3L))
    // strictly-later row after the empty batch is unaffected
    assert(drain(Seq(Seq((1L, 3L, t)), Seq.empty, Seq((2L, 4L, t + 1)))) == Seq(3L, 4L))
  }

  test("characterization: complete-mode session_window drops late rows by candidate-window END, not raw ts") {
    import java.sql.Timestamp
    import spark.implicits._
    // Engine behavior pinned by the fuzz harness (Spark 4.1): complete
    // output is NOT watermark-free for session_window — an input row
    // whose candidate window [ts, ts+gap) has already CLOSED below the
    // watermark is dropped at ingress, while a row whose raw ts is
    // below the watermark but whose window end is not still merges.
    // (Contrast: the hand-rolled FMGWS sessionizer sees raw rows and
    // enforces a boundary-inclusive raw-ts contract.) If a Spark
    // upgrade changes this, the native and batch session queries'
    // late-data stories need re-auditing — that is what this pins.
    def ts(off: Long) = Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(off))
    def chunk(rows: (Long, Long, Long)*) =
      rows.map { case (id, u, off) => (id, u, "view", ts(off), 1.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_sw_late")
    val stage = java.nio.file.Files.createTempDirectory("graft_sw_stage")
    try {
      // watermark delay 2h, gap 30min. After batches 1-2 the watermark
      // reaches 20000-7200=12800. Batch 3: u2 at t=1000 (window end
      // 2800 < wm -> dropped); u3 at t=13000 (raw ts below wm but
      // window end 14800 > wm -> kept).
      val chunks = Seq(
        chunk((1L, 1L, 20000L)),
        chunk((9L, 9L, 20500L)),
        chunk((2L, 2L, 1000L), (3L, 3L, 13000L)))
      chunks.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir.toFile, f"chunk_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 10000L)
      }
      val users = Streams.sessionsNativeDrain(Streams.chunkedEventsStream(state, dir.toString))
        .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(users == Seq(1L, 3L, 9L),
        s"session_window late-row semantics changed: $users")
    } finally {
      Streams.deleteRec(dir.toFile); Streams.deleteRec(stage.toFile)
    }
  }

  test("stream-stream attribution join equals the batch range join") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val batch = purchases.join(clicks,
        col("c_user") === col("user_id") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") < col("purchase_ts"))
      .groupBy("purchase_id", "user_id", "purchase_ts")
      .agg(count(lit(1)).as("n_clicks"),
        Tables.moneySum(col("click_value")).as("click_value"))
      .select(col("purchase_id"), col("n_clicks"), col("click_value"))
      .orderBy("purchase_id")
      .collect().map(_.mkString("|")).toSeq
    val streamed = Streams.attributionStreamed(spark, sf)
      .select(col("purchase_id"), col("n_clicks"), col("click_value"))
      .orderBy("purchase_id")
      .collect().map(_.mkString("|")).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("outer attribution flushes via heartbeat under both ts encodings (NTZ + nanos int64)") {
    def batchOuter(dir: String): Seq[String] = {
      val ev = Tables.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      purchases.join(clicks,
          col("c_user") === col("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("click_ts") < col("purchase_ts"), "left_outer")
        .groupBy("purchase_id", "user_id", "purchase_ts")
        .agg(count(col("c_user")).as("n_clicks"),
          Tables.moneySum(col("click_value")).as("click_value"))
        .orderBy("purchase_id")
        .select(col("purchase_id"), col("n_clicks"), col("click_value"))
        .collect().map(_.mkString("|")).toSeq
    }
    def streamedOuter(dir: String): Seq[String] =
      Streams.attributionOuterStreamed(spark, dir)
        .select(col("purchase_id"), col("n_clicks"), col("click_value"))
        .collect().map(_.mkString("|")).toSeq

    // NTZ branch: the driver's events.parquet stores ts as timestamp[us]
    // without UTC adjustment, so Spark reads TIMESTAMP_NTZ and first() on
    // max(ts) yields a LocalDateTime — the encoding that crashed round 6's
    // heartbeat sentinel.
    val ntzBatch = batchOuter(sf)
    assert(ntzBatch.exists(_.split("\\|")(1) == "0"),
      "fixture lost its zero-click purchases; the outer join is untested")
    assert(streamedOuter(sf) == ntzBatch)

    // nanos branch: same events with ts re-encoded as raw int64 nanoseconds
    // (how nanosAsLong surfaces a parquet TIMESTAMP(NANOS) column).
    val tmp = java.nio.file.Files.createTempDirectory("graft_nanos_events")
    try {
      val staged = tmp.resolve("stage")
      spark.read.parquet(s"$sf/events.parquet")
        .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
        .coalesce(1).write.mode("overwrite").parquet(staged.toString)
      val part = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, tmp.resolve("events.parquet"))
      val dir = tmp.toString
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(streamedOuter(dir) == batchOuter(dir))
    } finally Streams.deleteRec(tmp.toFile)
  }

  test("full-outer attribution equals the batch full join; orphan clicks emit per user") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val batch = purchases.join(clicks,
        col("c_user") === col("user_id") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") < col("purchase_ts"), "full_outer")
      .groupBy(col("purchase_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        col("purchase_ts"))
      .agg(count(col("c_user")).as("n_clicks"),
        Tables.moneySum(col("click_value")).as("click_value"))
      .select(col("purchase_id"), col("user_id"), col("n_clicks"), col("click_value"))
      .orderBy(col("purchase_id"), col("user_id"))
      .collect().map(_.mkString("|")).toSeq
    val streamed = Streams.attributionFullStreamed(spark, sf)
      .select(col("purchase_id"), col("user_id"), col("n_clicks"), col("click_value"))
      .orderBy(col("purchase_id"), col("user_id"))
      .collect().map(_.mkString("|")).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the full form strictly extends the left-outer form by orphan-click
    // rows: null purchase_id, real users, at least one click each
    val orphans = Streams.attributionFullStreamed(spark, sf)
      .filter(col("purchase_id").isNull)
    assert(orphans.count() > 0)
    assert(orphans.filter(col("n_clicks") < 1 || col("user_id") === -1L).count() == 0)
    // inner ⊂ left-outer ⊂ full, strictly (zero-click purchases and
    // orphan clicks both exist in the fixture)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val inner = rows(Streams.attributionStreamed(spark, sf))
    val outer = rows(Streams.attributionOuterStreamed(spark, sf))
    val full = rows(Streams.attributionFullStreamed(spark, sf))
    assert(inner.subsetOf(outer) && inner.size < outer.size)
    assert(outer.subsetOf(full) && outer.size < full.size)
  }

  test("bounded-error oracles read only their own dump, the HLL tiers among them") {
    // Verify dumps the body Bench times for every query; a sketch
    // estimate is checked by an oracle that reads that dump back, so it
    // must read its own query's output and nothing else
    import graft.queries.OracleSql.OutDirToken
    val bounded = SparkEntry.specs.collect {
      case QuerySpec(n, _, Oracle(sql)) if sql.contains(OutDirToken) => n -> sql
    }
    for ((n, sql) <- bounded; read <- sql.split(OutDirToken, -1).tail)
      assert(read.startsWith(s"/$n/"), s"$n reads $OutDirToken$read")
    assert(Set("kpis_incremental", "kpis_rewritten")
      .subsetOf(bounded.map(_._1).toSet))
  }

  test("concurrent first calls of the attribution views share one drain") {
    // a fresh dir is a fresh (session, dataset) memo key, so the three
    // registry bodies race to build the shared pair drain, as in
    // Verify's 4-wide pool; exactly one drain may run and each view must
    // still equal its batch join
    val tmp = java.nio.file.Files.createTempDirectory("graft_attr_race")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      tmp.resolve("events.parquet"))
    val dir = tmp.toString
    val prefix = Streams.sharedPairsPrefix(dir)
    val drains = new java.util.concurrent.atomic.AtomicInteger(0)
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) drains.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def fmt(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("purchase_id", "user_id", "n_clicks", "click_value")
        .collect().map(_.mkString("|")).toSeq.sorted
    def batch(joinType: String): Seq[String] = {
      val ev = Tables.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      fmt(purchases.join(clicks,
          col("c_user") === col("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("click_ts") < col("purchase_ts"), joinType)
        .groupBy(col("purchase_id"),
          coalesce(col("user_id"), col("c_user")).as("user_id"),
          col("purchase_ts"))
        .agg(count(col("c_user")).as("n_clicks"),
          Tables.moneySum(col("click_value")).as("click_value")))
    }
    val views = Seq("events_attribution" -> "inner",
      "events_attribution_outer" -> "left_outer",
      "events_attribution_full" -> "full_outer")
    // the drains run on the state clone, whose query manager posts them
    state.streams.addListener(listener)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(views.size)
      val results = try {
        val futures = views.map { case (n, _) =>
          pool.submit(new java.util.concurrent.Callable[Seq[String]] {
            def call(): Seq[String] = { start.await(); fmt(SparkEntry.queries(n)(spark, dir)) }
          })
        }
        start.countDown()
        futures.map(_.get())
      } finally pool.shutdown()
      assert(drains.get() == 1)
      views.zip(results).foreach { case ((n, joinType), got) =>
        val want = batch(joinType)
        assert(want.nonEmpty && got == want, n)
      }
    } finally {
      state.streams.removeListener(listener)
      Streams.deleteRec(tmp.toFile)
    }
  }

  test("snapshotDiff: all four statuses classified with exact cents deltas") {
    import spark.implicits._
    val v1 = Seq((1L, 2020, 10.0), (2L, 2020, 20.0), (3L, 2021, 30.0))
      .toDF("o_orderkey", "annee", "o_totalprice")
    val v2 = Seq((2L, 2020, 25.0), (3L, 2021, 30.0), (4L, 2021, 40.0))
      .toDF("o_orderkey", "annee", "o_totalprice")
    val out = Layout.snapshotDiff(v1, v2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (2020, "changed", 1L, 5.0), (2020, "removed", 1L, -10.0),
      (2021, "added", 1L, 40.0), (2021, "same", 1L, 0.0)))
  }

  test("clientPercentiles: endpoints exact, ranks follow the (spend, key) total order") {
    import spark.implicits._
    val f = Seq((1L, 10.0), (2L, 30.0), (3L, 20.0), (4L, 30.0))
      .toDF("o_custkey", "o_totalprice")
    val out = Serving.clientPercentiles(f).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("pct_rank"), r.getAs[Double]("cume_dist")))
      .toMap
    // ascending (spend, key): 1(10) -> 3(20) -> 2(30) -> 4(30)
    assert(out(1L) == (0.0, 0.25))
    assert(out(3L) == (BigDecimal(1.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.5))
    assert(out(2L) == (BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.75))
    assert(out(4L) == (1.0, 1.0))
  }

  test("revenueGini: zero under perfect equality, hand-computed under concentration") {
    import spark.implicits._
    def f(rows: Seq[(Long, Double)]) =
      rows.toDF("o_custkey", "o_totalprice")
    val equal = Serving.revenueGini(f((1L to 10L).map(_ -> 5.0))).head()
    assert(equal.getAs[Long]("n_clients") == 10L)
    assert(equal.getAs[Double]("gini") == 0.0)
    // 9 clients at 1.00, one whale at 91.00: G = 2*95500/(10*10000) - 1.1
    val whale = Serving.revenueGini(
      f((1L to 9L).map(_ -> 1.0) :+ (10L -> 91.0))).head()
    assert(whale.getAs[Double]("gini") == 0.81)
    assert(whale.getAs[Double]("top10_share") == 0.91)
  }

  test("parseSortSpec: desc/asc/garbage directions") {
    val cols = Serving.parseSortSpec("a:desc,b:asc,c:bogus,d")
    assert(cols.map(_.toString) == Seq("a DESC NULLS LAST", "b ASC NULLS FIRST",
      "c ASC NULLS FIRST", "d ASC NULLS FIRST"))
  }

  test("targetEncode: exact shrunk means; rare categories pull to the global mean, heavy ones to their own") {
    import spark.implicits._
    // A: 2 orders summing 30.00; B: 1 order of 40.00 -> mu = 70/3
    val f = Seq(("A", 10.0), ("A", 20.0), ("B", 40.0))
      .toDF("pays", "o_totalprice")
    val out = Ml.targetEncode(f).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("enc"))).toMap
    val mu = 7000L / 100.0 / 3L
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(
      "A" -> (2L, r6((3000L / 100.0 + 20.0 * mu) / (2L + 20.0))),
      "B" -> (1L, r6((4000L / 100.0 + 20.0 * mu) / (1L + 20.0)))))
    // shrinkage direction: every encoding sits between its raw mean and mu
    assert(out("A")._2 > 15.0 && out("A")._2 < mu)
    assert(out("B")._2 < 40.0 && out("B")._2 > mu)
    // a heavy category escapes the prior: 1000 rows of 10.00 encodes ~10
    val heavy = (Seq.fill(1000)(("H", 10.0)) ++ Seq(("T", 100.0)))
      .toDF("pays", "o_totalprice")
    val hEnc = Ml.targetEncode(heavy).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("enc")).toMap
    assert(math.abs(hEnc("H") - 10.0) < 0.1)
  }

  test("kmeans segmentation: k clusters, deterministic under a fixed seed") {
    val feats = Gold.clientFeatures(Tables.orders(spark, sf), Tables.lineitem(spark, sf),
      Gold.referenceDate(Gold.validOrders(Tables.orders(spark, sf))))
    val a = Ml.segmentsOf(Ml.kmeansFit(feats)).collect()
    val b = Ml.segmentsOf(Ml.kmeansFit(feats)).collect()
    assert(a.nonEmpty)
    assert(a.map(_.getAs[Long]("cluster")).distinct.length <= 5)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("embeddingPca: variance ratios ordered and in (0,1], deterministic, loadings sane") {
    val e = Tables.embeddings(spark, sf)
    val a = Ml.embeddingPca(e).collect()
    assert(a.length == 2)
    val ev = a.map(_.getAs[Double]("explained_variance"))
    // components arrive strongest-first; ratios are a partial sum of 1
    assert(ev(0) >= ev(1) && ev.forall(v => v > 0.0 && v <= 1.0) && ev.sum <= 1.0 + 1e-9)
    a.foreach { r =>
      val l = r.getAs[Double]("top_abs_loading")
      assert(l > 0.0 && l <= 1.0) // unit-norm eigenvector component
    }
    // 4dp/3dp rounding absorbs treeAggregate float-order jitter
    assert(Ml.embeddingPca(e).collect().toSeq == a.toSeq)
  }

  test("propensity model: temporal backtest — held-out scores, deterministic fit, held-out AUC beats chance") {
    val (scored, metrics) =
      Ml.propensityBacktest(Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    val rows = scored.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val p = r.getAs[Double]("propensity"); p >= 0.0 && p <= 1.0
    })
    // the temporal label actually splits at test scale
    assert(rows.map(_.getAs[Long]("label")).distinct.sorted.toSeq == Seq(0L, 1L))
    // same session + data => bit-identical refit (same gate as kmeans)
    val b = Ml.propensityBacktest(Tables.orders(spark, sf), Tables.lineitem(spark, sf))._1
      .collect()
    assert(rows.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // the backtest gates HONESTY, not accuracy: the synthetic generator
    // assigns orders to customers uniformly, so past behavior carries no
    // information about the future and the true out-of-sample AUC is 0.5
    // by construction. A held-out AUC well ABOVE chance would mean the
    // feature window leaked the label period; well BELOW, a broken
    // scorer. Measured (deterministic, seed-pinned): holdout 0.5416 /
    // in-sample 0.69 at sf0.001, holdout 0.4939 / in-sample 0.5417 at
    // sf0.01 — the in-sample-vs-holdout gap is exactly the overfit the
    // reference's never-backtested hard-coded blend can't see.
    val m = metrics.collect()
    assert(m.length == 1)
    val aucIn = m.head.getAs[Double]("auc_train")
    val aucOut = m.head.getAs[Double]("auc_holdout")
    assert(m.head.getAs[Long]("n_train") > 0 && m.head.getAs[Long]("n_holdout") > 0)
    assert(aucIn > 0.5 && aucIn <= 1.0, s"in-sample AUC=$aucIn out of range")
    assert(aucOut >= 0.40 && aucOut <= 0.62,
      s"held-out AUC=$aucOut outside the no-leakage band around chance")
    assert(aucIn >= aucOut - 0.02, s"in-sample $aucIn below held-out $aucOut")
  }

  test("distributionQuantile: buckets cover all rows, edges monotone, depth balanced") {
    val fact = Gold.buildFact(Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf))
    val n = fact.count()
    val rows = Serving.distributionQuantile(fact).collect()
    assert(rows.map(_.getAs[Long]("count")).sum == n, "buckets must partition the rows")
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == rows.indices.map(_.toLong))
    val edges = rows.map(r => (r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    assert(edges.forall { case (lo, hi) => lo <= hi })
    assert(edges.sliding(2).forall { case Array((_, h1), (l2, _)) => h1 == l2; case _ => true })
    // equi-depth within sketch tolerance: no bucket more than 2x or
    // less than half the ideal share (equal-width bins fail this badly
    // on skewed amounts; quantile edges are the point of the variant)
    val ideal = n.toDouble / rows.length
    rows.foreach { r =>
      val c = r.getAs[Long]("count")
      assert(c >= ideal * 0.5 && c <= ideal * 2.0,
        s"bucket ${r.getAs[Long]("bucket")}: $c rows vs ideal $ideal")
    }
  }

  test("eventsSlidingUniques: sketch tier matches window set, exact counts, bounded estimates") {
    val e = Tables.events(spark, sf)
    // window() and timestampadd disagree on the external temporal class
    def key(a: Any): java.time.LocalDateTime = a match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case l: java.time.LocalDateTime => l
    }
    val exact = Serving.eventsSlidingUniques(e).collect()
      .map(r => key(r.get(0)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"))).toMap
    val approx = Serving.eventsSlidingUniquesApprox(e).collect()
    // identical window set (a window exists iff it covers a nonempty hour)
    assert(approx.map(r => key(r.get(0))).toSet == exact.keySet)
    approx.foreach { r =>
      val (nEv, nUs) = exact(key(r.get(0)))
      // event counts re-sum hour partials exactly
      assert(r.getAs[Long]("n_events") == nEv)
      // HLL++ default rsd ~1.6% — allow 5 sigma + small-count slack
      val est = r.getAs[Long]("n_users_approx")
      assert(math.abs(est - nUs).toDouble / math.max(nUs, 1) <= 0.10,
        s"${r.get(0)}: est=$est exact=$nUs")
    }
  }

  test("tableChecksum: layout-invariant, single-row-sensitive, cross-run stable") {
    val o = Tables.orders(spark, sf)
    val base = Catalog.tableChecksum(o).collect()(0)
    // order independence: any repartition/shuffle layout sums identically
    val shuffled = Catalog.tableChecksum(o.repartition(7)).collect()(0)
    assert(base.getLong(0) == shuffled.getLong(0) &&
      base.getLong(1) == shuffled.getLong(1))
    // sensitivity: one flipped cent on one row moves the digest
    val tampered = Catalog.tableChecksum(o.withColumn("o_totalprice",
      when(col("o_orderkey") === 7L, col("o_totalprice") + 0.01)
        .otherwise(col("o_totalprice")))).collect()(0)
    assert(base.getLong(0) == tampered.getLong(0))
    assert(base.getLong(1) != tampered.getLong(1))
  }

  test("tableProfileApprox: null counts exact, HLL distincts in-bound, no Expand in plan") {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val o = Tables.orders(spark, sf)
    val exact = Catalog.tableProfile(o, cols).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val approx = Catalog.tableProfileApprox(o, cols)
    // the point of the sketch tier: no multi-distinct Expand (the exact
    // plan multiplies every row once per distinct column)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile still plans an Expand")
    approx.collect().foreach { r =>
      val (nNull, nDist) = exact(r.getString(0))
      assert(r.getLong(1) == nNull, s"${r.getString(0)}: null count differs")
      val est = r.getLong(2)
      // rsd 0.02 => 5 sigma
      assert(math.abs(est - nDist).toDouble / math.max(nDist, 1) <= 0.10,
        s"${r.getString(0)}: est=$est exact=$nDist")
    }
  }

  test("kmeans silhouette: one row in [-1,1], deterministic, clears the quality floor") {
    val feats = Gold.clientFeatures(Tables.orders(spark, sf), Tables.lineitem(spark, sf),
      Gold.referenceDate(Gold.validOrders(Tables.orders(spark, sf))))
    val a = Ml.silhouetteOf(Ml.kmeansFit(feats)).collect()
    assert(a.length == 1)
    assert(a.head.getAs[Long]("k") == 5L)
    val s = a.head.getAs[Double]("silhouette")
    assert(s >= -1.0 && s <= 1.0, s"silhouette=$s out of range")
    // the seed-pinned k=5 segmentation must genuinely separate the RFM
    // space, not just not-crash (floor set from measured sf0.001 value)
    assert(s >= 0.25, s"silhouette=$s below floor")
    // same session + data => same fit => identical metric
    val b = Ml.silhouetteOf(Ml.kmeansFit(feats)).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("foreachBatch upsert sink: keyed replace, idempotent re-publish, batch equivalence") {
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val once = Streams.userTotalsUpserted(spark, sf, sink).collect()
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy("user_id").collect()
    assert(once.length == batch.length)
    assert(once.map(_.getAs[Long]("n_events")).sum == batch.map(_.getAs[Long]("n_events")).sum)
    // re-running the same publish must not duplicate keys (ReplaceOne semantics)
    val twice = Streams.userTotalsUpserted(spark, sf, sink).collect()
    assert(twice.length == once.length)
    assert(twice.map(_.getLong(0)).distinct.length == twice.length)
  }

  test("upsertByKey rewrites only the buckets the batch touches") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert_scoped").toString
    val init = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (100L, 1.0), (7L, 7.0))
      .toDF("user_id", "v")
    Streams.upsertByKey(spark, sink, "user_id")(init)
    val before = Streams.readManifest(sink)
    val touchedBucket = Seq(1L).toDF("user_id")
      .select(pmod(xxhash64(col("user_id")), lit(16L))).first().getLong(0)
    Streams.upsertByKey(spark, sink, "user_id")(Seq((1L, 99.0)).toDF("user_id", "v"))
    val after = Streams.readManifest(sink)
    // untouched buckets keep their exact generation dirs; the touched
    // one points at a fresh generation
    (before.keySet - touchedBucket).foreach(bk => assert(before(bk) == after(bk)))
    assert(before(touchedBucket) != after(touchedBucket))
    // replace-by-key semantics intact across the scoped merge
    val cur = Streams.readUpserted(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cur == Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0, 100L -> 1.0, 7L -> 7.0))
    // the store carries no unreferenced directories after a commit
    val stored = new java.io.File(sink, "store").listFiles().map(_.getName).toSet
    assert(stored == after.values.toSet)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("upsert commit is atomic: a crash between staging and the manifest swap leaves one whole generation") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert_atomic").toString
    Streams.upsertByKey(spark, sink, "user_id")(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("user_id", "v"))
    val gen1 = Streams.readManifest(sink)
    def snapshot = Streams.readUpserted(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snapshot == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // batch 2 stages its buckets into the store but dies BEFORE the
    // manifest rename (the window where the old per-bucket swap design
    // could expose buckets from two generations)
    Streams.upsertStage(spark, sink, "user_id")(
      Seq((1L, 99.0), (4L, 44.0)).toDF("user_id", "v"))
    // reopen: the manifest still points at generation 1, whole — the
    // half-written generation is invisible, not half-visible
    assert(Streams.readManifest(sink) == gen1)
    assert(snapshot == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // recovery = retry the batch end-to-end; the commit publishes one
    // consistent generation and sweeps the crashed stage's orphans
    Streams.upsertByKey(spark, sink, "user_id")(
      Seq((1L, 99.0), (4L, 44.0)).toDF("user_id", "v"))
    assert(snapshot == Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0, 4L -> 44.0))
    val stored = new java.io.File(sink, "store").listFiles().map(_.getName).toSet
    assert(stored == Streams.readManifest(sink).values.toSet)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("maintained-view merge endurance: 50 rounds converge exactly, store stays one generation, no orphan growth") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_merge_endure").toString
    // 50 merge rounds over 10 keys, values chosen so any dropped or
    // double-counted batch shows in the exact integer totals
    val expected = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (r <- 1 to 50) {
      val rows = (0 until 10).map(k => (f"m$k%02d", (r * 31 + k).toLong))
      rows.foreach { case (k, v) => expected(k) += v }
      Streams.upsertCommit(sink,
        Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(
          rows.toDF("mois", "ca_cents")))
      // every commit leaves EXACTLY the one live generation on disk —
      // replaced generations and crashed-stage orphans never accumulate
      val stored = new java.io.File(sink, "store").listFiles().map(_.getName).toSet
      assert(stored == Streams.readManifest(sink).values.toSet, s"round $r: $stored")
      assert(stored.size == 1, s"round $r: ${stored.size} generations")
    }
    val got = Streams.readUpserted(spark, sink)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("maintained-view merge is crash-atomic: a staged-but-uncommitted merge leaves the previous generation whole") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_merge_atomic").toString
    def merge(rows: (String, Long)*): Streams.Staged =
      Streams.mergeStage(spark, sink, Seq("mois"), Seq("ca_cents"))(
        rows.toDF("mois", "ca_cents"))
    def snapshot = Streams.readUpserted(spark, sink)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // two committed merge rounds (the second exercises the sum-merge path)
    Streams.upsertCommit(sink, merge("1996-01" -> 100L, "1996-02" -> 200L))
    Streams.upsertCommit(sink, merge("1996-02" -> 5L, "1996-03" -> 7L))
    val gen2 = Streams.readManifest(sink)
    assert(snapshot == Map("1996-01" -> 100L, "1996-02" -> 205L, "1996-03" -> 7L))
    // round 3 stages its merged generation but dies BEFORE the manifest
    // rename — the exact window where the old current->old/staging->current
    // rename pair left NO current generation on disk
    merge("1996-01" -> 1000L)
    assert(Streams.readManifest(sink) == gen2)
    assert(snapshot == Map("1996-01" -> 100L, "1996-02" -> 205L, "1996-03" -> 7L))
    // recovery = retry the merge; the commit publishes one consistent
    // generation and sweeps both the replaced one and the crashed orphan
    Streams.upsertCommit(sink, merge("1996-01" -> 1000L))
    assert(snapshot == Map("1996-01" -> 1100L, "1996-02" -> 205L, "1996-03" -> 7L))
    val stored = new java.io.File(sink, "store").listFiles().map(_.getName).toSet
    assert(stored == Streams.readManifest(sink).values.toSet)
    Streams.deleteRec(new java.io.File(sink))
  }

  test("stream-static broadcast join: enriched hourly agg equals the batch join") {
    val batch = Tables.events(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .join(Tables.nation(spark, sf),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"), coalesce(col("n_name"), lit("Inconnu")).as("pays"))),
        col("user_id") === col("c_custkey"), "left")
      .withColumn("pays", coalesce(col("pays"), lit("Inconnu")))
      .groupBy(date_trunc("hour", col("ts")).as("heure"), col("pays"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("heure", date_format(col("heure"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("heure", "pays").collect().map(_.mkString("|")).toSeq
    val streamed = Streams.enrichedHourlyStreamed(spark, sf)
    assert(canon(streamed).nonEmpty)
    assert(canon(streamed) == canon(batch))
  }

  test("characterization: a duplicate arriving after its original aged out of dedup state re-emits") {
    import java.sql.Timestamp
    import spark.implicits._
    // dropDuplicatesWithinWatermark guarantees suppression only for
    // duplicates within the watermark delay of each other — that is the
    // "WithinWatermark" in the name, and the reason its state stays
    // bounded. This pins the OTHER side of the contract: once the
    // watermark ages the original out of state, a far-late duplicate is
    // indistinguishable from a new event and emits again. Consumers
    // needing absolute exactly-once across unbounded time need the
    // batch exact-dedup (or the persisted incremental index) downstream.
    def ts(off: Long) = Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(off))
    def chunk(rows: (Long, Long)*) =
      rows.map { case (id, off) => (id, id, "view", ts(off), 1.0) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_age")
    val stage = java.nio.file.Files.createTempDirectory("graft_dedup_stage")
    try {
      // watermark delay 1h. id=7 at t=0; filler advances the watermark
      // to 3h; id=7 again at t=4h — original long aged out -> re-emits.
      // id=8's duplicate stays within the delay -> suppressed.
      val chunks = Seq(
        chunk((7L, 0L), (8L, 14000L)),
        chunk((9L, 14400L)),
        chunk((7L, 14500L), (8L, 14300L)))
      chunks.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir.toFile, f"chunk_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 10000L)
      }
      val got = Streams.dedupDrain(Streams.chunkedEventsStream(state, dir.toString))
        .select("event_id").collect().map(_.getLong(0)).toSeq
      val counts = got.groupBy(identity).view.mapValues(_.size).toMap
      assert(counts(8L) == 1, s"in-window duplicate escaped: $got")
      assert(counts(9L) == 1)
      assert(counts(7L) == 2,
        s"aged-out duplicate did not re-emit (contract changed?): $got")
    } finally {
      Streams.deleteRec(dir.toFile); Streams.deleteRec(stage.toFile)
    }
  }

  test("streaming dedup suppresses duplicates from a doubled stream") {
    val batchDistinct = Tables.events(spark, sf).select("event_id").distinct().count()
    val streamed = Streams.eventsDedupStreamed(spark, sf)
    assert(streamed.count() == batchDistinct)
    assert(streamed.select("event_id").distinct().count() == batchDistinct)
  }

  test("ivfAssignDelta: argmin cell with lower-index tie-break; delta query deterministic per session") {
    import spark.implicits._
    // hand-built quantizer: cells at (0,0), (10,0), (0,10)
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)), (2, Seq(0.0, 10.0)))
      .toDF("cell", "centroid")
    val delta = Seq(
      (100L, Seq(1.0f, 0.0f)),   // nearest (0,0) -> cell 0, d2=1
      (101L, Seq(9.0f, 1.0f)),   // nearest (10,0) -> cell 1, d2=2
      (102L, Seq(5.0f, 0.0f)))   // EQUIDISTANT to cells 0 and 1 (25) -> tie to 0
      .toDF("vec_id", "embedding")
    val out = Ml.ivfAssignDelta(delta, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Double]("dist2"))).toSeq
    assert(out == Seq((100L, 0, 1.0), (101L, 1, 2.0), (102L, 0, 25.0)))
    // the wired query: every delta vector assigned, indexed ids absent,
    // and two invocations agree bit-for-bit (persisted index is stable)
    val a = SparkEntry.queries("knn_ivf_incremental")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("knn_ivf_incremental")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
    val ids = SparkEntry.queries("knn_ivf_incremental")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.forall(_ >= 400L))
  }

  test("knn_ivf: probes return ranked neighbors from probed cells; deterministic per session") {
    val e = Tables.embeddings(spark, sf)
    val a = Ml.knnIvfFrom(e, Ml.ivfCentroids(e)).collect()
    val b = Ml.knnIvfFrom(e, Ml.ivfCentroids(e)).collect()
    assert(a.nonEmpty)
    assert(a.forall(_.getAs[Long]("rank") <= 5L))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // measured recall@5 vs brute force: deterministic (seeded KMeans,
    // fixed vectors), 0.82 at default nprobe=8 — a regression gate on
    // the (nlist, nprobe) tuning
    val bf = Llm.knnBruteforce(e).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = a.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(bf.nonEmpty)
    assert((bf & ivf).size.toDouble / bf.size >= 0.8)
  }

  test("catalog: tables as views, SQL text end-to-end, fetchCollection contract") {
    Catalog.registerTables(spark, sf)
    val top = spark.sql(
      """SELECT o_custkey, sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS spend
        |FROM orders GROUP BY 1 ORDER BY spend DESC LIMIT 5""".stripMargin).collect()
    assert(top.length == 5)
    val fetched = Catalog.fetchCollection(spark, "customer", "c_acctbal:desc", 10).collect()
    assert(fetched.length == 10)
    assert(fetched(0).getAs[Double]("c_acctbal") >= fetched(9).getAs[Double]("c_acctbal"))
    // projection + sort + limit together: only the requested columns come
    // back, in the requested order, and the one query the fetch executes
    // scans only them (the returned frame is its materialized answer)
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = executed.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val drain = () => org.apache.spark.graftbridge.BusDrain(spark.sparkContext)
    drain() // the earlier queries' events must not reach the listener
    spark.listenerManager.register(listener)
    val proj = try {
      val p = Catalog.fetchCollection(spark, "customer", "c_acctbal:desc", 10,
        fields = Seq("c_custkey", "c_acctbal"))
      drain()
      p
    } finally spark.listenerManager.unregister(listener)
    assert(proj.columns.toSeq == Seq("c_custkey", "c_acctbal"))
    assert(executed.size == 1, executed)
    assert(executed.peek().contains("ReadSchema: struct<c_custkey:bigint,c_acctbal:double>"))
    val pr = proj.collect()
    assert(pr.length == 10)
    assert(pr.map(_.getAs[Double]("c_acctbal")).toSeq ==
      fetched.map(_.getAs[Double]("c_acctbal")).toSeq)
    // unknown field fails analysis like the API's 400
    intercept[org.apache.spark.sql.AnalysisException] {
      Catalog.fetchCollection(spark, "customer", fields = Seq("nope")).collect()
    }
    spark.emptyDataFrame.createOrReplaceTempView("empty_view")
    intercept[IllegalArgumentException] {
      Catalog.fetchCollection(spark, "empty_view")
    }
  }

  test("catalog: gold views over a pipeline output + SQL cosine_sim") {
    val out = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Pipeline.run(spark, sf, out)
    Catalog.registerGold(spark, out)
    val goldViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("gold_")).map(_.name).toSet
    assert(goldViews == Set("fact_achats", "dim_clients", "client_features",
      "client_scores", "segment_summary", "ca_monthly", "ca_country", "ca_product",
      "cohort_first_purchase", "daily", "weekly", "distribution", "monthly_growth")
      .map("gold_" + _))
    val months = spark.sql("SELECT mois, ca FROM gold_ca_monthly ORDER BY mois").collect()
    assert(months.nonEmpty)
    val sim = spark.sql(
      "SELECT cosine_sim(array(1.0d,2.0d), array(2.0d,4.0d)) AS s").first().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("media catalog kinds are assigned deterministically by doc_id") {
    val kinds = Multimodal.mediaCatalog(Tables.documents(spark, sf))
      .collect().map(r => r.doc_id % 3 match {
        case 0 => r.kind == "image"
        case 1 => r.kind == "audio"
        case _ => r.kind == "video"
      })
    assert(kinds.forall(identity))
  }

  test("checkpoint restart redelivers the committed-but-unacknowledged batch; the merge stays exactly-once") {
    import org.apache.spark.sql.functions._
    // the real recovery path, not a simulated replay: the stream crashes
    // AFTER batch 2's manifest commit but BEFORE Spark records batch 2
    // in the checkpoint — on restart Spark redelivers batch 2 with the
    // same batch-id through foreachBatch, and the manifest's high-water
    // mark must make it a no-op (without it every month in batch 2
    // double-counts and the hash-checked totals drift)
    val src = java.nio.file.Files.createTempDirectory("graft_ckpt_src")
    val sink = java.nio.file.Files.createTempDirectory("graft_ckpt_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta")
    try {
      val orders = Tables.orders(spark, sf)
      orders.repartition(5).write.mode("overwrite").parquet(src.toString)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.caMonthlyMaintained(spark, src.toString, sink.toString,
          filesPerBatch = 1, checkpointDir = Some(ckpt.toString),
          crashAfterCommitOfBatch = 2L)
      }
      assert(ex.getMessage.contains("injected crash"))
      // batch 2 IS committed in the sink despite the crash
      assert(Streams.readManifestState(sink.toString).lastBatch == 2L)
      val restarted = Streams.caMonthlyMaintained(spark, src.toString,
          sink.toString, filesPerBatch = 1, checkpointDir = Some(ckpt.toString))
        .collect().map(_.mkString("|")).toSeq
      val batch = Gold.caMonthly(Gold.buildFact(orders,
          Tables.customer(spark, sf), Tables.nation(spark, sf)))
        .collect().map(_.mkString("|")).toSeq
      assert(restarted == batch, "redelivered batch double-counted or lost")
    } finally {
      Streams.deleteRec(src.toFile); Streams.deleteRec(sink.toFile)
      Streams.deleteRec(ckpt.toFile)
    }
  }

  test("streaming gold maintenance: per-batch merges converge to the batch aggregate") {
    import org.apache.spark.sql.functions._
    // 5 files at 1 file/trigger forces 5 genuine merge rounds through
    // the persisted partial, including months split across batches
    val src = java.nio.file.Files.createTempDirectory("graft_maint_src")
    val sink = java.nio.file.Files.createTempDirectory("graft_maint_sink")
    try {
      val orders = Tables.orders(spark, sf)
      orders.repartition(5).write.mode("overwrite").parquet(src.toString)
      val maintained = Streams.caMonthlyMaintained(spark, src.toString,
          sink.toString, filesPerBatch = 1)
        .collect().map(_.mkString("|")).toSeq
      val batch = Gold.caMonthly(Gold.buildFact(orders,
          Tables.customer(spark, sf), Tables.nation(spark, sf)))
        .collect().map(_.mkString("|")).toSeq
      assert(maintained == batch)
      // the persisted partial holds the mergeable representation, one
      // row per month — the rewrite unit is the gold grain (read via the
      // manifest pointer: the maintained views share the upsert sink's
      // commit discipline)
      val partial = Streams.readUpserted(spark, sink.toString)
      assert(partial.columns.toSeq == Seq("mois", "ca_cents"))
      assert(partial.count() == batch.size)
    } finally {
      Streams.deleteRec(src.toFile); Streams.deleteRec(sink.toFile)
    }
  }

  test("chunkedEventsStream: a missing or chunkless dir fails with a named message, not an NPE") {
    val missing = intercept[IllegalArgumentException] {
      Streams.chunkedEventsStream(spark, "/graft_no_such_dir_xyz")
    }
    assert(missing.getMessage.contains("no .parquet chunk files"))
    val empty = java.nio.file.Files.createTempDirectory("graft_nochunks")
    try {
      val ex = intercept[IllegalArgumentException] {
        Streams.chunkedEventsStream(spark, empty.toString)
      }
      assert(ex.getMessage.contains("no .parquet chunk files"))
    } finally Streams.deleteRec(empty.toFile)
  }
}
