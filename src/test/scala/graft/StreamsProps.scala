package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck fuzz for the streaming family: random event streams under
  * CONTROLLED MULTI-BATCH ARRIVAL — shuffled order, random chunking into
  * micro-batches, late rows at and beyond the watermark boundary,
  * duplicate bursts — driven through the real micro-batch/watermark
  * machinery via [[Streams.chunkedEventsStream]] (one file = one batch)
  * and checked against the batch oracle on the delivered (non-late)
  * subset. The harness found the late-arrival session-corruption bug
  * (negative durations) pinned by the regression test in StreamsSpec:
  * single-batch fixtures can never reach those states. */
object StreamsProps extends Properties("Streams") {

  // each sample runs real streaming queries (seconds apiece), so the
  // default stays small; GRAFT_FUZZ_N deepens a soak run without a code
  // change (e.g. GRAFT_FUZZ_N=25 sbt "testOnly graft.StreamsProps")
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(SparkSpec.fuzzN(5))

  private lazy val spark = SparkSpec.session

  /** (event_id, user_id, event_type, offSec, value). Whole-second
    * offsets keep the ms-floored watermark exact; quarter values make
    * float sums order-independent, so streamed incremental totals equal
    * the batch aggregate bit-for-bit. */
  private final case class Ev(id: Long, user: Long, kind: String,
      off: Long, value: Double)

  private val baseDt = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  private def ts(off: Long) = Timestamp.valueOf(baseDt.plusSeconds(off))

  private def toDf(es: Seq[Ev]): DataFrame = {
    import spark.implicits._
    es.map(e => (e.id, e.user, e.kind, ts(e.off), e.value))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
  }

  /** One parquet file per chunk, modification times in chunk order —
    * the writer dictates micro-batch arrival order. */
  private def writeChunks(chunks: Seq[Seq[Ev]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz_events")
    val stage = java.nio.file.Files.createTempDirectory("graft_fuzz_stage")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      toDf(rows).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(f"chunk_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    Streams.deleteRec(stage.toFile)
    dir.toString
  }

  /** Driver-side watermark model (delay 0): the rows Spark delivers.
    * The watermark before batch k is the max event time of batches < k
    * (updated at batch END); a row strictly below it is late and
    * dropped, a row exactly AT it is on time — the boundary the
    * sessionizer's guard implements. */
  /** Which events Spark's stateful operators actually admit under a
    * 0-second watermark — TWO watermarks, not one (diagnosed from the
    * r15 N=100 soak's counterexample and the 4.1.2 bytecode, pinned
    * deterministically in StreamsSpec):
    *
    *  - Spark's built-in late-row filter drops rows with
    *    `ts <= eventTimeWatermarkForLateEvents` (LessThanOrEqual,
    *    WatermarkSupport), and that watermark LAGS ONE BATCH — for
    *    batch k it is the max event time over batches <= k-2. A tie
    *    with the immediately-previous batch's max is therefore
    *    admitted, but the same tie with one batch in between (e.g. an
    *    empty micro-batch advancing nothing but the lag) is dropped.
    *  - the sessionizer's own guard then keeps
    *    `ts >= getCurrentWatermarkMs` — the CURRENT (eviction)
    *    watermark, max event time over batches <= k-1, equality kept
    *    (state for the boundary instant is still live).
    *
    * Net: a row in batch k with time t survives iff
    * t > max(batches <= k-2) && t >= max(batches <= k-1). */
  private def delivered(chunks: Seq[Seq[Ev]]): Seq[Ev] = {
    var wmLate = Long.MinValue   // max over batches <= k-2 (lags one batch)
    var wmEvict = Long.MinValue  // max over batches <= k-1
    val out = Seq.newBuilder[Ev]
    for (c <- chunks) {
      out ++= c.filter(e => e.off > wmLate && e.off >= wmEvict)
      wmLate = wmEvict
      if (c.nonEmpty) wmEvict = math.max(wmEvict, c.map(_.off).max)
    }
    out.result()
  }

  private val genEvent = for {
    user <- Gen.choose(1L, 4L)
    kind <- Gen.oneOf("click", "purchase", "view")
    // minutes over ~3.3h: multi-session gaps (30-min boundary) and
    // same-timestamp ties both occur
    mins <- Gen.choose(0, 200)
    secs <- Gen.oneOf(0, 1, 30)
    quarters <- Gen.choose(0, 8)
  } yield (user, kind, mins * 60L + secs, quarters * 0.25)

  /** Random events + a random chunking (1-4 micro-batches, arbitrary
    * assignment => shuffled arrival AND late rows) + per-chunk shuffle. */
  private val genChunked = for {
    n <- Gen.choose(4, 26)
    evs <- Gen.listOfN(n, genEvent)
    k <- Gen.choose(1, 4)
    assign <- Gen.listOfN(n, Gen.choose(0, k - 1))
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val ids = evs.zipWithIndex.map { case ((u, kind, off, v), i) =>
      Ev(i.toLong, u, kind, off, v)
    }
    val rnd = new scala.util.Random(seed)
    val chunks = (0 until k)
      .map(c => rnd.shuffle(ids.zip(assign).collect { case (e, a) if a == c => e }))
      .filter(_.nonEmpty)
    (ids, chunks)
  }

  /** Time-contiguous chunking: sorted by time, cut into runs, shuffled
    * within each run — shuffled arrival with NO late rows. */
  private val genContiguous = for {
    n <- Gen.choose(4, 26)
    evs <- Gen.listOfN(n, genEvent)
    k <- Gen.choose(1, 3)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val ids = evs.zipWithIndex.map { case ((u, kind, off, v), i) =>
      Ev(i.toLong, u, kind, off, v)
    }
    val rnd = new scala.util.Random(seed)
    val sorted = ids.sortBy(_.off)
    // cut only where ts strictly increases: a tie split across a cut
    // would put the second member at ts == watermark in the next batch,
    // and Spark's LessThanOrEqual late predicate drops it — that is the
    // late-arrival regime, not this generator's no-late contract
    val okCuts = (1 until sorted.size).filter(i => sorted(i - 1).off < sorted(i).off)
    val cuts = (Seq(0, sorted.size) ++
      Seq.fill(k - 1)(if (okCuts.isEmpty) 0 else okCuts(rnd.nextInt(okCuts.size))))
      .sorted.distinct
    val chunks = cuts.zip(cuts.tail)
      .map { case (a, b) => rnd.shuffle(sorted.slice(a, b)) }
      .filter(_.nonEmpty)
    (ids, chunks)
  }

  private def canonSessions(df: DataFrame): Seq[(Long, String, String, Long, Long, Double)] =
    df.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("s"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("e"),
        col("duration_sec"), col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sorted

  property("chunked+late sessionization equals the batch oracle on the delivered subset") =
    Prop.forAll(genChunked) { case (_, chunks) =>
      val dir = writeChunks(chunks)
      try {
        val streamed = canonSessions(
          Streams.sessionsDrain(spark, Streams.chunkedEventsStream(spark, dir)))
        val oracle = canonSessions(Serving.eventSessions(toDf(delivered(chunks))))
        val noCorruption = streamed.forall(_._4 >= 0) // the round's headline bug
        (streamed == oracle) :| s"streamed=$streamed oracle=$oracle" &&
          noCorruption :| "negative-duration session emitted"
      } finally Streams.deleteRec(new java.io.File(dir))
    }

  property("duplicate bursts across micro-batches: dedup emits exactly the distinct ids") =
    Prop.forAll(for {
      n <- Gen.choose(3, 24)
      // ids from a small pool => genuine bursts; offsets within 50 min,
      // inside the 1-hour watermark delay, so no duplicate can age out
      // and no row is late regardless of chunk assignment
      evs <- Gen.listOfN(n, for {
        id <- Gen.choose(1L, 6L)
        off <- Gen.choose(0L, 3000L)
      } yield (id, off))
      k <- Gen.choose(1, 4)
      assign <- Gen.listOfN(n, Gen.choose(0, k - 1))
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (evs, k, assign, seed)) { case (evs, k, assign, seed) =>
      val ids = evs.map { case (id, off) => Ev(id, id, "view", off, 1.0) }
      val rnd = new scala.util.Random(seed)
      val chunks = (0 until k)
        .map(c => rnd.shuffle(ids.zip(assign).collect { case (e, a) if a == c => e }))
        .filter(_.nonEmpty)
      val dir = writeChunks(chunks)
      try {
        val out = Streams.dedupDrain(spark, Streams.chunkedEventsStream(spark, dir))
          .select("event_id").collect().map(_.getLong(0)).toSeq
        val want = ids.map(_.id).distinct.sorted
        (out.sorted == want) :| s"got=$out want=$want" &&
          (out.size == out.distinct.size) :| "duplicate escaped the stream dedup"
      } finally Streams.deleteRec(new java.io.File(dir))
    }

  property("complete-mode hourly aggregate is arrival-order invariant — late rows included") =
    Prop.forAll(genChunked) { case (all, chunks) =>
      // complete output keeps all window state (watermark no-op), so ANY
      // chunking — including chunks that arrive entirely below the
      // watermark — must reproduce the batch aggregate over EVERY row
      val dir = writeChunks(chunks)
      try {
        def canon(df: DataFrame) = df
          .withColumn("heure", date_format(col("heure"), "yyyy-MM-dd HH:mm:ss"))
          .collect().map(_.mkString("|")).toSeq.sorted
        val streamed = canon(
          Streams.hourlyDrain(spark, Streams.chunkedEventsStream(spark, dir)))
        val oracle = canon(toDf(all)
          .groupBy(date_trunc("hour", col("ts")).as("heure"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value")))
        (streamed == oracle) :| s"streamed=$streamed oracle=$oracle"
      } finally Streams.deleteRec(new java.io.File(dir))
    }

  property("native session_window under chunked (no-late) arrival coalesces to the batch sessions") =
    Prop.forAll(genContiguous) { case (all, chunks) =>
      // the engine must MERGE session-window state across micro-batches:
      // a later chunk extends or bridges already-materialized sessions
      // and the final windows equal the batch computation. No-late
      // chunking only: the fuzz's first run proved complete mode is NOT
      // watermark-free for session_window — rows whose candidate window
      // END falls below the watermark are dropped at ingress, with the
      // filter's watermark lagging one batch behind the FMGWS-visible
      // one (characterized in StreamsSpec) — engine-internal timing a
      // portable oracle should not model
      val dir = writeChunks(chunks)
      try {
        val streamed = canonSessions(
          Streams.sessionsNativeDrain(spark, Streams.chunkedEventsStream(spark, dir)))
        val oracle = canonSessions(Serving.eventSessionsNative(toDf(all)))
        (streamed == oracle) :| s"streamed=$streamed oracle=$oracle"
      } finally Streams.deleteRec(new java.io.File(dir))
    }

  property("one full-outer pair drain serves all three attribution rollups (derived = batch)") =
    Prop.forAll(genContiguous) { case (all, chunks) =>
      // the bench posture: ONE drained pair set, three derived views —
      // fuzzed against the three batch joins under random chunked
      // arrival with a sentinel final chunk (the derivation must hold on
      // hostile data, not just the fixture StreamsSpec pins)
      val maxOff = all.map(_.off).max
      val sentinel = Ev(-1L, -1L, "sentinel", maxOff + 3 * 3600L, 0.0)
      val dir = writeChunks(chunks :+ Seq(sentinel))
      try {
        val pairs = Streams.attributionPairsDrain(spark,
          () => Streams.chunkedEventsStream(spark, dir))
        def fmt(df: DataFrame): Seq[String] =
          df.select("purchase_id", "user_id", "n_clicks", "click_value")
            .collect().map(_.mkString("|")).toSeq.sorted
        val ev = toDf(all)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
            col("value").as("click_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts"))
        val cond = col("c_user") === col("user_id") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") < col("purchase_ts")
        val bInner = purchases.join(clicks, cond)
          .groupBy("purchase_id", "user_id", "purchase_ts")
          .agg(count(lit(1)).as("n_clicks"),
            Tables.moneySum(col("click_value")).as("click_value"))
        val bOuter = purchases.join(clicks, cond, "left_outer")
          .groupBy("purchase_id", "user_id", "purchase_ts")
          .agg(count(col("c_user")).as("n_clicks"),
            Tables.moneySum(col("click_value")).as("click_value"))
        val bFull = purchases.join(clicks, cond, "full_outer")
          .groupBy(col("purchase_id"),
            coalesce(col("user_id"), col("c_user")).as("user_id"),
            col("purchase_ts"))
          .agg(count(col("c_user")).as("n_clicks"),
            Tables.moneySum(col("click_value")).as("click_value"))
        val (di, bi) = (fmt(Streams.innerFromPairs(pairs)), fmt(bInner))
        val (dl, bl) = (fmt(Streams.outerFromPairs(pairs)), fmt(bOuter))
        val (df_, bf) = (fmt(Streams.fullFromPairs(pairs)), fmt(bFull))
        ((di == bi) :| s"inner: derived=$di batch=$bi") &&
          ((dl == bl) :| s"outer: derived=$dl batch=$bl") &&
          ((df_ == bf) :| s"full: derived=$df_ batch=$bf")
      } finally Streams.deleteRec(new java.io.File(dir))
    }
}
