package graft

import org.apache.spark.sql.functions._

/** Literal-semantics gates for the round-7 additions: TF-IDF / BM25 text
  * ranking, the strict ordered event funnel, and the time-bin range join.
  * Each test pins the operator's contract on a hand-built corpus where
  * every number is derivable by hand — the DuckDB oracle already checks
  * engine-vs-engine agreement at sf0.01; these check the semantics are
  * the INTENDED ones, not merely consistent. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("tfidfTopTerms: exact tf*ln(N/df) scores, score-desc/word-asc ranking") {
    val d = docs((0L, "a a b"), (1L, "a c"), (2L, "c c c d"))
    val out = Search.tfidfTopTermsFrom(Search.docTermFreq(d), d.count()).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")) ->
        (r.getAs[String]("word"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("score"))).toMap
    def s(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 0: b = 1*ln(3/1) beats a = 2*ln(3/2)
    assert(out((0L, 1L)) == ("b", 1L, 1L, s(math.log(3.0))))
    assert(out((0L, 2L)) == ("a", 2L, 2L, s(2 * math.log(1.5))))
    // doc 1: a and c tie exactly (same tf, same df) — lexical order breaks it
    assert(out((1L, 1L))._1 == "a" && out((1L, 2L))._1 == "c")
    assert(out((1L, 1L))._4 == out((1L, 2L))._4)
    // doc 2: c = 3*ln(3/2) beats d = ln(3)
    assert(out((2L, 1L)) == ("c", 3L, 2L, s(3 * math.log(1.5))))
    assert(out.size == 6)
  }

  test("tfidfTopTerms: k caps each document's terms") {
    val d = docs((0L, "a b c d e f"))
    assert(Search.tfidfTopTermsFrom(Search.docTermFreq(d), d.count(), k = 2).count() == 2)
  }

  test("bm25: exact one-term scores, length normalization orders docs") {
    // df(q)=2 of N=3, avglen=(3+6+3)/3=4; idf = ln(1 + 1.5/2.5)
    val d = docs((0L, "q q q"), (1L, "q z z z z z"), (2L, "z z z"))
    val out = Search.bm25From(Search.docTermFreq(d), query = Seq("q")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L)) // doc 2 never matches
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    def expected(tf: Long, len: Long) =
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len / 4.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Double]("score"), r.getAs[Long]("n_terms"))).toMap
    assert(byId(0L) == (expected(3, 3), 1L))
    assert(byId(1L) == (expected(1, 6), 1L))
    assert(byId(0L)._1 > byId(1L)._1)
  }

  test("bm25: same tf, shorter document wins") {
    val d = docs((0L, "q a"), (1L, "q a a a a a a a"))
    val out = Search.bm25From(Search.docTermFreq(d), query = Seq("q")).collect()
    assert(out.head.getAs[Long]("doc_id") == 0L)
  }

  private def events(rows: (Long, Long, String, String)*) =
    rows.toDF("event_id", "user_id", "t", "event_type")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")

  test("eventFunnel: steps are strictly ordered, not merely present") {
    val e = events(
      // user 1: full ordered funnel
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 11:00:00", "click"),
      (3L, 1L, "2024-01-01 12:00:00", "purchase"),
      // user 2: click BEFORE first view — never enters the click step,
      // so its later purchase can't convert either
      (4L, 2L, "2024-01-01 09:00:00", "click"),
      (5L, 2L, "2024-01-01 10:00:00", "view"),
      (6L, 2L, "2024-01-01 11:00:00", "purchase"),
      // user 3: purchase lands between view and first click — view and
      // click count, the purchase does not
      (7L, 3L, "2024-01-01 10:00:00", "view"),
      (8L, 3L, "2024-01-01 10:30:00", "purchase"),
      (9L, 3L, "2024-01-01 11:00:00", "click"),
      // user 4: view only
      (10L, 4L, "2024-01-01 10:00:00", "view"))
    val r = Serving.eventFunnel(e).head()
    assert(r.getAs[Long]("n_view") == 4L)
    assert(r.getAs[Long]("n_click") == 2L)
    assert(r.getAs[Long]("n_purchase") == 1L)
    assert(r.getAs[Double]("conv_click") == 0.5)
    assert(r.getAs[Double]("conv_purchase") == 0.5)
  }

  test("eventsPropsAgg: typed extraction, malformed JSON degrades to the NULL group") {
    import spark.implicits._
    val e = Seq(
      (1L, """{"k": 7}""", 1.0), (2L, """{"k": 7}""", 2.0),
      (3L, """{"k": 9}""", 4.0),
      (4L, """not json""", 8.0), (5L, """{"k": "x"}""", 16.0))
      .toDF("user_id", "props", "value")
    val out = Serving.eventsPropsAgg(e).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    assert(out(7) == (2L, 3.0))
    assert(out(9) == (1L, 4.0))
    assert(out(-1) == (2L, 24.0)) // unparseable and type-mismatched rows
  }

  test("sessionPaths: gap splits, in-session order by (ts, event_id), path counts") {
    val e = events(
      // user 1, session A: view>click (tied ts — ids 1 < 2 decide);
      // then a 31-min gap opens session B: view
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:00:00", "click"),
      (3L, 1L, "2024-01-01 10:31:00", "view"),
      // user 2: one session view>click (29-min gap stays inside)
      (4L, 2L, "2024-01-01 09:00:00", "view"),
      (5L, 2L, "2024-01-01 09:29:00", "click"))
    val out = Serving.sessionPaths(e).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_sessions")).toMap
    assert(out == Map("view>click" -> 2L, "view" -> 1L))
  }

  test("eventTransitions: per-user consecutive pairs, event_id breaks ts ties, shares sum to 1") {
    val e = events(
      // user 1: view -> click -> purchase; the click and purchase share a
      // timestamp, so event_id (2 < 3) must decide the order
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 11:00:00", "click"),
      (3L, 1L, "2024-01-01 11:00:00", "purchase"),
      // user 2: view -> view -> click; no cross-user pair with user 1
      (4L, 2L, "2024-01-01 09:00:00", "view"),
      (5L, 2L, "2024-01-01 10:00:00", "view"),
      (6L, 2L, "2024-01-01 11:00:00", "click"))
    val out = Serving.eventTransitions(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    assert(out == Map(
      ("view", "click") -> (2L, 0.666667), ("view", "view") -> (1L, 0.333333),
      ("click", "purchase") -> (1L, 1.0)))
  }

  test("clicksBeforePurchase: closed-open [t-60min, t) bounds, bin-crossing match, zero row") {
    val e = events(
      (100L, 1L, "2024-01-01 12:00:00", "purchase"),
      (1L, 1L, "2024-01-01 11:00:00", "click"),   // exactly 60 min before: in
      (2L, 1L, "2024-01-01 11:59:59", "click"),   // in
      (3L, 1L, "2024-01-01 12:00:00", "click"),   // at purchase ts: out
      (4L, 1L, "2024-01-01 10:59:59", "click"),   // 60m01s before: out
      (5L, 2L, "2024-01-01 11:30:00", "click"),   // other user: out
      // purchase mid-bin whose window reaches into the previous hour bin
      (200L, 3L, "2024-01-01 12:30:00", "purchase"),
      (6L, 3L, "2024-01-01 11:45:00", "click"),   // previous bin, in window
      // purchase with no clicks at all still appears
      (300L, 4L, "2024-01-01 12:00:00", "purchase"))
    val out = Serving.clicksBeforePurchase(e).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_clicks")).toMap
    assert(out == Map(100L -> 2L, 200L -> 1L, 300L -> 0L))
  }

  test("sessionOverlaps: touching endpoints overlap, cross-bin pairs counted once, disjoint absent") {
    val e = events(
      // user 1 session A 10:00–11:30 (30-min steps stay inside the gap)
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:30:00", "view"),
      (3L, 1L, "2024-01-01 11:00:00", "view"),
      (4L, 1L, "2024-01-01 11:30:00", "view"),
      // user 1 session B at 13:00 (90-min gap splits)
      (5L, 1L, "2024-01-01 13:00:00", "view"),
      // user 2: 11:30–12:00 — touches session A exactly at its endpoint
      (6L, 2L, "2024-01-01 11:30:00", "view"),
      (7L, 2L, "2024-01-01 12:00:00", "view"),
      // user 3: point session at 13:00 — overlaps only session B
      (8L, 3L, "2024-01-01 13:00:00", "view"),
      // user 4: 09:00–12:30 spans several hour bins, overlaps 1A and 2
      (9L, 4L, "2024-01-01 09:00:00", "view"),
      (10L, 4L, "2024-01-01 09:30:00", "view"),
      (11L, 4L, "2024-01-01 10:00:00", "view"),
      (12L, 4L, "2024-01-01 10:30:00", "view"),
      (13L, 4L, "2024-01-01 11:00:00", "view"),
      (14L, 4L, "2024-01-01 11:30:00", "view"),
      (15L, 4L, "2024-01-01 12:00:00", "view"),
      (16L, 4L, "2024-01-01 12:30:00", "view"))
      .withColumn("value", lit(1.0))
    val out = Serving.sessionOverlapsFrom(Serving.eventSessions(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_overlaps"))
    // every qualifying pair exactly once — the multi-bin (1,4) and (2,4)
    // candidates must collapse; (3, anyone-but-1B) must not appear
    assert(out.toSeq == Seq(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L, (1L, 4L) -> 1L, (2L, 4L) -> 1L))
  }

  test("userStateIntervals: runs collapse, valid_to chains, revisited state opens a NEW island") {
    val e = events(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 10:05:00", "view"),    // same run
      (3L, 1L, "2024-01-01 10:10:00", "click"),   // change
      (4L, 1L, "2024-01-01 10:20:00", "view"),    // back to view — new island
      // user 2: tied ts, event_id decides (5 < 6: click then view)
      (6L, 2L, "2024-01-01 09:00:00", "view"),
      (5L, 2L, "2024-01-01 09:00:00", "click"))
    val out = Serving.userStateIntervals(e).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getAs[java.sql.Timestamp]("valid_to")).map(_.toString),
        r.getAs[Long]("n_events")))
    assert(out.toSeq == Seq(
      (1L, 1L, "view",  Some("2024-01-01 10:10:00.0"), 2L),
      (1L, 2L, "click", Some("2024-01-01 10:20:00.0"), 1L),
      (1L, 3L, "view",  None,                          1L),
      (2L, 1L, "click", Some("2024-01-01 09:00:00.0"), 1L),
      (2L, 2L, "view",  None,                          1L)))
  }

  test("eventsRollingRange: calendar look-back, gaps NOT bridged, types isolated") {
    import spark.implicits._
    val e = Seq(
      (1L, "view",  "2024-01-01 10:00:00", 1.0),
      (2L, "view",  "2024-01-05 10:00:00", 2.0),  // 4 days later: inside 7d
      (3L, "view",  "2024-01-20 10:00:00", 4.0),  // gap — a rows-frame would
                                                  // wrongly reach back to Jan 5
      (4L, "click", "2024-01-03 10:00:00", 8.0))  // other type: never leaks
      .toDF("event_id", "event_type", "t", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = Serving.eventsRollingRange(e).collect().map(r =>
      (r.getString(0), r.getAs[java.sql.Date]("d").toString) ->
        (r.getAs[Long]("roll_n"), r.getAs[Double]("roll_total"))).toMap
    assert(out == Map(
      ("view", "2024-01-01")  -> (1L, 1.0),
      ("view", "2024-01-05")  -> (2L, 3.0),
      ("view", "2024-01-20")  -> (1L, 4.0),
      ("click", "2024-01-03") -> (1L, 8.0)))
  }

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r9(x: Double) =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("sourceTopTerms: universal terms self-suppress to zero; distinctive terms lead per source") {
    import spark.implicits._
    val d = Seq((0L, "common alpha alpha", "A"), (1L, "common beta", "B"))
      .toDF("doc_id", "text", "source")
    val out = Search.sourceTopTerms(Search.docTermFreq(d), d, k = 2).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rk")) ->
        (r.getAs[String]("word"), r.getAs[Double]("score"))).toMap
    assert(out(("A", 1L)) == ("alpha", r9(2 * math.log(2.0))))
    assert(out(("A", 2L)) == ("common", 0.0))
    assert(out(("B", 1L)) == ("beta", r9(math.log(2.0))))
    assert(out(("B", 2L)) == ("common", 0.0))
  }

  test("docBigrams: adjacency pairs with counts; 1-word and empty docs drop") {
    val d = docs((0L, "new york new york"), (1L, "solo"), (2L, "  "), (3L, "a b"))
    val out = Search.docBigrams(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getAs[Long]("cnt"))
      .toMap
    assert(out == Map(
      (0L, "new", "york") -> 2L, (0L, "york", "new") -> 1L,
      (3L, "a", "b") -> 1L))
  }

  test("termPmi: exact ln(c12*B/(c1*c2)) with count prune and pmi/lexical ranking") {
    val d = docs((0L, "new york new york"), (1L, "a new day"))
    // corpus pairs: (new,york)=2 (york,new)=1 (a,new)=1 (new,day)=1; B=5
    // c1: new=3 york=1 a=1 ; c2: york=2 new=2 day=1
    val out = Search.termPmiFrom(Search.docBigrams(d), minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("c12"), r.getAs[Double]("pmi"))).toSeq
    val ln25 = r9(math.log(2.5))          // (a,new) and (york,new) tie
    val ln53 = r9(math.log(2.0 * 5 / (3 * 2.0)))  // (new,york); (new,day) = ln(5/3) equal
    assert(out == Seq(
      ("a", "new", 1L, ln25), ("york", "new", 1L, ln25),
      ("new", "day", 1L, ln53), ("new", "york", 2L, ln53)))
    // count prune: at minCount=2 only the repeated pair survives
    val pruned = Search.termPmiFrom(Search.docBigrams(d), minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pruned == Seq(("new", "york")))
  }

  test("bigramLogProb: exact add-k scores; word order changes the score where a bag-of-words model is blind") {
    val d = docs((0L, "x y"), (1L, "x y z"))
    // corpus: (x,y)=2 (y,z)=1 ; c1: x=2 y=1 ; V=3, k=0.5 -> kV=1.5
    val out = Search.bigramLogProbFrom(Search.docBigrams(d), vocabSize = 3L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob"))).toMap
    val pxy = math.log(2.5) - math.log(3.5)
    val pyz = math.log(1.5) - math.log(2.5)
    assert(out == Map(0L -> (1L, r6(pxy)), 1L -> (2L, r6((pxy + pyz) / 2))))
    // word order matters where a bag-of-words model is blind: in a corpus
    // where "x y z" dominates, the shuffled twin "y x z" (same bag, rare
    // bigrams) scores strictly lower than another ordered copy
    val shuffled = docs((0L, "x y z"), (1L, "x y z"), (2L, "x y z"), (3L, "y x z"))
    val sc = Search.bigramLogProbFrom(Search.docBigrams(shuffled), vocabSize = 3L)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(sc(3L) < sc(0L))
  }
}
