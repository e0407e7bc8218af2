package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantics of the LLM-pipeline extension operators on literal docs. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** The exact 3-gram Jaccard pair frame dedup_ngram's body reads. */
  private def jaccardPairs(d: DataFrame, hotDf: Int = 256, salts: Int = 32) =
    Llm.jaccardFromStats(Llm.ngramPairStatsFrom(Llm.shingleHashes(d), hotDf, salts))

  /** The built-in HOF composition of cosine similarity — the reference
    * the fused CosineSimilarity expression must match bit for bit. */
  private def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("repetitionScore: looping text scores high, unique text zero, short text empty") {
    val out = Llm.repetitionScore(docs(
      1L -> "a b c a b c a b c a b c",          // "a b c" repeats
      2L -> "one two three four five six seven", // all 3-grams unique
      3L -> "hi there"))                          // < 3 words
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val (n1, d1, m1, f1) = out(1L)
    assert(n1 == 10 && d1 == 3 && m1 == 4 && f1 == 0.7)
    assert(out(2L) == ((5L, 5L, 1L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0L, 0.0)))
  }

  test("dedupIncremental: delta checked against corpus, corpus not re-deduped") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely unrelated corpus text about something else entirely",
      500L -> "the quick brown fox jumps over the lazy dog today", // exact dup of 1
      501L -> "the quick brown fox jumps over the lazy dog tonight", // near dup of 1
      502L -> "fresh new document with no overlap at all whatsoever")
    // the two corpus-half index frames, built as Fixtures.dedupIndex
    // writes them for dedup_incremental
    val exactIdx = corpus.filter(col("doc_id") < 400L)
      .select(sha2(col("text"), 256).as("h"))
    val shingleIdx = Llm.shingleHashes(corpus).filter(col("doc_id") < 400L)
    val out = Llm.dedupIncrementalIndexed(corpus, exactIdx, shingleIdx, 400L)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(out.keySet == Set(500L, 501L, 502L)) // only the delta is emitted
    assert(out(500L) == ((true, 1L)))
    assert(out(501L)._1 == false && out(501L)._2 == 1L)
    assert(out(502L) == ((false, 0L)))
  }

  test("dedupExact: identical texts collapse to min doc_id with dup_count") {
    val d = docs((1L, "hello world"), (2L, "hello world"), (3L, "other text"))
    val out = Llm.dedupExact(d).collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(1).getLong(0) == 3L && out(1).getLong(1) == 1L)
  }

  test("minhash: identical docs are candidates with est_jaccard 1.0") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words make a completely different document here"))
    val out = Llm.dedupMinhash(d).orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_candidates") >= 1L)
    assert(out(0).getAs[Double]("max_est_jaccard") == 1.0)
    assert(out(2).getAs[Long]("n_candidates") == 0L)
  }

  test("simhash: identical docs share fingerprint; different docs differ") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight"))
    val out = Llm.dedupSimhash(d).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("simhash") == out(1).getAs[Long]("simhash"))
    assert(out(0).getAs[Long]("n_near") >= 1L)
    assert(out(0).getAs[Long]("simhash") != out(2).getAs[Long]("simhash"))
  }

  test("tokenHash/simhash match independently computed vectors (incl. non-ASCII code points)") {
    import graft.functions.Sketches
    // expected values computed by a separate Python implementation of
    // poly31-over-codepoints + splitmix64 (also the arithmetic the
    // DuckDB oracle restates in SQL) — pins the code-point semantics the
    // composed-builtins equivalence test cannot cover beyond ASCII
    assert(Sketches.tokenHash("hello") == 4005107533400764788L)
    assert(Sketches.tokenHash("") == -2152535657050944081L) // splitmix64(0)
    assert(Sketches.tokenHash("héllo") == -3768457701235019299L)
    // astral plane: one code point (U+1D11E), two UTF-16 units
    assert(Sketches.tokenHash("a𝄞b") == -3966767430478900885L)
    assert(Sketches.simhash(
      org.apache.spark.unsafe.types.UTF8String.fromString("The cat sat")) ==
      -2634730545086667604L)
  }

  test("dedupNgram: exact jaccard of identical docs is 1.0") {
    val d = docs(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "a b c x y z"))
    val out = Llm.bestNgramMatch(jaccardPairs(d)).orderBy("doc_id").collect()
    val best1 = out.find(_.getLong(0) == 1L).get
    assert(best1.getAs[Long]("best_match") == 2L)
    assert(best1.getAs[Double]("jaccard") == 1.0)
    // doc3 shares exactly shingle "a b c" with 1 and 2: 1/(4+4-1)
    val best3 = out.find(_.getLong(0) == 3L)
    assert(best3.isEmpty || best3.get.getAs[Double]("jaccard") < 0.2)
  }

  test("containmentPairs: quoted-subset doc flagged at containment 1.0 where jaccard is low; tie picks higher id as inner") {
    val d = docs(
      // doc 1's three shingles all appear in doc 2 (9 shingles):
      // containment 3/3 = 1.0, jaccard only 3/9 — the case Jaccard misses
      (1L, "a b c d e"),
      (2L, "a b c d e f g h i j k"),
      // identical docs: equal shingle counts — the deterministic tie
      (10L, "p q r s"),
      (11L, "p q r s"))
    val stats = Llm.ngramPairStatsFrom(Llm.shingleHashes(d))
    val out = Llm.containmentPairsFrom(stats).collect()
      .map(r => (r.getAs[Long]("inner_doc"), r.getAs[Long]("outer_doc"),
        r.getAs[Double]("containment")))
    assert(out.contains((1L, 2L, 1.0)), s"subset pair missing: ${out.toSeq}")
    assert(out.contains((11L, 10L, 1.0)), s"tie direction wrong: ${out.toSeq}")
    // the jaccard view of the SAME stats frame scores the subset pair low
    val jac = Llm.jaccardFromStats(stats)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .head().getAs[Double]("jaccard")
    assert(jac < 0.5 && jac == BigDecimal(3.0 / 9.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("prefix-filter similarity join is bit-identical to the all-pairs filter at multiple thresholds") {
    val d = docs(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),           // high jaccard vs 1
      (3L, "a b c q r s t u"),           // shares only "a b c" with 1/2
      (4L, "m n o p q r s t"),
      (5L, "m n o p q r s z"),           // high jaccard vs 4
      (6L, "completely different words here entirely now"))
    val sh = Llm.shingleHashes(d)
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val baseline = Llm.jaccardFromStats(Llm.ngramPairStatsFrom(sh))
        .filter(col("jaccard") >= t)
        .orderBy("doc_a", "doc_b")
        .collect().map(_.toString).toSeq
      val prefix = Llm.ngramJaccardPrefix(sh, t)
        .collect().map(_.toString).toSeq
      assert(prefix == baseline, s"threshold $t: $prefix vs $baseline")
      assert(t > 0.5 || prefix.nonEmpty, s"threshold $t found nothing")
    }
  }

  test("dedupNgram: salted hot-shingle tier is bit-identical to in-task expansion") {
    // hotDf=1 forces every surviving (df>=2) shingle through the salted
    // self-join path; the default run keeps them all in the HOF expansion
    val d = docs(
      (1L, "a b c d e f g"),
      (2L, "a b c d x y z"),
      (3L, "a b c q r s t"),
      (4L, "m n o p a b c"),
      (5L, "entirely unrelated words appear here only"))
    val plain = Llm.bestNgramMatch(jaccardPairs(d)).collect().map(_.toString).toSeq
    val forced = Llm.bestNgramMatch(jaccardPairs(d, hotDf = 1, salts = 4))
      .collect().map(_.toString).toSeq
    assert(plain.nonEmpty && plain == forced)
  }

  test("textStats: counts and integer-exact quality score") {
    val d = docs((1L, "The cat and the dog. 42!"))
    val r = Llm.textStats(d).collect().head
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Long]("n_stopwords") == 3L) // the, and, the
    assert(r.getAs[Long]("n_punct") == 2L) // . and !
    assert(r.getAs[Long]("n_tokens") == 8L) // 6 words + '.' + '!' ('42' is one, 'dog.'=2)
    val q = r.getAs[Double]("quality_score")
    assert(q > 0.0 && q <= 1.0)
  }

  test("langId: stopword heuristics pick each language; CJK wins outright") {
    val d = Seq(
      (1L, "the cat is in the house and of course", "en"),
      (2L, "le chat et la maison des gens une fois", "fr"),
      (3L, "der hund und die katze ist ein tier", "de"),
      (4L, "el perro y los gatos que una casa es", "es"),
      (5L, "这 是 中文 文本", "zh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")).cast("long"))
    val out = Llm.langId(d).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("lang_pred")).toSeq == Seq("en", "fr", "de", "es", "zh"))
    assert(out.forall(_.getAs[Boolean]("is_correct")))
  }

  test("knnBruteforce: self excluded, k respected, identical vector ranks first") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0), // identical to probe 0
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(-1.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Llm.knnBruteforce(e, nProbes = 1, k = 3).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[Long]("probe_id") == 0L))
    assert(out.forall(_.getAs[Long]("neighbor_id") != 0L))
    assert(out(0).getAs[Long]("neighbor_id") == 1L)
    assert(out(0).getAs[Double]("sim") == 1.0)
  }

  test("knnLsh: identical vectors land in the same bucket and match") {
    val e = (0L to 20L).map { i =>
      val v = if (i <= 1) Array(1.0f, 2.0f, 3.0f, 4.0f)
        else Array(i.toFloat, -i.toFloat, 1.0f + i, -2.0f * i)
      (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Llm.knnLsh(e, nProbes = 1, k = 5).collect()
    assert(out.exists(r => r.getAs[Long]("probe_id") == 0L &&
      r.getAs[Long]("neighbor_id") == 1L && r.getAs[Double]("sim") == 1.0))
  }

  test("dedupEmbedding: LSH tier flags a subset of the exact tier, recall >= 0.8") {
    val e = Tables.embeddings(spark, sf)
    def flagged(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("n_near") > 0).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("max_cos")).toMap
    val exact = flagged(Llm.dedupEmbedding(e))
    val lsh = flagged(Llm.dedupEmbeddingLsh(e))
    assert(exact.nonEmpty)
    // the LSH tier verifies candidates with the same exact cosine, so it
    // can only miss pairs, never invent them
    assert(lsh.keySet.subsetOf(exact.keySet))
    assert(lsh.forall { case (id, mc) => mc <= exact(id) })
    assert(lsh.size.toDouble / exact.size >= 0.8)
  }

  test("knnLsh: measured recall@5 vs brute force clears the 0.8 floor at default (b, L)") {
    // fully deterministic (fixed hyperplanes, fixed test vectors): the
    // assertion is a regression gate on the (nPlanes, nTables) tuning,
    // measured 0.88 on these near-uniform vectors (θ≈72°, sign-LSH's
    // worst case)
    val e = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bf = pairs(Llm.knnBruteforce(e))
    val lsh = pairs(Llm.knnLsh(e))
    assert(bf.nonEmpty)
    assert((bf & lsh).size.toDouble / bf.size >= 0.8)
  }

  test("unigramLogProb: exact occurrence-weighted mean under the corpus unigram LM") {
    import spark.implicits._
    // n(a)=3, n(b)=1, N=4
    val d = Seq((0L, "a a b"), (1L, "a")).toDF("doc_id", "text")
    val out = Llm.unigramLogProbFrom(Search.docTermFreq(d)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logprob"))).toMap
    def s(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) == (3L, s((2 * math.log(3.0 / 4) + math.log(1.0 / 4)) / 3)))
    assert(out(1L) == (1L, s(math.log(3.0 / 4))))
    // the common-word-only doc scores higher than the one with a rare word
    assert(out(1L)._2 > out(0L)._2)
  }

  test("corpusFilter: every reason reachable, first-match-wins priority") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat and a dog sat in the big tree"), // clean
      (1L, "a b c a b c a b c a b c a b c"),         // repetitive
      (2L, "zz yy ww vv uu tt"))                     // rare vocabulary
      .toDF("doc_id", "text")
    val lp = Llm.unigramLogProbFrom(Search.docTermFreq(docs))
    def vals(df: org.apache.spark.sql.DataFrame, c: String) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double](c)).toMap
    val q = vals(Llm.textStats(docs).select($"doc_id", $"quality_score"), "quality_score")
    val rep = vals(Llm.repetitionScore(docs).select($"doc_id", $"repeat_frac"), "repeat_frac")
    val l = vals(lp, "avg_logprob")
    def reasons(minQ: Double, maxR: Double, minL: Double) =
      Llm.corpusFilterFrom(Llm.textStats(docs), Llm.repetitionScore(docs), lp,
        minQ, maxR, minL).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("reason"), r.getAs[Long]("keep"))).toMap
    // thresholds calibrated from the measured values so each rule fires
    // on exactly one doc: doc 1 repeats, doc 2 is LM-unusual, doc 0 keeps
    assert(rep(1L) > rep(0L) && l(2L) < l(0L))
    val r1 = reasons(q.values.min - 1, (rep(0L) + rep(1L)) / 2, (l(0L) + l(2L)) / 2)
    assert(r1(0L) == ("keep", 1L))
    assert(r1(1L)._1 == "repetitive" && r1(1L)._2 == 0L)
    assert(r1(2L)._1 == "unusual_lm")
    // priority: a doc failing every rule reports the FIRST (quality)
    val r2 = reasons(q.values.max + 1, -1.0, 999.0)
    assert(r2.values.forall(_ == ("low_quality", 0L)))
  }

  test("knnQuantized: int8 SQ recall@5 vs brute force >= 0.9") {
    // deterministic (affine codebook from global per-dim min/max, no
    // randomness): 8-bit cells lose ~1e-2 of cosine resolution, far
    // below the synthetic corpus's neighbor gaps — measured recall 1.0;
    // the 0.9 floor leaves room only for genuine quantizer regressions
    val e = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bf = pairs(Llm.knnBruteforce(e))
    val sq = pairs(Ml.knnQuantized(e))
    assert(bf.nonEmpty)
    assert((bf & sq).size.toDouble / bf.size >= 0.9)
  }

  test("cosine_sim registered as a SQL function") {
    graft.functions.CosineSimilarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s").first()
    assert(r.getDouble(0) == 1.0)
  }

  test("native CosineSimilarity is bit-identical to the HOF composition") {
    import graft.functions.CosineSimilarity.cosine_sim
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val paired = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(2000)
      .select(cosine_sim(col("a.emb"), col("b.emb")).as("native"),
        cosineHof(col("a.emb"), col("b.emb")).as("hof"))
    assert(paired.filter(col("native") =!= col("hof")).count() == 0L)
    // and through the SQL/codegen path end-to-end
    val r = paired.agg(min("native"), max("native")).first()
    assert(r.getDouble(0) >= -1.0000001 && r.getDouble(1) <= 1.0000001)
    // mismatched lengths are null in BOTH forms (zip_with null padding
    // poisons the HOF aggregate; the native expression mirrors it)
    val mm = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b")).as("native"),
        cosineHof(col("a"), col("b")).as("hof")).first()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("top-k Aggregator selects exactly what the window formulation selects") {
    val e = Tables.embeddings(spark, sf)
    val win = Llm.knnBruteforce(e).collect().map(_.toString).toSeq
    val agg = Llm.knnTopkAgg(e).collect().map(_.toString).toSeq
    assert(agg.nonEmpty && agg == win)
  }

  test("textStats: empty and whitespace-only docs don't divide by zero") {
    val d = docs((1L, ""), (2L, "   "), (3L, "x"))
    val out = Llm.textStats(d).orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_words") == 0L)
    assert(out(0).getAs[Double]("punct_ratio") == 0.0)
    val q = out.map(_.getAs[Double]("quality_score"))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("dedupExact on all-unique corpus is the identity set") {
    val d = docs((1L, "aa"), (2L, "bb"), (3L, "cc"))
    val out = Llm.dedupExact(d).collect()
    assert(out.length == 3)
    assert(out.forall(_.getLong(1) == 1L))
  }

  test("docFingerprint: identical docs produce identical fingerprint sets") {
    val d = docs((1L, "abcdefghijklmnopqrstuvwxyz"), (2L, "abcdefghijklmnopqrstuvwxyz"),
      (3L, "zyxwvutsrqponmlkjihgfedcba"))
    val out = Llm.docFingerprint(d).collect()
    assert(out(0).getAs[Long]("min_fp") == out(1).getAs[Long]("min_fp"))
    assert(out(0).getAs[Long]("n_fingerprints") == out(1).getAs[Long]("n_fingerprints"))
  }

  test("decontaminate: corpus doc sharing a benchmark 3-gram is flagged; clean doc is not") {
    val d = docs(
      (1L, "alpha beta gamma delta"), // benchmark (doc_id < 10)
      (11L, "something alpha beta gamma tail"), // shares 'alpha beta gamma'
      (12L, "totally unrelated words here now"))
    val out = Llm.decontaminateFrom(d, Llm.decontamHashes(d)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_contaminated"), r.getAs[Boolean]("is_contaminated"))).toMap
    assert(out(11L)._1 >= 1L && out(11L)._2)
    assert(out(12L) == ((0L, false)))
    assert(!out.contains(1L)) // benchmark docs are not scored
  }

  test("decontaminateBloom: never misses an exact flag, over-flags within the fpp budget") {
    val d = Tables.documents(spark, sf)
    val ex = Llm.decontamHashes(d)
    val exact = Llm.decontaminateFrom(d, ex).filter(col("is_contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Llm.decontaminateBloomFrom(d, ex).collect()
    val flagged = bloom.filter(_.getAs[Boolean]("is_flagged"))
      .map(_.getAs[Long]("doc_id")).toSet
    // a bloom filter has no false negatives: every exactly-contaminated
    // doc must be flagged by the sketch tier too
    assert(exact.subsetOf(flagged),
      s"bloom tier missed ${(exact -- flagged).take(5)}")
    // false positives only over-flag, and rarely: with the default 3%
    // fpp and ~40 shingles/doc the per-doc flag odds stay small
    val clean = bloom.length - exact.size
    val fp = (flagged -- exact).size
    assert(clean == 0 || fp.toDouble / clean <= 0.10,
      s"$fp false positives over $clean clean docs")
  }

  test("piiScrub: emails and phones counted and redacted, clean docs untouched") {
    val d = docs(
      (1L, "reach me at jane.doe+x@example.org or (555) 123-4567 ok"),
      (2L, "no pii in this one at all"))
    val out = Llm.piiScrub(d).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Long]("n_emails") == 1L)
    assert(r1.getAs[Long]("n_phones") == 1L)
    // redaction replaced both matches with tags, shortening the text
    val original = "reach me at jane.doe+x@example.org or (555) 123-4567 ok".length
    assert(r1.getAs[Long]("scrubbed_len") < original)
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Long]("n_emails") == 0L && r2.getAs[Long]("n_phones") == 0L)
    assert(r2.getAs[Long]("scrubbed_len") == "no pii in this one at all".length.toLong)
  }

  test("native sketch expressions are bit-identical to the explode+groupBy compositions") {
    val d = Tables.documents(spark, sf)
    // composed SimHash: explode tokens, re-derive tokenHash from Spark
    // BUILTINS (aggregate over per-char codepoints, then the splitmix64
    // finalizer on wrapping Long arithmetic — ANSI mode is toggled off
    // for this test because wrapping mod-2^64 multiplication IS the
    // intended semantics here, not an overflow bug), 64 bit-sum
    // aggregates. ascii() reads the first BYTE, = the code point on this
    // all-ASCII corpus; the non-ASCII code-point semantics are pinned by
    // the literal-vector test above.
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
    def mix(z0: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val z1 = z0 + lit(0x9E3779B97F4A7C15L)
      val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 30)) * lit(0xBF58476D1CE4E5B9L)
      val z3 = z2.bitwiseXOR(shiftrightunsigned(z2, 27)) * lit(0x94D049BB133111EBL)
      z3.bitwiseXOR(shiftrightunsigned(z3, 31))
    }
    val tok = d.select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("w"))
      .select(col("doc_id"), mix(aggregate(split(col("w"), ""), lit(0L),
        (h, c) => h * lit(31L) + ascii(c).cast("long"))).as("h"))
    val bitAggs = (0 until 64).map(k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"b_$k"))
    val fingerprint = (0 until 64).map(k =>
      when(col(s"b_$k") >= 0, shiftleft(lit(1L), k)).otherwise(lit(0L))).reduce(_ + _)
    val composedSim = tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
      .orderBy("doc_id").collect()
    val nativeSim = Llm.simhashDocs(d).orderBy("doc_id").collect()
    assert(nativeSim.nonEmpty)
    assert(nativeSim.map(_.mkString("|")).toSeq == composedSim.map(_.mkString("|")).toSeq)

    // composed MinHash: shingle explode, per-shingle tokenHash from
    // builtins, 16 min-aggregates over splitmix64(h + i·Golden), and the
    // position-salted band fold — the same arithmetic the DuckDB oracle
    // restates
    val G = graft.functions.Sketches.Golden
    val ws = split(lower(col("text")), "\\s+")
    val sh0 = when(size(ws) >= 3,
      array_distinct(transform(sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", slice(ws, i + 1, lit(3))))))
      .otherwise(array().cast("array<string>"))
    val base = d.withColumn("sh", sh0)
      .select(col("doc_id"),
        when(size(col("sh")) > 0, col("sh"))
          .otherwise(array(concat_ws(" ", ws))).as("sh"))
    val hashed = base.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), mix(aggregate(split(col("s"), ""), lit(0L),
        (h, c) => h * lit(31L) + ascii(c).cast("long"))).as("h"))
    val sigAggs = (0 until Llm.MinhashHashes).map(i =>
      min(mix(col("h") + lit(i * G))).as(s"sig_$i"))
    val sigArr = array((0 until Llm.MinhashHashes).map(i => col(s"sig_$i")): _*)
    val composedMh = hashed.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sigAggs: _*)
      .select(col("doc_id"), col("n_shingles"), sigArr.as("sig"),
        transform(sequence(lit(0), lit(Llm.MinhashBands - 1)),
          j => mix(j.cast("long") * lit(G) +
            (0 until 4).map(q =>
              mix(element_at(col("sig"), j * 4 + q + 1) + lit((q + 1) * G)))
              .reduce(_ + _)))
          .as("bands"))
      .orderBy("doc_id").collect()
    val nativeMh = Llm.minhashSignatures(d).orderBy("doc_id").collect()
    def canon(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      r.getSeq[Long](2).mkString(","), r.getSeq[Long](3).mkString(","))
    assert(nativeMh.map(canon).toSeq == composedMh.map(canon).toSeq)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("native LSH buckets are bit-identical to the posexplode+groupBy composition") {
    val e = Tables.embeddings(spark, sf)
    val nPlanes = 4; val nTables = 16
    val nBits = nPlanes * nTables
    val planes = Llm.hyperplanes(nBits, 256)
    val exploded = e
      .select(col("vec_id"), posexplode_outer(col("embedding").cast("array<double>")))
      .withColumnRenamed("pos", "kk").withColumnRenamed("col", "x")
      .filter(col("x").isNotNull)
    val planeCols = (0 until nBits).map { j =>
      val w = typedlit(planes(j))
      sum(col("x") * element_at(w, col("kk") + 1)).as(s"dot_$j")
    }
    val tableBuckets = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        (0 until nPlanes).map { i =>
          when(col(s"dot_${t * nPlanes + i}") >= 0, 1 << i).otherwise(0)
        }.reduce(_ + _).as("bucket"))
    }
    val composed = exploded.groupBy("vec_id").agg(planeCols.head, planeCols.tail: _*)
      .select(col("vec_id"), explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .orderBy("vec_id", "tbl").collect()
    val native = Llm.lshTableBuckets(e, nPlanes, nTables)
      .orderBy("vec_id", "tbl").collect()
    assert(native.nonEmpty)
    assert(native.map(_.mkString("|")).toSeq == composed.map(_.mkString("|")).toSeq)
  }

  test("native winnowing is bit-identical to the explode+window composition") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sf)
    val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    val composed = d.filter(length(col("text")) >= 11)
      .select(col("doc_id"), (length(col("text")) - 7).as("n"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"), col("text"))
      .select(col("doc_id"), col("n"), col("i"),
        xxhash64(expr("substring(text, i, 8)")).as("h"))
      .withColumn("wmin", min("h").over(w))
      .filter(col("i") <= col("n") - 3)
      .groupBy("doc_id")
      .agg(countDistinct("wmin").as("n_fingerprints"), min("wmin").as("min_fp"))
      .orderBy("doc_id").collect()
    val native = Llm.docFingerprint(d).collect()
    assert(native.nonEmpty && native.length == composed.length)
    assert(native.map(_.mkString("|")).toSeq == composed.map(_.mkString("|")).toSeq)
  }

  test("typoPairs: deletion neighborhood finds exactly the distance-1 pairs") {
    val d = docs(
      1L -> "grey gray",        // substitution -> dist 1
      2L -> "color colour",     // insertion -> dist 1
      3L -> "cart cat",         // deletion -> dist 1
      4L -> "stop spot post",   // transpositions/anagrams -> dist 2, must NOT pair
      5L -> "cat cat",          // equal -> excluded by w1 < w2
      6L -> "zebra")            // unrelated
    val out = Llm.typoPairs(d, "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("cart", "cat", 1L),
      ("color", "colour", 1L),
      ("gray", "grey", 1L)))
    // "spot"/"post" share the deletion "pot" — a neighborhood candidate
    // the exact-verify stage must kill (true distance 2)
    assert(!out.exists(p => Set(p._1, p._2).subsetOf(Set("stop", "spot", "post"))))
  }

  test("misraGries: every item over the n/(m+1) frequency bound survives") {
    // adversarial stream: 2 heavy hitters drowned in 30 distinct
    // singletons, m = 3 counters. n = 68 -> at most n/(m+1) = 17
    // decrement rounds, so any frequency > 17 is guaranteed to survive.
    val stream = Seq.fill(20)("hot") ++ Seq.fill(18)("warm") ++
      (1 to 30).map(i => s"noise$i")
    // guarantee must hold for EVERY arrival order — exercise a few
    // deterministic shuffles of the same multiset
    for (seed <- 1 to 5) {
      val perm = new scala.util.Random(seed).shuffle(stream)
      val kept = Llm.misraGries(perm.iterator, 3).toSet
      assert(kept.contains("hot") && kept.contains("warm"),
        s"seed $seed lost a guaranteed heavy hitter: $kept")
      assert(kept.size <= 3, s"summary exceeded m: $kept")
    }
  }

  test("vocabTopApprox matches vocabTop exactly when counters overflow (m < vocab)") {
    // 60-word vocabulary, m = 12 counters: summaries overflow and churn.
    // Exactness precondition: 10th-ranked count (100) > N/(m+1)
    // (1100/13 ≈ 85) — every top-10 word is guaranteed into the
    // candidate set, and the exact recount reproduces the exact tier
    // bit-for-bit (counts AND doc counts).
    val d = docs((0L until 10L).map { i =>
      val wanted = (1 to 10).flatMap(j => Seq.fill(10)(s"w$j")) // 100/doc
      val noise = (0 until 5).flatMap(j => Seq.fill(2)(s"n${5 * i + j}"))
      i -> new scala.util.Random(i).shuffle(wanted ++ noise).mkString(" ")
    }: _*)
    val tf = Search.docTermFreq(d)
    val exact = Llm.vocabTopFrom(tf, k = 10).collect().map(_.mkString("|")).toSeq
    val approx = Llm.vocabTopApproxFrom(d, tf, k = 10, m = 12)
      .collect().map(_.mkString("|")).toSeq
    assert(exact.size == 10 && approx == exact, s"approx=$approx\nexact=$exact")
  }

  test("bpePairsFrom: pairs weighted by word frequency, 1-char words contribute nothing") {
    import spark.implicits._
    val tf = Seq((1L, "low", 3L), (2L, "low", 2L), (1L, "lower", 2L), (2L, "l", 7L))
      .toDF("doc_id", "word", "tf")
    // low n=5 → lo,ow ×5 ; lower n=2 → lo,ow,we,er ×2 ; "l" → nothing
    val out = Llm.bpePairsFrom(tf).collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq == Seq("lo" -> 7L, "ow" -> 7L, "er" -> 2L, "we" -> 2L))
  }

  test("bpeLearn: greedy rounds, merged symbols compose, non-overlapping left-to-right") {
    import spark.implicits._
    // vocabulary: "aaab"×3, "ab"×2.
    // round 1 pairs: (a,a)×2·3=6  (a,b)×(3+2)=5 → merge (a,a)→"aa", n=6
    //   rewrite: aaab→[aa,a,b] (greedy non-overlap), ab→[a,b]
    // round 2 pairs: (aa,a)×3, (a,b)×3+2=5 → merge (a,b)→"ab", n=5
    // round 3 pairs: (aa,a)×3, (aa,ab)… after rewrite aaab→[aa,a,b]→
    //   wait: round-2 rewrite merges the (a,b) tail: [aa,ab]; ab→[ab]
    // round 3 pairs: (aa,ab)×3 → merge, n=3
    val tf = Seq((1L, "aaab", 3L), (2L, "ab", 2L)).toDF("doc_id", "word", "tf")
    val out = Llm.bpeLearnCore(tf, rounds = 4)._1.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
    // round 4 finds no pair anywhere (every word is one symbol) — the
    // loop must stop at 3 merges, not emit a degenerate row
  }

  test("bpeTokenize: corpus token counts under the learned merges") {
    import spark.implicits._
    // same corpus as bpeLearn's test; after 2 rounds ((a,a) then (a,b)):
    //   aaab -> [aa, ab] ×3 ; ab -> [ab] ×2  ⇒ ab 5, aa 3
    val tf = Seq((1L, "aaab", 3L), (2L, "ab", 2L)).toDF("doc_id", "word", "tf")
    val two = Llm.bpeTokenizeFrom(Llm.bpeLearnCore(tf, rounds = 2)._2).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(two.toSeq == Seq("ab" -> 5L, "aa" -> 3L))
    // all 3 rounds: aaab -> [aaab] ×3 ; ab -> [ab] ×2
    val three = Llm.bpeTokenizeFrom(Llm.bpeLearnCore(tf, rounds = 3)._2).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(three.toSeq == Seq("aaab" -> 3L, "ab" -> 2L))
  }

  test("spanDedup: keeps exactly one occurrence per distinct block, untouched docs round-trip") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"), // blocks: [a..h], [i..p]
      (2L, "a b c d e f g h x y z w q r s t"), // first block duplicates doc 1's
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))      // all unique, 9 words -> 2 blocks
      .toDF("doc_id", "text")
    val out = Llm.spanDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d e f g h i j k l m n o p")))
    // doc 2 loses its first block (doc 1 won it), keeps the second
    assert(out(2L) == ((2L, 1L, "x y z w q r s t")))
    // partial trailing block survives re-assembly verbatim
    assert(out(3L) == ((2L, 2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
    // corpus-level invariant at sf: kept blocks == distinct block texts
    val real = Llm.spanDedup(Tables.documents(spark, sf))
    val kept = real.agg(sum("n_kept")).collect()(0).getLong(0)
    val ws = split(lower(col("text")), "\\s+")
    val distinctBlocks = Llm.spread(Tables.documents(spark, sf))
      .select(col("doc_id"), ws.as("ws"), size(ws).cast("long").as("n"))
      .select(explode(sequence(lit(0L),
        ceil(col("n") / lit(8.0)).cast("long") - 1)).as("blk"),
        col("ws"))
      .select(concat_ws(" ", slice(col("ws"),
        (col("blk") * 8 + 1).cast("int"), lit(8))).as("t"))
      .distinct().count()
    assert(kept == distinctBlocks)
  }
}
