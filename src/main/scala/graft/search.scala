package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-ranking operators over the `documents` table: TF-IDF term
  * extraction and BM25 retrieval. The reference stops at raw token
  * counts (its text path is dedup-oriented); these are the two classic
  * relevance primitives a training-data pipeline layers on top — TF-IDF
  * for keyword/topic extraction per document, BM25 for corpus search —
  * and both reduce to the same scale shape as [[Llm.vocabTopFrom]]: one
  * explode → token-keyed aggregation pass, everything after it grain-
  * bounded by (doc, matched term), never by corpus size.
  *
  * Tokenization is the suite-wide convention (lowercase, split on runs
  * of whitespace, drop empties) so the DuckDB oracles share one
  * `string_split_regex` shape with vocab_top.
  *
  * Determinism: scores are transcendental (ln), so both engines round
  * to 9dp and rank on the ROUNDED value with a lexical tie-break —
  * the same convention product_rank uses for its double ranks.
  */
object Search {

  private def tokens(documents: DataFrame): DataFrame =
    Llm.spread(documents)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")

  /** The (doc_id, word, tf) term-frequency frame — the one corpus-sized
    * pass every text-ranking operator starts from ([[tfidfTopTermsFrom]],
    * [[bm25From]], [[Llm.unigramLogProbFrom]]); SparkEntry
    * memoizes it so the explode + aggregate runs once per session. */
  def docTermFreq(documents: DataFrame): DataFrame =
    tokens(documents).groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** Top-k TF-IDF terms per document. idf = ln(N / df) over raw df
    * (every word occurs somewhere, so df ≥ 1 and the ratio is finite).
    *
    * Scale shape: the only corpus-sized shuffle is the (doc_id, word)
    * term-frequency aggregation (map-side partial combine applies — the
    * explode never crosses the wire raw). df re-aggregates THAT frame by
    * word (vocab-sized), and the per-document top-k window partitions on
    * doc_id, so no stage concentrates more than one document's vocabulary
    * in a task. The df join is vocab-grain; left to AQE rather than a
    * broadcast hint because a 100 TB corpus's vocabulary is itself large
    * while the Zipf head that actually matters still fits a shuffle.
    * Reads a [[docTermFreq]] frame; `n` is the corpus document count.
    */
  def tfidfTopTermsFrom(tf: DataFrame, n: Long, k: Int = 3): DataFrame = {
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id").orderBy(desc("score"), col("word"))
    tf.join(df, "word")
      .withColumn("score", round(col("tf") * log(lit(n.toDouble) / col("df")), 9))
      .withColumn("rk", row_number().over(byDoc).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** BM25 top-k retrieval for a fixed bag of query terms (Robertson/
    * Sparck Jones idf with the standard +1 floor; k1 = 1.2, b = 0.75).
    *
    * Scale shape: the term filter lands BEFORE any query-side
    * aggregation, so every shuffle after the doc-length pass is
    * proportional to the POSTINGS of the query terms, not the corpus —
    * the DataFrame equivalent of walking an inverted index. Doc lengths
    * are a separate corpus-grain aggregate (unavoidable: BM25 normalizes
    * by |d|); at production scale that frame is precomputed once per
    * corpus snapshot (it is [[Llm.textStats]]' n_words column), not per
    * query. The df frame has ≤ |query| rows and is broadcast explicitly.
    *
    * Every input is derivable at the (doc, word) grain of a
    * [[docTermFreq]] frame — doc length is the per-doc tf sum, the query
    * postings are a filter of the tf frame, df counts its rows — so the
    * raw token explode never runs here at all: SparkEntry feeds the
    * session-shared tf frame, and the doc-length count and the query tf
    * aggregation are re-aggregates of that one cached frame.
    */
  def bm25From(tfAll: DataFrame,
      query: Seq[String] = Seq("spark", "shuffle", "join"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docLen = tfAll.groupBy("doc_id").agg(sum("tf").as("len"))
    val stats = docLen.agg(count(lit(1)).as("n"), avg("len").as("avglen")).head()
    val n = stats.getLong(0)
    // empty corpus → NULL avg length; the scoring frame below is empty
    // either way, any positive stand-in yields the same empty top-k
    val avglen = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)
    val tf = tfAll.filter(col("word").isin(query: _*))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "word")
      .join(docLen, "doc_id")
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / avglen)))
      .groupBy("doc_id").agg(round(sum("contrib"), 9).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Characteristic vocabulary per SOURCE — [[tfidfTopTermsFrom]] lifted one
    * grain up: each source's token counts act as one "document", idf
    * runs over the |sources| corpus, and the top-k terms are what makes
    * each domain's language distinctive (the mix-analysis view a
    * training-data curator reads next to [[Prep.sampleTemperature]]'s
    * share plan). A term in every source scores exactly 0 (ln S/S) —
    * common function words self-suppress without a stopword list.
    *
    * Scale shape: one doc→source attach on the shared tf frame, then a
    * (source, word) re-aggregate; everything after is vocab-grain, and
    * the per-source top-k window partitions on |sources| keys. */
  def sourceTopTerms(tf: DataFrame, documents: DataFrame,
      k: Int = 5): DataFrame = {
    // CacheOnce: srcTf feeds its own df re-aggregate AND the scored
    // join — without the cache the doc→source attach + (source, word)
    // aggregation run twice (r17)
    val srcTf = CacheOnce(tf.join(documents.select("doc_id", "source"), "doc_id")
      .groupBy("source", "word").agg(sum("tf").as("tf")))
    val s = documents.select("source").distinct().count()
    val df = srcTf.groupBy("word").agg(count(lit(1)).as("df"))
    val bySrc = Window.partitionBy("source").orderBy(desc("score"), col("word"))
    srcTf.join(df, "word")
      .withColumn("score", round(col("tf") * log(lit(s.toDouble) / col("df")), 9))
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .filter(col("rk") <= k)
      .select("source", "rk", "word", "tf", "df", "score")
      .orderBy("source", "rk")
  }

  // ------------------------------------------------------ word bigrams

  /** Per-document word-bigram counts — (doc_id, w1, w2, cnt): the
    * order-1 sequence frame next to [[docTermFreq]]'s bag-of-words, and
    * the shared base under the collocation ([[termPmiFrom]]) and
    * bigram-LM ([[bigramLogProbFrom]]) operators.
    *
    * Scale shape: one corpus pass — the token array zipped with its own
    * tail in-row (no positional self-join), exploded, then a
    * (doc, pair)-grain aggregate with map-side combine; nothing after
    * the aggregate is corpus-sized. Empty tokens are filtered BEFORE
    * pairing so adjacency matches the (lowercase, split-on-whitespace)
    * suite convention. */
  def docBigrams(documents: DataFrame): DataFrame = {
    val ws = Llm.spread(documents)
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
    ws.select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Top-k collocations by pointwise mutual information — the classic
    * phrase detector ("new york" scores high because its parts rarely
    * appear apart). All probabilities come from the corpus bigram frame
    * itself: left/right margins and the bigram total, so the statistic
    * is self-consistent and needs no separate unigram pass.
    * pmi = ln(c12·B / (c1·c2)), computed at 9 dp with a lexical
    * tie-break (the suite's transcendental-score convention). Pairs
    * below `minCount` are pruned first — PMI's known pathology is that
    * rare pairs score arbitrarily high.
    *
    * Scale shape: margins re-aggregate the vocab²-bounded corpus-pair
    * frame (never the corpus); the pair frame is cached across its four
    * consumers (two margins, the total, the scored join). */
  def termPmiFrom(bigrams: DataFrame, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    val corpus = CacheOnce(
      bigrams.groupBy("w1", "w2").agg(sum("cnt").as("c12")))
    val left = corpus.groupBy("w1").agg(sum("c12").as("c1"))
    val right = corpus.groupBy("w2").agg(sum("c12").as("c2"))
    // empty corpus → NULL total; the pair frame below is empty anyway,
    // any non-zero stand-in yields the same empty scoring (no NPE)
    val bTotal = Option(corpus.agg(sum("c12")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(1L)
    corpus.filter(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2")
      .withColumn("pmi", round(log(
        col("c12").cast("double") * lit(bTotal.toDouble) /
          (col("c1") * col("c2").cast("double"))), 9))
      .select("w1", "w2", "c12", "pmi")
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document mean bigram log-probability under the corpus's own
    * add-k-smoothed bigram LM — the order-1 upgrade of
    * [[Llm.unigramLogProbFrom]]'s quality score: fluent word ORDER now
    * matters, not just word choice (a bag of common words shuffled
    * randomly scores near the unigram model but collapses here).
    * P(w2|w1) = (c12 + k) / (c1 + k·V) with V the corpus vocabulary
    * size; the per-doc mean weights each bigram occurrence
    * (Σ cnt·ln p / Σ cnt). 6 dp rounding on both engines — the double
    * sum over a document's distinct bigrams is partition-order
    * nondeterministic at ~1e-14, far inside 6dp.
    *
    * Scale shape: corpus counts and left margins re-aggregate the
    * bigram frame at vocab² grain; the score join is doc-pair-grain ⋈
    * vocab-grain on the pair key — postings-shaped, like the unigram
    * scorer and bm25. */
  def bigramLogProbFrom(bigrams: DataFrame, vocabSize: Long,
      smoothing: Double = 0.5): DataFrame = {
    val corpus = CacheOnce(
      bigrams.groupBy("w1", "w2").agg(sum("cnt").as("c12")))
    val left = corpus.groupBy("w1").agg(sum("c12").as("c1"))
    val kv = smoothing * vocabSize.toDouble
    bigrams.join(corpus, Seq("w1", "w2")).join(left, "w1")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(col("cnt") * (log(col("c12") + lit(smoothing)) -
          log(col("c1") + lit(kv)))) / sum(col("cnt")), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }
}
