package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — the query registry: one [[QuerySpec]] per
  * implemented operator from SURVEY.md §2, each carrying its body and its
  * single gate (a DuckDB [[Oracle]], exact or bounded-error, or a
  * [[Digest]] pin). The specs live per family under `graft.queries`;
  * this object concatenates them and owns the shared frames their bodies
  * reuse.
  *
  * Determinism conventions shared by every query/oracle pair:
  *  - money aggregates in exact integer cents (Tables.moneySum /
  *    Tables.moneySumSql) — bit-identical in any partition order;
  *  - every output has an explicit ORDER BY on a unique key;
  *  - computed doubles rounded (2dp money, 6dp ratios) on both sides;
  *  - identical arithmetic expression shapes in Scala and SQL.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): monthly
    * revenue over the country-enriched fact table. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Gold.caMonthly(Gold.buildFact(
      Tables.orders(spark, d), Tables.customer(spark, d), Tables.nation(spark, d)))
  }

  /** Every registry query, family by family. Lazy, so that callers that
    * only use the shared frames never build the oracle texts, and so that
    * this object is fully initialized before any spec object loads. */
  lazy val specs: Seq[QuerySpec] =
    SilverQueries.specs ++ GoldQueries.specs ++ ServingQueries.specs ++
      EventsQueries.specs ++ LlmQueries.specs ++ SearchQueries.specs ++
      SimilarityQueries.specs ++ MultimodalQueries.specs ++ ExtensionQueries.specs

  /** The registry bodies by name — what Bench times and the perfbench
    * harness calls. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.body).toMap

  // ---------------------------------------------------------- shared frames
  /** A named shared subtree: one cached handle per (name, session,
    * dataset), released by [[unpersistShared]] (see [[Shared]]). */
  private[graft] def memoFrame(name: String, s: SparkSession, d: String)
      (build: => DataFrame): DataFrame =
    Shared.frame(s, (name, d))(build)

  /** Release every shared cached frame, ML fit and [[CacheOnce]] frame
    * ([[Shared.release]]). Default blocking=false: executors drop blocks
    * asynchronously; Bench passes blocking=true before its timed
    * shared_build phase so the rebuild isn't timed against concurrent
    * block drops. */
  def unpersistShared(blocking: Boolean = false): Unit = Shared.release(blocking)

  /** The shared-frame registry, in dependency order, for Bench's TIMED
    * `shared_build` phase: after the untimed
    * warmup Bench releases every session cache and re-builds + noop-
    * materializes these frames under the clock, so the suite total
    * CHARGES the cost of every cross-query memoized subtree instead of
    * hiding it in warmup — per-query numbers then honestly measure the
    * incremental (shared-frames-warm) cost, and the build bill is a
    * visible line item. Order matters only for attribution: a frame
    * listed after its dependency measures its own increment, because
    * the dependency is already cached. Released entries built inside query
    * bodies (ML fits, [[CacheOnce]] frames) are charged to their first
    * timed consumer in pass 1 instead — see Bench's pass1 record. */
  def sharedFrameBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "fact" -> (fact _),
    "dailyDense" -> (dailyDenseF _),
    "cohortRet" -> (cohortRet _),
    "docShingles" -> (docShingles _),
    "ngramStats" -> (ngramStats _),
    "copurchase" -> (copurchase _),
    "orderItems" -> (orderItemsF _),
    "itemCooc" -> (itemCooc _),
    "communityEdges" -> (communityEdges _),
    "lpaCommunities" -> (lpaCommunities _),
    "docTf" -> (docTf _),
    "docLogProb" -> (docLogProb _),
    "docBigrams" -> (docBigrams _),
    "decontamEx" -> (decontamEx _),
    "eventSessions" -> (eventSessionsF _),
    "typoPairs" -> (typoPairsF _),
    "textStats" -> (textStatsF _),
    "repetition" -> (repetitionF _),
    "feats" -> (feats _),
    "scored" -> (scored _),
    "scoredApprox" -> (scoredApprox _))

  /** The fact subtree feeds 9+ queries — cache it (the deliberate
    * improvement over the reference, which re-executes it per sink; see
    * SURVEY §3.4). */
  private[graft] def fact(s: SparkSession, d: String): DataFrame =
    memoFrame("fact", s, d)(Gold.buildFact(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)))

  /** The near-dup family's two expensive subtrees, shared like [[fact]]:
    * the single text-scan shingle-hash pass and the candidate-pair frame
    * built from it. dedup_ngram / dedup_clusters consume the pairs;
    * dedup_incremental reads the persisted index written from the hashes
    * (at production scale the shingle frame IS that index, not a cache). */
  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    memoFrame("docShingles", s, d)(Llm.shingleHashes(Tables.documents(s, d)))
  // the memo holds the raw pair STATS (doc_a, na, doc_b, nb, inter);
  // Jaccard and containment are thin selects over it, so the pair
  // shuffle runs once for dedup_ngram, dedup_clusters, and
  // dedup_containment together
  private[graft] def ngramStats(s: SparkSession, d: String): DataFrame =
    memoFrame("ngramStats", s, d)(Llm.ngramPairStatsFrom(docShingles(s, d)))
  private[graft] def ngramPairs(s: SparkSession, d: String): DataFrame =
    Llm.jaccardFromStats(ngramStats(s, d))

  /** The parity-encoded co-purchase pair frame both graph queries walk
    * (product_rank's PageRank, copurchase_distance's BFS): the
    * line-grain orders⋈lineitem join + distinct runs once per session. */
  private[graft] def copurchase(s: SparkSession, d: String): DataFrame =
    memoFrame("copurchase", s, d)(Gold.copurchasePairs(
      Tables.orders(s, d), Tables.lineitem(s, d)))

  /** The basket-line frame and the part-pair co-occurrence counts built
    * from it — ONE basket self-join per session serving basket_pairs
    * (support filter) and copurchase_triangles (edge keys). NOTE: the
    * other two graph queries (product_rank, copurchase_distance) walk
    * the customer–part bipartite [[copurchase]] frame — a DIFFERENT
    * graph; no further sharing exists between the two families. */
  private[graft] def orderItemsF(s: SparkSession, d: String): DataFrame =
    memoFrame("orderItems", s, d)(Gold.orderItems(Tables.lineitem(s, d)))
  private[graft] def itemCooc(s: SparkSession, d: String): DataFrame =
    memoFrame("itemCooc", s, d)(Gold.itemCooccurrenceFrom(orderItemsF(s, d)))
  /** The support-pruned weighted community graph — ONE frame feeding
    * both the LPA labels and the modularity score (a drifted duplicate
    * threshold would silently score a different graph). */
  private[graft] def communityEdges(s: SparkSession, d: String): DataFrame =
    memoFrame("communityEdges", s, d)(Gold.communityEdges(itemCooc(s, d)))
  /** The LPA partition of that graph: product_communities serves it and
    * community_modularity scores it. */
  private[graft] def lpaCommunities(s: SparkSession, d: String): DataFrame =
    memoFrame("lpaCommunities", s, d)(Gold.productCommunities(communityEdges(s, d)))

  /** The (doc_id, word, tf) term-frequency frame the text-ranking
    * queries share (tfidf_top_terms, doc_logprob): one corpus explode +
    * aggregate per session. */
  private[graft] def docTf(s: SparkSession, d: String): DataFrame =
    memoFrame("docTf", s, d)(Search.docTermFreq(Tables.documents(s, d)))
  /** The unigram-LM quality frame doc_logprob serves and corpus_filter
    * joins — one vocab re-aggregate + postings join per session instead
    * of one per consumer. */
  private[graft] def docLogProb(s: SparkSession, d: String): DataFrame =
    memoFrame("docLogProb", s, d)(Llm.unigramLogProbFrom(docTf(s, d)))
  /** The gap-filled daily revenue series four serving queries reshape
    * (dense, both anomaly tiers, spend_trend) — day-grain, bounded. */
  private[graft] def dailyDenseF(s: SparkSession, d: String): DataFrame =
    memoFrame("dailyDense", s, d)(Serving.dailyDense(fact(s, d)))
  /** The cohort-retention triangle its pivot and melt reshape —
    * (cohort, offset)-grain, bounded. */
  private[graft] def cohortRet(s: SparkSession, d: String): DataFrame =
    memoFrame("cohortRet", s, d)(Gold.cohortRetention(Tables.orders(s, d)))
  /** The shingle token-hash frame both decontamination tiers scan — one
    * corpus shingle pass per session. CORPUS-GRAIN, not bounded: at
    * 100 TB this frame is proportional to the corpus, so the `.cache()`
    * (MEMORY_AND_DISK) degrades to disk rather than fails — acceptable
    * for a two-consumer session, but a real deployment shares it as a
    * persisted shingle INDEX (the dedup_incremental posture), not a
    * cache. Bench's timed shared_build phase charges its full build
    * cost. */
  private[graft] def decontamEx(s: SparkSession, d: String): DataFrame =
    memoFrame("decontamEx", s, d)(Llm.decontamHashes(Tables.documents(s, d)))
  /** The batch sessionization frame event_sessions serves and
    * session_overlaps interval-joins — one two-window pass per
    * session. */
  private[graft] def eventSessionsF(s: SparkSession, d: String): DataFrame =
    memoFrame("eventSessions", s, d)(Serving.eventSessions(Tables.events(s, d)))
  /** The edit-distance-1 candidate pairs typo_pairs serves and
    * typo_clusters closes transitively — one deletion-neighborhood
    * join + levenshtein verify per session. */
  private[graft] def typoPairsF(s: SparkSession, d: String): DataFrame =
    memoFrame("typoPairs", s, d)(Llm.typoPairs(Tables.part(s, d), "p_name"))

  /** The (doc_id, w1, w2, cnt) order-1 sequence frame the collocation
    * and bigram-LM queries share — one corpus zip/explode/aggregate
    * pass per session (see [[Search.docBigrams]]). */
  private[graft] def docBigrams(s: SparkSession, d: String): DataFrame =
    memoFrame("docBigrams", s, d)(Search.docBigrams(Tables.documents(s, d)))
  /** Corpus vocabulary size (distinct tokens) — the bigram LM's V,
    * folded once per (session, dataset) off the shared tf frame. */
  private[graft] def vocabSize(s: SparkSession, d: String): Long =
    Shared.memo(s, ("vocabSize", d))(docTf(s, d).select("word").distinct().count())

  /** The greedy BPE learn loop's (merges, final vocabulary) pair, run
    * ONCE per (session, dataset) — bpe_learn serves the merge table,
    * bpe_tokenize the encode pass over the final vocabulary (the merge
    * table is bounded and learned once; without this memo each query
    * would re-run the 5 collect rounds). The
    * loop's per-round frames are lazily checkpointed RDDs, so the
    * memo holds handles, not a .cache(); Bench's released rebuild is
    * charged to the first pass-1 consumer like every CacheOnce frame. */
  private[graft] def bpeCore(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Shared.memo(s, ("bpe", d))(Llm.bpeLearnCore(docTf(s, d), 5))

  /** Quality-family frames shared by their per-metric queries AND the
    * corpus_filter capstone — one text-stats scan and one 3-gram pass
    * per session. */
  private[graft] def textStatsF(s: SparkSession, d: String): DataFrame =
    memoFrame("textStats", s, d)(Llm.textStats(Tables.documents(s, d)))
  private[graft] def repetitionF(s: SparkSession, d: String): DataFrame =
    memoFrame("repetition", s, d)(Llm.repetitionScore(Tables.documents(s, d)))

  private[graft] def feats(s: SparkSession, d: String): DataFrame =
    // cached: the threshold percentiles force one execution, scoring a
    // second, and three queries share the chain
    memoFrame("feats", s, d)(Gold.clientFeatures(
      Tables.orders(s, d), Tables.lineitem(s, d),
      Gold.referenceDate(Gold.validOrders(Tables.orders(s, d)))))
  private[graft] def scored(s: SparkSession, d: String): DataFrame =
    // consumed by client_scores, segment_summary and top_risk_clients
    memoFrame("scored", s, d) {
      val f = feats(s, d)
      Gold.scoreClients(f, Gold.scoreThresholds(f))
    }
  private[graft] def scoredApprox(s: SparkSession, d: String): DataFrame =
    memoFrame("scoredApprox", s, d) {
      val f = feats(s, d)
      Gold.scoreClients(f, Gold.scoreThresholdsApprox(f))
    }

  /** One deterministic Lloyd's fit serves both kmeans queries (the
    * segments projection and the silhouette score derive from the same
    * cached assignment frame). */
  private[graft] def kmeansAssigned(s: SparkSession, d: String): DataFrame =
    memoFrame("kmeans_fit", s, d)(Ml.kmeansFit(feats(s, d)))

  /** One LR fit serves both propensity queries: the scored-holdout frame
    * and the 1-row backtest metrics frame are built together and memoized
    * under separate keys. */
  private[graft] def propensityPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    lazy val fit = Ml.propensityBacktest(Tables.orders(s, d), Tables.lineitem(s, d))
    (memoFrame("propensity", s, d)(fit._1), memoFrame("propensity_bt", s, d)(fit._2))
  }
}
