package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables (SURVEY §2.10): deduplication (exact, MinHash+LSH,
  * SimHash, exact n-gram Jaccard), similarity search (brute-force cosine
  * top-k + random-hyperplane LSH), and text analysis (stats, quality,
  * language-ID, winnowing fingerprints).
  *
  * Everything is built from codegen'd Spark SQL primitives (higher-order
  * array functions + xxhash64) — no Scala UDFs, no driver-side loops, so
  * every operator distributes: per-document work is embarrassingly
  * parallel, near-dup candidate generation shuffles on compact 64-bit
  * band keys (never raw text), and verification joins touch only
  * hash-bucketed candidates.
  */
object Llm {

  // --------------------------------------------------------------- helpers

  /** CPU-heavy per-row stages need every core: a test-scale single
    * row-group parquet arrives as ONE input partition, which would
    * serialize the whole regex/HOF pipeline on one core. Fan small inputs
    * out to the default parallelism, gated on `graft.spread` (default on —
    * right for test scale; set it false on a real cluster, where the scan
    * already has >= parallelism splits and a 100 TB corpus must never be
    * reshuffled just in case). The gate is a conf read, not a partition
    * probe: the previous `df.rdd.getNumPartitions` check force-compiled a
    * physical plan per invocation just to read a count. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption("graft.spread").forall(_.toBoolean))
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }

  /** explode() over an EXPENSIVE computed array is a trap:
    * InferFiltersFromGenerate adds `size(arr)>0 AND isnotnull(arr)` below
    * the Generate, predicate pushdown inlines the array expression into
    * that filter, and higher-order functions are CodegenFallback — so the
    * whole interpreted pipeline evaluates 3x per row (measured 3x wall
    * time on the shingle pipeline). explode_outer is exempt from the rule;
    * a cheap null-guard on the OUTPUT attribute restores inner semantics
    * for arrays whose elements are never null (all of ours). */
  private def explodeOnce(df: DataFrame, arr: Column, as: String,
      keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(arr).as(as): _*)
      .filter(col(as).isNotNull)

  /** Lower-cased whitespace words. */
  private def words(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct 3-word shingles; docs shorter than 3 words yield none. */
  private def shingles(ws: Column): Column =
    when(size(ws) >= 3,
      array_distinct(transform(sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", slice(ws, i + 1, lit(3))))))
      .otherwise(array().cast("array<string>"))

  // ---------------------------------------------------------- exact dedup

  /** Exact dedup: group on sha2(text) (shuffles a 32-byte key, not the
    * document body), keep the smallest doc_id per group. */
  def dedupExact(documents: DataFrame): DataFrame =
    spread(documents)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")
      .orderBy("doc_id")

  // --------------------------------------------------------- MinHash + LSH

  val MinhashHashes = 16
  val MinhashBands = 4 // 4 bands x 4 rows

  /** doc_id + minhash signature (array of 16 longs) + LSH band keys.
    *
    * One native expression call per document
    * (graft.functions.MinHashSignature): a sketch is row-local work, and
    * the explode → hash → groupBy formulation this replaces shuffled one
    * (doc_id, hash) row per SHINGLE of the corpus — at 100 TB the
    * largest exchange in the dedup pipeline — only to re-unite tokens
    * that were already co-located in the scan. Bit-identical to the
    * composed pipeline (LlmSpec asserts it on the real corpus). */
  def minhashSignatures(documents: DataFrame): DataFrame =
    spread(documents)
      .select(col("doc_id"), graft.functions.Sketches
        .minhash_signature(col("text"), MinhashHashes, MinhashBands).as("mh"))
      .select(col("doc_id"), col("mh.n_shingles").as("n_shingles"),
        col("mh.sig").as("sig"), col("mh.bands").as("bands"))

  /** Candidate near-dup pairs: docs sharing ≥1 LSH band bucket, with the
    * signature-estimated Jaccard. The self-join shuffles on the 64-bit
    * band key only; pair dedup happens on (doc_a, doc_b) before touching
    * signatures (per-doc signatures are unique, so dropDuplicates is
    * deterministic). Caches nothing; the self-join's two sides share
    * the signature aggregation's shuffle output. */
  private[graft] def candidatesFromSignatures(sigs: DataFrame): DataFrame = {
    // join on (band INDEX, band value), exactly the oracle's predicate —
    // the band values are already j-salted, but joining on the value
    // alone would make the parity rest on cross-position 64-bit
    // collisions never occurring rather than on an identical predicate
    val ex = sigs.select(col("doc_id"), col("sig"),
      posexplode(col("bands")).as(Seq("j", "band")))
    val a = ex.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("j"), col("band"))
    val b = ex.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("j"), col("band"))
    a.join(b, Seq("j", "band")).filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v) / lit(MinhashHashes.toDouble))
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Per-document near-dup summary (total rows == #documents, so the
    * result is non-degenerate even with zero near-dups).
    *
    * ONE cached signatures frame is threaded through both consumers (the
    * candidate join and the per-doc summary) — no reliance on the cache
    * manager's canonical-plan matching, and repeated invocations over the
    * same input re-use this single cache entry instead of accumulating
    * new ones. */
  def dedupMinhash(documents: DataFrame): DataFrame = {
    val sigs = CacheOnce(minhashSignatures(documents))
    // the candidate frame feeds the union twice below — cache the small
    // post-dedup pair set so the band join runs once
    val cand = CacheOnce(candidatesFromSignatures(sigs))
    val perDoc = cand.select(col("doc_a").as("doc_id"), col("est_jaccard"))
      .union(cand.select(col("doc_b").as("doc_id"), col("est_jaccard")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
        round(max("est_jaccard"), 4).as("max_est_jaccard"))
    sigs.select("doc_id", "n_shingles")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document + near-dup count via 16-bit band
    * blocking and hamming-distance verification (bit_count(xor)).
    *
    * One native expression call per document (graft.functions.SimHash64)
    * — same zero-shuffle rationale as [[minhashSignatures]]: the
    * explode → 64-bit-sum groupBy it replaces shuffled one row per TOKEN.
    * Bit-identical to the composed pipeline (LlmSpec). */
  def simhashDocs(documents: DataFrame): DataFrame =
    spread(documents).select(col("doc_id"),
      graft.functions.Sketches.simhash64(col("text")).as("simhash"))

  def dedupSimhash(documents: DataFrame, maxHamming: Int = 12): DataFrame = {
    // one cached fingerprint frame feeds both self-join sides and the
    // final per-doc join-back — without it the 64-aggregate fingerprint
    // pass re-runs up to three times (measured 3.4s -> ~2.3s at sf0.1)
    val sh = CacheOnce(simhashDocs(documents))
    // block on 4 x 16-bit bands: any pair within hamming<=12 of 64 bits
    // shares at least one exact band far more often than random pairs
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), j -> " +
        "concat(CAST(j AS STRING), ':', CAST(shiftright(simhash, j * 16) & 65535 AS STRING)))")).as("band"))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"), col("band"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"), col("band"))
    // verified pair set is consumed twice by the per-doc union — cache
    // the small post-hamming frame so the banded join runs once
    val pairsRaw = a.join(b, Seq("band")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
    val pairs = CacheOnce(pairsRaw)
    val perDoc = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    sh.join(perDoc, Seq("doc_id"), "left").na.fill(0L, Seq("n_near"))
      .select("doc_id", "simhash", "n_near")
      .orderBy("doc_id")
  }

  // ------------------------------------------------- exact n-gram Jaccard

  /** Exact 3-gram Jaccard best match per document (dedup_ngram): the
    * highest-Jaccard partner of each `doc_a` in a [[jaccardFromStats]]
    * pair frame. The pair frame is an argument so a session computes it
    * once and feeds every consumer (see the memo in SparkEntry). */
  def bestNgramMatch(jac: DataFrame): DataFrame = {
    // best match per doc via max(struct): (jaccard DESC, doc_b ASC)
    // selection identical to a row_number window, but map-side combine
    // collapses each partition to <= one row per doc_a before the shuffle
    // — no full sort of the pair set
    jac.groupBy("doc_a")
      .agg(max(struct(col("jaccard"), (-col("doc_b")).as("negb"), col("doc_b").as("doc_b"))).as("m"))
      .select(col("doc_a").as("doc_id"), col("m.doc_b").as("best_match"),
        col("m.jaccard").as("jaccard"))
      .orderBy("doc_id")
  }

  /** One row per distinct 3-gram per document: (doc_id, n, h) where n is
    * the doc's TOTAL distinct-shingle count (rides along so Jaccard union
    * sizes never need a lookup join) and h = xxhash64 of the shingle text
    * (the shuffles downstream move 8-byte keys, never text). This is the
    * single text-scan pass behind the whole near-dup family —
    * [[ngramPairStatsFrom]] consumes it and [[dedupIncrementalIndexed]]'s
    * corpus index is written from it, so a session computes it once (at
    * production scale this frame is the persisted shingle INDEX of the
    * corpus). */
  def shingleHashes(documents: DataFrame): DataFrame = {
    val withN = spread(documents)
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), shingles(col("ws")).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"), col("sh"))
    explodeOnce(withN, col("sh"), "shingle", col("doc_id"), col("n"))
      .select(col("doc_id"), col("n"), xxhash64(col("shingle")).as("h"))
  }

  /** Every exact 3-gram Jaccard pair (doc_a < doc_b, jaccard rounded to
    * 6 dp) — the shared candidate-pair frame behind [[bestNgramMatch]]
    * (best match per doc) and [[dedupClustersFrom]] (connected
    * components). A thin select over a [[ngramPairStatsFrom]] frame: pass
    * the memoized stats frame so the pair shuffle is shared with
    * [[containmentPairsFrom]]. */
  def jaccardFromStats(stats: DataFrame): DataFrame =
    stats.select(
      col("doc_a"), col("doc_b"),
      round(col("inter") * 1.0 / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))

  /** Raw pair statistics behind the whole exact n-gram family: one row
    * per candidate pair (doc_a < doc_b) with each side's distinct-shingle
    * count and the intersection size — [[jaccardFromStats]] and
    * [[containmentPairsFrom]] are thin selects over this frame, so a
    * session that memoizes it pays the pair shuffle once for Jaccard,
    * containment, and cluster queries alike.
    *
    * Shuffle discipline (the 100 TB shape):
    *  1. Shingles are joined on xxhash64(shingle) — the shuffle moves
    *     8-byte keys, never shingle text. The DuckDB oracle joins raw
    *     strings; parity rests on 64-bit collisions being absent (at 2^32
    *     distinct shingles the expected collision count is still < 1).
    *  2. Per-doc shingle counts come straight from the distinct-shingle
    *     ARRAY (`size`), not a groupBy — zero extra shuffles and no second
    *     pass over the text.
    *  3. Pair generation groups docs by shingle ONCE (single shuffle) and
    *     expands each sorted doc-id list combinatorially in-task with
    *     array HOFs (sorted ⇒ `doc_a < doc_b` holds by construction).
    *     A df=1 shingle cannot form a pair, so those groups are dropped
    *     before expansion — semantics-preserving (sizes above still count
    *     every shingle), and it prunes the long unique-shingle tail.
    *  4. Zipf safety valve: shingle groups larger than `hotDf` (ubiquitous
    *     n-grams — "of the and" at web scale) skip the in-task expansion
    *     and go through a salted self-join that spreads each hot shingle's
    *     quadratic pair output over `salts` reducers instead of melting
    *     one. Pair (a,b) meets exactly once, at salt = pmod(doc_a, salts).
    *     At test scale max df ≈ 25 so the hot tier is empty; LlmSpec
    *     forces every shingle through it and asserts bit-equality.
    */
  def ngramPairStatsFrom(shingleH: DataFrame, hotDf: Int = 256,
      salts: Int = 32): DataFrame = {
    val sh = shingleH
      .select(struct(col("doc_id"), col("n")).as("doc"), col("h").as("shingle"))
    // struct comparison is lexicographic and doc_id is unique, so
    // sort_array orders by doc_id — pair expansion below yields
    // doc_a < doc_b by construction
    // both tiers (in-task expansion / salted hot join) filter this frame,
    // so without the cache the shingle explode + groupBy — the one big
    // shuffle — runs twice; spills to disk if it outgrows memory
    val groupedRaw = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc"))).as("ds"))
      .filter(size(col("ds")) >= 2) // df=1 prune
    val grouped = CacheOnce(groupedRaw)
    val smallPairs = grouped.filter(size(col("ds")) <= hotDf)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), greatest(size(col("ds")) - i - 1, lit(0))),
          y => struct(x("doc_id").as("doc_a"), x("n").as("na"),
            y("doc_id").as("doc_b"), y("n").as("nb")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.na").as("na"),
        col("p.doc_b").as("doc_b"), col("p.nb").as("nb"))
    val hotRows = grouped.filter(size(col("ds")) > hotDf)
      .select(col("shingle"), explode(col("ds")).as("doc"))
    val hotPairs = hotRows
      .select(col("shingle"), col("doc.doc_id").as("doc_a"), col("doc.n").as("na"),
        pmod(col("doc.doc_id"), lit(salts.toLong)).as("salt"))
      .join(hotRows.select(col("shingle"), col("doc.doc_id").as("doc_b"), col("doc.n").as("nb"))
        .withColumn("salt", explode(sequence(lit(0L), lit(salts.toLong - 1)))),
        Seq("shingle", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "na", "doc_b", "nb")
    smallPairs.union(hotPairs)
      .groupBy("doc_a", "na", "doc_b", "nb").agg(count(lit(1)).as("inter"))
  }

  /** Containment near-dup pairs — the dedup signal Jaccard is blind to:
    * a short document quoted wholesale inside a long one (boilerplate,
    * syndicated articles, license headers) has LOW Jaccard (the union is
    * dominated by the long side) but containment ≈ 1. Broder's
    * containment C(A,B) = |A∩B| / |A| evaluated on the SMALLER side of
    * each candidate pair: `inner_doc` is the contained document,
    * `outer_doc` its container (shingle-count tie → higher doc_id is
    * inner, deterministic). Same pair frame as Jaccard — zero extra
    * passes when the session memoizes [[ngramPairStatsFrom]]. */
  def containmentPairsFrom(stats: DataFrame,
      minContainment: Double = 0.8): DataFrame =
    stats
      .withColumn("containment",
        round(col("inter") * 1.0 / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= minContainment)
      .select(
        when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("inner_doc"),
        when(col("na") < col("nb"), col("doc_b"))
          .when(col("nb") < col("na"), col("doc_a"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("outer_doc"),
        col("containment"))
      .orderBy("inner_doc", "outer_doc")

  /** Prefix-filtering set-similarity self-join — the AllPairs/PPJoin
    * candidate scheme, and the tier that replaces the df-pruned
    * all-pairs expansion once shingle posting lists get long: under a
    * GLOBAL rarity order (df, then hash), two sets with Jaccard ≥ t
    * MUST share a shingle inside each one's first n − ⌈t·n⌉ + 1
    * shingles (if they dodged both prefixes, the intersection would fit
    * in the suffixes, which are too small — the AllPairs prefix lemma).
    * So the candidate join runs on PREFIX rows only — a deterministic
    * fraction (1−t) of each posting list, and crucially the COMMONEST
    * shingles (the expansion's quadratic hot spots) sit at the ends of
    * the order, where they rarely make any prefix. Verification is
    * exact: candidate pairs pull both docs' sorted hash arrays and
    * intersect in-row — per-pair work, no further shuffle. Bit-equal to
    * filtering the all-pairs frame at the same threshold (LlmSpec). */
  def ngramJaccardPrefix(shingleH: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val dfCounts = shingleH.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    // CacheOnce: the prefix frame feeds BOTH sides of the candidate
    // self-join, and exchange reuse cannot unify them (the window/filter
    // output is not an exchange boundary) — without the cache the df
    // aggregation + rarity window run twice (r17 plan: two identical
    // Exchange→Window subtrees)
    val prefix = CacheOnce(shingleH.join(dfCounts, "h")
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <=
        (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int"))
      .select("doc_id", "h"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // CacheOnce: consumed by the doc_a AND doc_b verification joins —
    // without it the collect_list aggregation runs twice
    val sets = CacheOnce(shingleH.groupBy("doc_id", "n")
      .agg(sort_array(collect_list("h")).as("hs")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("hs").as("hb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter") * 1.0 / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup cluster assignment — the keep-one-per-cluster step that
    * follows pairwise candidate generation in a training-data dedup
    * pipeline. Pairs of a [[jaccardFromStats]] frame at `minJaccard`
    * become an undirected graph;
    * [[Graph.connectedComponents]] (large-star/small-star) labels each
    * document with its component's minimum doc_id. Every document is
    * emitted (singletons are their own cluster), with the cluster size —
    * downstream "keep the representative" is then a trivial
    * `doc_id === cluster_id` filter.
    *
    * Scale shape: the component labels come out of an O(log²)-round
    * star contraction whose shuffles carry only 8-byte ids; the final
    * size annotation is one window over cluster_id (near-dup clusters
    * are small by construction, so no partition skew). */
  def dedupClustersFrom(documents: DataFrame, pairs: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val edges = pairs
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comp = Graph.connectedComponents(edges)
    spread(documents).select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** Incremental dedup: check a DELTA of new documents against the
    * already-ingested corpus without re-deduplicating the corpus itself —
    * the only dedup shape that stays affordable on a continuously growing
    * 100 TB store. Documents with `doc_id >= oldDocs` stand in for the
    * delta. Two tiers, both delta-proportional:
    *  - exact: sha2 of the delta left-semi-joined against the corpus hash
    *    index (32-byte keys shuffle, text never does);
    *  - near: the delta's 3-gram hashes join the corpus's (8-byte keys),
    *    intersections aggregate per (new, old) pair, exact Jaccard >= 0.5
    *    counts as a near-dup. Only shingles present in the DELTA travel
    *    into the join, so work scales with the batch, not the corpus
    *    (the hot-shingle salt tier of [[ngramPairStatsFrom]] applies
    *    unchanged if a delta shingle is ubiquitous).
    *
    * The corpus side is a PERSISTED index, never recomputed from corpus
    * text: `corpusExact` is the doc-level sha2 index (column `h`),
    * `corpusShingles` the (doc_id, n, h) [[shingleHashes]] index — both
    * written once at ingest and only read here. The delta query
    * therefore scans documents ONLY above the delta boundary (the doc_id
    * predicate pushes into the scan; PlanShapeSpec gates it). */
  def dedupIncrementalIndexed(documents: DataFrame, corpusExact: DataFrame,
      corpusShingles: DataFrame, oldDocs: Long = 400): DataFrame = {
    val delta = documents.filter(col("doc_id") >= oldDocs)
    val exact = spread(delta).select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(corpusExact.select("h").distinct(), Seq("h"), "left_semi")
      .select("doc_id").withColumn("is_exact_dup", lit(true))
    val inter = shingleHashes(delta)
      .select(col("doc_id").as("new_id"), col("n").as("nn"), col("h"))
      .join(corpusShingles
        .select(col("doc_id").as("old_id"), col("n").as("no"), col("h")), Seq("h"))
      .groupBy("new_id", "old_id", "nn", "no").agg(count(lit(1)).as("inter"))
    val near = inter
      .filter(round(col("inter") * 1.0 / (col("nn") + col("no") - col("inter")), 6) >= 0.5)
      .groupBy(col("new_id").as("doc_id")).agg(count(lit(1)).as("n_near_dups"))
    delta.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .na.fill(false, Seq("is_exact_dup")).na.fill(0L, Seq("n_near_dups"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- decontamination / PII scrub

  /** The (doc_id, shingle token_hash64) frame BOTH decontamination
    * tiers scan — split out so SparkEntry can share one corpus shingle
    * pass between them. */
  def decontamHashes(documents: DataFrame): DataFrame = {
    val base = spread(documents)
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"), shingles(col("ws")).as("sh"))
    explodeOnce(base, col("sh"), "s", col("doc_id"))
      .select(col("doc_id"),
        graft.functions.Sketches.token_hash64(col("s")).as("h"))
  }

  /** Benchmark decontamination over a [[decontamHashes]] frame: flag
    * corpus documents sharing ≥1 distinct 3-gram with the benchmark set
    * (documents with doc_id < `benchDocs` stand in for an eval set). The
    * benchmark shingle set is tiny next to the corpus, so it BROADCASTS:
    * the corpus-side scan joins against it map-side and only per-doc hit
    * counts shuffle — the corpus text never does. The two passes over
    * the shingle pipeline each push their doc_id filter into the scan,
    * so the benchmark pass reads only the benchmark documents.
    *
    * Shingles key on [[graft.functions.Sketches.tokenHash]] (the
    * cross-engine poly31+splitmix64 hash the MinHash/SimHash signatures
    * already use) rather than xxhash64: equality-join semantics are
    * identical for any 64-bit hash, and the restatable hash is what
    * lets the bloom tier's DuckDB oracle re-derive the filter's bit
    * positions from the raw text (and what a production corpus wants
    * anyway — hashes recomputable by a different engine, bit-for-bit). */
  def decontaminateFrom(documents: DataFrame, ex: DataFrame,
      benchDocs: Long = 10): DataFrame = {
    val bench = ex.filter(col("doc_id") < benchDocs).select("h").distinct()
    val hits = ex.filter(col("doc_id") >= benchDocs)
      .join(broadcast(bench), Seq("h"))
      .groupBy("doc_id").agg(countDistinct("h").as("n_contaminated"))
    spread(documents).filter(col("doc_id") >= benchDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("is_contaminated", col("n_contaminated") > 0)
      .orderBy("doc_id")
  }

  /** [[decontaminateFrom]]'s constant-memory scale tier: the exact tier
    * broadcasts the DISTINCT bench-shingle hash set, which is fine while
    * the eval suite is small but unbounded if it isn't. Here the bench
    * shingles fold into a fixed-size bloom filter (Spark's native
    * `BloomFilterAggregate` — built distributed via partial merges, only
    * the final ~100 KB sketch reaches the driver) embedded as a binary
    * literal, and the corpus side probes it map-side with the codegen'd
    * `BloomFilterMightContain` predicate — zero shuffle of corpus data,
    * O(1) memory per executor regardless of bench size. No false
    * negatives by construction (every truly contaminated doc is
    * flagged); false positives only ever OVER-flag at the sketch's fpp —
    * the safe direction for training-set hygiene. The driver-folded
    * literal is the same two-phase shape as the scoring thresholds.
    *
    * Fully oracle-checked (rows+schema+hash), false positives included:
    * shingle keys are the cross-engine tokenHash (see
    * [[decontaminateFrom]]) and Spark's BloomFilter V2 bit placement is
    * a pure function of the 64-bit key and the (numBits,
    * k=round(numBits/n·ln2)) geometry —
    * two chained Murmur3_x86_32 rounds over the key's 32-bit halves,
    * then k probes of (h1·(2³¹−1) + i·h2) with a complement-flip and a
    * mod — all restated in DuckDB wrapping arithmetic, so the oracle
    * re-derives the bench bit set AND each corpus probe bit-for-bit
    * (SketchProps pins the restatement against the real BloomFilter on
    * fuzzed keys, false-positive agreement included). LlmSpec keeps the
    * superset-of-exact + fp-rate-bound gates.
    *
    * The geometry is pinned EXPLICITLY via the 3-arg aggregate
    * constructor: numBits = 8·expectedShingles (524288 for the default
    * 1<<16, already a multiple of 64) → k = round(8·ln2) = 6. The
    * 2-arg `BloomFilterAggregate(child, n)` constructor must NOT be
    * used here: it derives numBits through
    * `BloomFilter.optimalNumOfBits(n, maxNumItems, maxNumBits)` under
    * the session's runtime-bloom-filter conf caps (1039168 bits / k=11
    * for n=65536 under defaults), which would silently diverge from the
    * oracle's restated geometry — members always agree under any
    * geometry, so test-scale hash compares can pass while the
    * false-positive sets diverge at load. SketchProps' geometry case
    * pins the production aggregate's buffer against the oracle's
    * (524288, k=6) restatement. Both values sit far below the default
    * conf caps (4M items / 64M bits), so the aggregate's Math.min
    * clamping is a no-op. */
  def decontaminateBloomFrom(documents: DataFrame, ex: DataFrame,
      benchDocs: Long = 10, expectedShingles: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val bfBytes = ex.filter(col("doc_id") < benchDocs)
      .agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(col("h")),
        Literal(expectedShingles), Literal(8L * expectedShingles))
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = Bridge.column(new BloomFilterMightContain(
      Literal.create(bfBytes, BinaryType), Bridge.expression(col("h"))))
    val hits = ex.filter(col("doc_id") >= benchDocs)
      .filter(mightContain)
      .groupBy("doc_id").agg(countDistinct("h").as("n_flagged"))
    spread(documents).filter(col("doc_id") >= benchDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_flagged"))
      .withColumn("is_flagged", col("n_flagged") > 0)
      .orderBy("doc_id")
  }

  /** PII detection + redaction stats per document: email and NANP-style
    * phone matches counted, plus the length after replacing both with
    * placeholder tags (identical regexes run in the DuckDB oracle —
    * patterns stick to syntax Java regex and RE2 agree on). */
  def piiScrub(documents: DataFrame): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
    spread(documents).select(
      col("doc_id"),
      regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(phone)).cast("long").as("n_phones"),
      length(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
        phone, "<PHONE>")).cast("long").as("scrubbed_len"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ text stats

  /** Per-document stats: counts via regexp_count (identical regexes run in
    * the DuckDB oracle), ratios, and a deterministic quality score. */
  def textStats(documents: DataFrame): DataFrame = {
    val t = col("text")
    spread(documents).select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      regexp_count(t, lit("\\S+")).cast("long").as("n_words"),
      regexp_count(t, lit("[A-Za-z]")).cast("long").as("n_letters"),
      regexp_count(t, lit("[^A-Za-z0-9\\s]")).cast("long").as("n_punct"),
      regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("n_tokens"),
      regexp_count(lower(t), lit("\\b(the|a|an|and|or|of|to|in|is|it)\\b"))
        .cast("long").as("n_stopwords"))
      .withColumn("punct_ratio",
        round(col("n_punct") * 1.0 / greatest(col("n_chars"), lit(1L)), 6))
      .withColumn("stopword_ratio",
        round(col("n_stopwords") * 1.0 / greatest(col("n_words"), lit(1L)), 6))
      .withColumn("avg_word_len",
        round(col("n_letters") * 1.0 / greatest(col("n_words"), lit(1L)), 6))
      // quality in exact integer micro-units (pure long arithmetic with
      // truncating `div`) — a float formula of weighted ratios lands on
      // .0000005 rounding boundaries that flip between engines
      .withColumn("quality_score", expr(
        """(4000 * least(n_words, 100)
          | + least((1500000 * n_stopwords) div greatest(n_words, 1), 300000)
          | + (300000 - least((3000000 * n_punct) div greatest(n_chars, 1), 300000))
          |) / CAST(1000000 AS DOUBLE)""".stripMargin))
      .orderBy("doc_id")
  }

  /** Unigram language-model quality score — the classic cheap LM filter
    * for training corpora (score each document by its mean token
    * log-probability under the corpus's own unigram distribution;
    * gibberish and vocabulary-poor boilerplate sit far from the corpus
    * mode in opposite directions). ln p(w) = ln n(w) − ln N with N a
    * driver-folded scalar, so the per-token term needs only the
    * vocab-grain count join.
    *
    * Scale shape: one explode → (doc, word) tf aggregate (map-side
    * combine), the corpus unigram counts re-aggregate THAT frame at
    * vocab grain, and the score join is tf-grain ⋈ vocab-grain on the
    * word key — postings-shaped, like bm25. The per-doc mean weights
    * each token occurrence (Σ tf·ln p / Σ tf), computed from the tf
    * frame, never re-exploded. 6dp rounding on both engines: the
    * double sum over a document's distinct words is partition-order
    * nondeterministic at ~1e-14, far inside 6dp. */
  def unigramLogProbFrom(tf: DataFrame): DataFrame = {
    val uni = tf.groupBy("word").agg(sum("tf").as("n"))
    // N = Σ_w n(w) = Σ rows tf — fold the driver scalar straight off the
    // (cached) tf frame so the vocab aggregate isn't executed twice
    // (once for the scalar, once inside the score join); both sums are
    // exact longs over the same multiset, bit-identical
    val totalRow = tf.agg(sum("tf")).head()
    // an all-empty corpus has no tokens: no documents to score, not an NPE
    if (totalRow.isNullAt(0))
      return tf.limit(0).select(col("doc_id"),
        lit(0L).as("n_tokens"), lit(0.0).as("avg_logprob"))
    val total = totalRow.getLong(0)
    tf.join(uni, "word")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        round((sum(col("tf") * (log(col("n")) - math.log(total.toDouble))) /
          sum(col("tf"))), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Capstone corpus filter — the production composition of the quality
    * family: every document gets a keep/drop decision with a
    * first-match-wins reason (heuristic quality floor → self-repetition
    * ceiling → unigram-LM band), the shape a training-data pipeline
    * actually materializes before sampling. Each component is its own
    * audited operator ([[textStats]], [[repetitionScore]],
    * [[unigramLogProbFrom]]); this joins their doc-grain outputs — three
    * doc-keyed frames, so the joins are dimension-sized, and the LM
    * score arrives via the shared term-frequency frame. A document the
    * LM never saw (no tokens) fails the LM band, not the job. The
    * component frames are arguments (what SparkEntry feeds from its
    * shared memos — the stats scan and the 3-gram pass then run once per
    * session across all their consumers). */
  def corpusFilterFrom(stats: DataFrame, repetition: DataFrame,
      logProb: DataFrame, minQuality: Double = 0.5, maxRepeat: Double = 0.05,
      minLogProb: Double = -3.6): DataFrame = {
    val q = stats.select("doc_id", "quality_score")
    val r = repetition.select("doc_id", "repeat_frac")
    val l = logProb.select("doc_id", "avg_logprob")
    val reason =
      when(col("quality_score") < minQuality, "low_quality")
        .when(col("repeat_frac") > maxRepeat, "repetitive")
        .when(col("avg_logprob").isNull || col("avg_logprob") < minLogProb,
          "unusual_lm")
        .otherwise("keep")
    q.join(r, Seq("doc_id")).join(l, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_score"), col("repeat_frac"),
        col("avg_logprob"), reason.as("reason"))
      .withColumn("keep", (col("reason") === "keep").cast("long"))
      .orderBy("doc_id")
  }

  /** Self-repetition score — the standard degenerate-text filter in
    * training-data pipelines (machine-generated or boilerplate text
    * repeats its own n-grams). Per document: total / distinct 3-gram
    * counts, the hottest 3-gram's count, and the repeated fraction
    * 1 - distinct/total.
    *
    * Shape: explode → hash once → count by (doc_id, hash) → per-doc agg —
    * the documented safe alternative to nested HOF counting (which
    * CollapseProject re-evaluates per reference). Both shuffles carry
    * (8-byte id, 8-byte hash) keys; docs under 3 words come back through
    * the left join with zero counts. */
  def repetitionScore(documents: DataFrame): DataFrame = {
    val base = spread(documents)
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(3)))).as("sh"))
    val counts = explodeOnce(base, col("sh"), "s", col("doc_id"))
      .groupBy(col("doc_id"), xxhash64(col("s")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_ngrams"), count(lit(1)).as("n_distinct"),
        max("c").as("max_repeat"))
    spread(documents).select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_ngrams", "n_distinct", "max_repeat"))
      .withColumn("repeat_frac",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct") * 1.0 / col("n_ngrams"), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Heuristic language ID from per-language stopword regex hits + a CJK
    * class check; deterministic tie-break order. */
  def langId(documents: DataFrame): DataFrame = {
    val lt = lower(col("text"))
    spread(documents).select(
      col("doc_id"), col("lang"),
      regexp_count(lt, lit("\\b(the|and|of|is|in|to)\\b")).cast("long").as("en_hits"),
      regexp_count(lt, lit("\\b(le|la|les|et|des|une)\\b")).cast("long").as("fr_hits"),
      regexp_count(lt, lit("\\b(der|die|und|das|ist|ein)\\b")).cast("long").as("de_hits"),
      regexp_count(lt, lit("\\b(el|los|que|una|es)\\b")).cast("long").as("es_hits"),
      regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long").as("zh_hits"))
      .withColumn("lang_pred",
        when(col("zh_hits") > 0, "zh")
          .when(col("fr_hits") > col("en_hits") && col("fr_hits") >= col("de_hits")
            && col("fr_hits") >= col("es_hits"), "fr")
          .when(col("de_hits") > col("en_hits") && col("de_hits") >= col("es_hits"), "de")
          .when(col("es_hits") > col("en_hits"), "es")
          .otherwise("en"))
      .withColumn("is_correct", (col("lang_pred") === col("lang")).cast("boolean"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: top-k word unigrams by total count and document
    * frequency — at 100 TB the same plan with a count threshold is how
    * stopword/spam-token lists get built. Reads a [[Search.docTermFreq]]
    * frame: n = Σ tf and docs = row count per word at the (doc, word)
    * grain, so the corpus explode is the session-shared tf pass and the
    * distinct-doc count collapses to a plain row count (the tf frame is
    * already distinct on (doc, word) by construction). */
  def vocabTopFrom(tf: DataFrame, k: Int = 50): DataFrame =
    tf.groupBy("word")
      .agg(sum("tf").as("n"), count(lit(1)).as("docs"))
      .orderBy(desc("n"), col("word"))
      .limit(k)

  /** First BPE merge round: adjacent character-pair frequencies over the
    * corpus, each word's pairs weighted by the word's total occurrence
    * count — the statistic a byte-pair-encoding tokenizer build computes
    * to pick its next merge.
    *
    * Scale shape: the corpus-sized pass is the shared (doc, word, tf)
    * frame ([[Search.docTermFreq]], memoized by SparkEntry); this
    * operator re-aggregates it to the VOCABULARY grain first and only
    * then explodes characters — pair expansion runs over |vocab| rows,
    * not over 100 TB of text. That vocab-not-corpus pivot is what makes
    * iterated merge rounds feasible at scale: each round is a window
    * over the (word, n) frame, never a re-scan.
    * [[bpeLearnCore]] iterates this statistic into an actual merge
    * table; LlmSpec pins both semantics on literal data. */
  def bpePairsFrom(tf: DataFrame, k: Int = 50): DataFrame =
    explodeOnce(tf.groupBy("word").agg(sum("tf").as("n")),
      // sequence(1, len-1) with len<2 would run DESCENDING (Spark defaults
      // step to -1 when start > stop) — guard 1-char words to an empty array
      expr("""CASE WHEN char_length(word) < 2 THEN CAST(array() AS ARRAY<STRING>)
             |ELSE transform(sequence(1, char_length(word) - 1),
             |               i -> substring(word, i, 2)) END""".stripMargin),
      "pair", col("n"))
      .groupBy("pair")
      .agg(sum("n").as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(k)

  /** Iterated BPE merge learning — `rounds` greedy merge picks, the loop
    * a tokenizer build actually runs. Each round: count adjacent symbol
    * pairs over the weighted vocabulary (zip_with over the symbol
    * arrays), pick the global top pair (count desc, then lexicographic —
    * deterministic under ties), rewrite every word's symbol array with a
    * left-to-right non-overlapping `aggregate` fold ("aaa" under (a,a)
    * → ["aa","a"], the standard greedy semantics), repeat.
    *
    * The per-round driver hop is ONE row (the winning pair — the same
    * scalar-to-driver shape as the global-max A4 pattern); everything
    * else stays distributed at VOCABULARY grain, so 100 TB of corpus
    * costs exactly one (doc, word, tf) pass up front and nothing per
    * round. The merge rewrite is built with Column lambdas, not
    * interpolated SQL text — corpus tokens containing quotes can't
    * break the expression. Rows-only gate (DuckDB has no fold to state
    * the rewrite); LlmSpec hand-computes the merge table on literal
    * words.
    *
    * Returns the learned merges AND the post-merge symbol vocabulary
    * (syms, n), which [[bpeTokenizeFrom]] consumes, so SparkEntry runs
    * the greedy loop ONCE per (session, dataset) for bpe_learn and
    * bpe_tokenize together: the merge table is bounded and learned once,
    * and the encode pass reuses it instead of re-running the collect
    * rounds. */
  private[graft] def bpeLearnCore(tf: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val session = tf.sparkSession
    import session.implicits._
    var vocab = tf.groupBy("word").agg(sum("tf").as("n"))
      .select(expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")
        .as("syms"), col("n"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = vocab
        .select(explode(when(size(col("syms")) >= 2,
          zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            expr("slice(syms, 2, size(syms) - 1)"),
            (a, b) => struct(a.as("x"), b.as("y"))))
          .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("p"),
          col("n"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("n").as("n"))
        .orderBy(desc("n"), col("x"), col("y"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (x, y, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, x, y, n))
        vocab = vocab.select(aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(x) && s === lit(y),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
            .otherwise(concat(acc, array(s)))).as("syms"), col("n"))
          // each round's plan stacks a fold on the last; sever the
          // lineage so round k doesn't re-run rounds 1..k-1's rewrites.
          // LAZY: the rewrite materializes inside the NEXT round's
          // top-pair collect (one job per round instead of rewrite job +
          // collect job), and the FINAL round's rewrite — which the
          // merges output never reads — is never executed at all;
          // bpeTokenizeFrom's explode still materializes it
          .localCheckpoint(false)
        r += 1
      }
    }
    (merges.toSeq.toDF("round", "x", "y", "n").orderBy("round"), vocab)
  }

  /** Apply the learned merge table to the corpus — the tokenizer's
    * encode pass closing the pairs → learn → APPLY loop: token counts
    * under the merged vocabulary, weighted by word frequency. Runs at
    * vocabulary grain like the rest of the family (the corpus was
    * scanned once into the shared tf frame; at serving time the same
    * merge table applies to unseen text by the identical fold). Reads
    * the post-merge vocabulary, the second half of [[bpeLearnCore]]'s
    * pair. Rows-only + LlmSpec hand-computed token table. */
  def bpeTokenizeFrom(vocab: DataFrame, k: Int = 30): DataFrame =
    vocab.select(explode(col("syms")).as("token"), col("n"))
      .groupBy("token")
      .agg(sum("n").as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(k)

  /** [[vocabTopFrom]]'s bounded-memory scale tier. The exact form's
    * hazard at corpus scale is not the shuffle (partial aggregation
    * bounds that to |vocab per partition|) but the partial-aggregation
    * HASH MAP itself: a web-scale token vocabulary (hundreds of millions
    * of distinct tokens, most of them noise) spills every aggregation
    * task. This tier caps memory at `m` counters per partition with a
    * Misra-Gries summary, unions the surviving candidates (≤ partitions
    * × m rows, usually ≪), then recounts EXACTLY only the candidate
    * tokens — the broadcast semi-join filters the token stream map-side,
    * so the aggregation map and shuffle hold candidate tokens only.
    *
    * The Misra-Gries guarantee (every token with global count > N/(m+1)
    * survives in at least one partition summary) makes the final top-k
    * EXACT — hash-checked against the same oracle as [[vocabTopFrom]] —
    * whenever the true k-th count exceeds N/(m+1); with a Zipf-shaped
    * vocabulary and m ≫ k that precondition holds by orders of
    * magnitude (LlmSpec pins the guarantee itself on adversarial literal
    * data with m = 3).
    *
    * The RECOUNT side reads a [[Search.docTermFreq]] frame: the
    * Misra-Gries candidate pass still reads the raw token stream (the
    * summary is defined over occurrences), but the exact recount —
    * per-candidate n and docs — is grain-invariant, so it re-aggregates
    * the (doc, word, tf) frame instead of joining candidates against
    * every token occurrence: the broadcast recount join probes
    * |doc×word| rows, not |tokens|, and SparkEntry feeds the
    * session-shared tf frame. */
  def vocabTopApproxFrom(documents: DataFrame, tf: DataFrame,
      k: Int = 50, m: Int = 4096): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = explodeOnce(spread(documents), words(col("text")), "word", col("doc_id"))
      .filter(col("word") =!= "")
    val candidates = toks.select("word").as[String]
      .mapPartitions(it => misraGries(it, m))
      .toDF("word").distinct()
    tf.join(broadcast(candidates), Seq("word"))
      .groupBy("word")
      .agg(sum("tf").as("n"), count(lit(1)).as("docs"))
      .orderBy(desc("n"), col("word"))
      .limit(k)
  }

  /** Edit-distance-1 string similarity join (typo mining / catalog
    * normalization — misspelled variants of the same product attribute).
    * All-pairs levenshtein over a vocabulary is O(V²); the
    * deletion-neighborhood trick (the SymSpell family, public domain)
    * makes it join-shaped: two strings within edit distance 1 ALWAYS
    * share a member of {s} ∪ {s minus one char} — substitution shares a
    * same-position deletion, insertion/deletion contains the shorter
    * string itself, equality is trivial. Candidates come from an
    * equi-join on variant strings (shuffle bounded by vocab × avg-length,
    * never V²), then exact `levenshtein` verification kills the
    * neighborhood's false positives (e.g. transpositions: "ab"/"ba"
    * share deletions but sit at distance 2). Same candidates-then-verify
    * discipline as every dedup tier; PlanShapeSpec pins the no-cartesian
    * shape. */
  def typoPairs(df: DataFrame, textCol: String, minLen: Int = 3): DataFrame = {
    val vocab = explodeOnce(spread(df), words(col(textCol)), "word")
      .filter(length(col("word")) >= minLen).distinct()
    val dels = transform(sequence(lit(1), length(col("word"))),
      i => concat(col("word").substr(lit(1), i - 1),
        col("word").substr(i + 1, length(col("word")))))
    // CacheOnce: both sides of the candidate self-join consume the
    // variant frame — without the cache the vocab distinct + deletion
    // explode run twice (r17)
    val variants = CacheOnce(vocab.select(col("word"),
      explode(array_union(array(col("word")), dels)).as("v")))
    variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.word") < col("b.word"))
      .select(col("a.word").as("w1"), col("b.word").as("w2"))
      .distinct()
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
      .filter(col("dist") <= 1)
      .orderBy("w1", "w2")
  }

  /** Entity-resolution clusters over the [[typoPairs]] candidate graph:
    * words within edit distance 1 of each other collapse into one
    * cluster, labeled by the cluster's alphabetically-smallest member —
    * the blocking→verify→transitive-closure pipeline of record linkage,
    * run here at vocabulary grain. Components come from the same
    * alternating-star machinery as [[dedupClustersFrom]], operating
    * DIRECTLY on string nodes (no id-assignment pass — see
    * [[Graph.connectedComponentsBy]]); the size window keys on the
    * cluster label, never a global order. Only edge-participating words
    * appear: a word with no ≤1-distance neighbor is its own trivial
    * cluster and is left implicit. The pair frame is an argument so
    * SparkEntry shares one candidates-then-verify pass between
    * typo_pairs and this transitive closure. */
  def typoClustersFrom(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("w1").as("a"), col("w2").as("b"))
    Graph.connectedComponentsBy(edges)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("node").as("word"), col("component").as("cluster_rep"),
        col("cluster_size"))
      .orderBy("cluster_rep", "word")
  }

  /** C4-style duplicated-span removal producing a CLEANED corpus: each
    * document splits into consecutive `span`-word blocks (the stand-in
    * for C4's three-sentence spans — this corpus has no sentence
    * boundaries), a block occurring anywhere else in the corpus keeps
    * ONLY its first occurrence in (doc_id, block) order, and every
    * document is re-assembled from its surviving blocks. This is the
    * transforming sibling of the scoring-only dedup tiers: the output
    * IS the cleaned text, plus the per-doc block accounting.
    *
    * Scale shape: block assembly is in-array (slice/concat per doc, no
    * explode-shuffle until block grain); the keep-first winner is a
    * row_number window PARTITIONED BY the block text — each partition
    * is one block's occurrence list, bounded by its duplication count,
    * never the corpus; re-assembly is one doc-grain aggregation whose
    * order key is the in-doc block index (array_sort on the collected
    * (blk, text) structs — collect_list order is partition-
    * nondeterministic, the sort restores it). At 100 TB the window key
    * would be a 128-bit block hash so only winners carry text; the
    * exact-text key here is what lets the DuckDB oracle replay the
    * query verbatim. */
  def spanDedup(documents: DataFrame, span: Int = 8): DataFrame = {
    val ws = split(lower(col("text")), "\\s+")
    val base = spread(documents).select(col("doc_id"), ws.as("ws"),
      size(ws).cast("long").as("n"))
    val blocks = base
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L),
          ceil(col("n") / lit(span.toDouble)).cast("long") - 1)).as("blk"))
      .select(col("doc_id"), col("blk"),
        concat_ws(" ", slice(col("ws"),
          (col("blk") * span + 1).cast("int"), lit(span))).as("block_text"))
    val firstWins = Window.partitionBy("block_text").orderBy("doc_id", "blk")
    blocks
      .withColumn("rk", row_number().over(firstWins))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rk") === 1,
            struct(col("blk"), col("block_text"))))),
          s => s.getField("block_text")), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Misra-Gries frequent-items summary over one partition: at most `m`
    * counters; on overflow every counter is decremented and zeros are
    * evicted. Any item with partition frequency > n_p/(m+1) is guaranteed
    * to survive — the union over partitions therefore contains every item
    * with global frequency > N/(m+1). Emits surviving keys only (counts
    * are lower bounds; the caller recounts exactly). */
  private[graft] def misraGries(it: Iterator[String], m: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      counts.get(w) match {
        case Some(c) => counts(w) = c + 1
        case None if counts.size < m => counts(w) = 1L
        case None =>
          counts.mapValuesInPlace((_, c) => c - 1)
          counts.filterInPlace((_, c) => c > 0)
      }
    }
    counts.keysIterator
  }

  /** Winnowing document fingerprints: 8-char shingle rolling hashes,
    * window-4 minima, distinct. Explode positions → hash once per shingle
    * → sliding minimum as a window function (a nested array formulation
    * re-evaluates the hash array per window: O(n²) per doc). */
  def docFingerprint(documents: DataFrame): DataFrame = {
    // one native expression per document, zero shuffle — the composed
    // explode + doc-partitioned sliding window moved ~one row per
    // character position through an exchange (10M rows at sf0.1) just to
    // re-co-locate rows the generator emitted together; see
    // graft.functions.WinnowFingerprints (bit-identical, LlmSpec)
    spread(documents).filter(length(col("text")) >= 11) // k=8 + w=4 - 1
      .select(col("doc_id"),
        graft.functions.Winnow.winnow_fingerprints(col("text")).as("fp"))
      .select(col("doc_id"), col("fp.n_fingerprints").as("n_fingerprints"),
        col("fp.min_fp").as("min_fp"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- similarity search

  /** Hot-path cosine: fused codegen'd loop (graft.functions.CosineSimilarity)
    * — same accumulation order as the built-in HOF composition (LlmSpec
    * checks the two bit-identical), ~one array traversal instead of three
    * interpreted folds. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  /** Brute-force cosine top-k: every probe scored against every vector.
    * Correctness baseline — O(P·N); the scale path is [[knnLsh]].
    * Ranking uses the 6dp-rounded similarity (bit-stable across engines)
    * with vec_id tie-break. */
  def knnBruteforce(embeddings: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    val e = spread(embeddings)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", round(cosine(col("pemb"), col("emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  /** Deterministic ±1 hyperplane components via splitmix64 — the same
    * derivation graft.functions.LshSign evaluates per element; kept as
    * the driver-folded reference the equivalence spec compares against. */
  private[graft] def hyperplanes(nPlanes: Int, maxDim: Int): Seq[Seq[Double]] = {
    def splitmix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until nPlanes).map(j => (0 until maxDim).map(kk =>
      if ((splitmix(j.toLong * 4096 + kk) & 1L) == 1L) 1.0 else -1.0))
  }

  /** knnBruteforce with a typed top-k Aggregator instead of the
    * row_number window: partial aggregation keeps k candidates per map
    * task and merges — no per-probe full sort, the selection contract is
    * identical (oracle-checked against the same SQL). */
  def knnTopkAgg(embeddings: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopKNeighbors}
    val e = spread(embeddings)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    val pairs = probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("pemb"), col("emb")), 6).as("sim"))
      .as[(Long, Long, Double)]
    pairs.groupByKey(_._1)
      .mapValues(t => Scored(t._2, t._3))
      .agg(new TopKNeighbors(k).toColumn.name("top"))
      .flatMap { case (p, ns) =>
        ns.iterator.zipWithIndex.map { case (n, i) => (p, n.id, (i + 1).toLong, n.sim) }
      }
      .toDF("probe_id", "neighbor_id", "rank", "sim")
      .orderBy("probe_id", "rank")
  }

  /** Multi-table random-hyperplane LSH ANN (the 100 TB path, classic
    * sign-LSH with OR-amplification): `nTables` independent tables of
    * `nPlanes` deterministic ±1 hyperplanes each; a vector lands in one
    * bucket per table, candidates are the union over tables of the
    * probe's bucket-mates, deduped by id before scoring. Recall is
    * 1-(1-p^b)^L for per-bit collision p = 1-θ/π — tune (b, L) to the
    * corpus's neighbor angle; the defaults clear the 0.8 recall@5 floor
    * LlmSpec measures against [[knnBruteforce]] even on the synthetic
    * near-uniform test vectors (θ≈72°), the worst case for sign-LSH.
    * On a real near-dup corpus (θ small) the same (4,16) scans a tiny
    * corpus fraction.
    *
    * Scale shape: candidate generation joins on small (table, bucket)
    * ints and the dedup shuffles 16-byte id pairs, not embeddings —
    * vectors are re-attached by id join only for the surviving
    * candidates. Never all-pairs. */
  /** One (vec_id, tbl, bucket) row per vector per LSH table, via the
    * native graft.functions.LshBuckets expression: all nPlanes·nTables
    * sign dots in one pass inside the scan. Bucket assignment is
    * row-local — the posexplode → groupBy formulation this replaces
    * shuffled one row per embedding DIMENSION only to reassemble values
    * the scan already held together (same rationale as the minhash /
    * simhash / winnow expressions; bit-equivalence asserted in LlmSpec).
    * posexplode_outer + null filter for the same InferFiltersFromGenerate
    * reason as explodeOnce. */
  private[graft] def lshTableBuckets(emb: DataFrame, nPlanes: Int,
      nTables: Int): DataFrame =
    emb.select(col("vec_id"),
      posexplode_outer(graft.functions.LshSign.lsh_buckets(
        col("embedding").cast("array<double>"), nPlanes, nTables)))
      .filter(col("col").isNotNull)
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))

  def knnLsh(embeddings: DataFrame, nProbes: Int = 10, k: Int = 5,
      nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    val emb = spread(embeddings)
    // the bucket frame is (vec_id, tbl, bucket) — nTables ints per vector,
    // tiny next to the embeddings — and feeds BOTH sides of the candidate
    // join; cache it so the posexplode + nBits-aggregate signature pass
    // runs once
    val buckets = CacheOnce(lshTableBuckets(emb, nPlanes, nTables))
    val probeBuckets = buckets.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("tbl"), col("bucket"))
    // union of bucket-mates over tables, deduped on bare ids
    val candidates = probeBuckets.join(buckets, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    candidates
      .join(e.select(col("vec_id").as("probe_id"), col("emb").as("pemb")), Seq("probe_id"))
      .join(e, Seq("vec_id"))
      .withColumn("sim", round(cosine(col("pemb"), col("emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Per-vector summary of near-duplicate flags from a (vec_a, vec_b,
    * sim) pair frame: every vector keeps a row (n_near 0, max_cos null
    * when nothing is close). */
  private def nearDupSummary(e: DataFrame, pairs: DataFrame): DataFrame = {
    // the union below consumes the pair frame twice; without the cache the
    // whole pair-generation subtree (for the exact tier, the O(N²) cosine
    // pass) re-runs per branch
    val cached = CacheOnce(pairs)
    val perVec = cached.select(col("vec_a").as("vec_id"), col("sim"))
      .union(cached.select(col("vec_b").as("vec_id"), col("sim")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_near"), max("sim").as("max_cos"))
    e.select("vec_id").join(perVec, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_near"))
      .orderBy("vec_id")
  }

  /** Exact embedding-cosine near-dup (the fifth dedup tier next to
    * exact/minhash/simhash/ngram): all pairs with rounded cosine ≥
    * threshold, summarized per vector. O(N²) correctness baseline —
    * oracle-checked against DuckDB's list_cosine_similarity with the
    * same 6dp rounding; the scale path is [[dedupEmbeddingLsh]]. */
  def dedupEmbedding(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val e = spread(embeddings)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val pairs = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"))
      .crossJoin(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("sim") >= threshold)
    nearDupSummary(e, pairs)
  }

  /** LSH-bucketed embedding near-dup (the 100 TB path): candidate pairs
    * come from the same multi-table sign-LSH as [[knnLsh]] — two vectors
    * are compared only if they share a bucket in ≥1 table — so candidate
    * generation is never all-pairs and the bucket join shuffles small
    * (table, bucket) ints; embeddings are re-attached by id only for the
    * surviving candidate pairs. Approximate (a pair can miss every
    * table): rows-only gated, with a measured pair-recall floor vs
    * [[dedupEmbedding]] in LlmSpec. */
  def dedupEmbeddingLsh(embeddings: DataFrame, threshold: Double = 0.35,
      nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    val emb = spread(embeddings)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // same cache rationale as knnLsh: one signature pass, two consumers
    val buckets = CacheOnce(lshTableBuckets(emb, nPlanes, nTables))
    val cand = buckets.select(col("vec_id").as("vec_a"), col("tbl"), col("bucket"))
      .join(buckets.select(col("vec_id").as("vec_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val pairs = cand
      .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), Seq("vec_b"))
      .withColumn("sim", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("sim") >= threshold)
    nearDupSummary(e, pairs)
  }
}
