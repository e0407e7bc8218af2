package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data preparation operators: deterministic sampling / data
  * mixing, train/val/test splitting, and token-window chunking. These are
  * the steps between a deduplicated corpus and a tokenizer:
  * down/up-weight sources to a target mix, carve out held-out splits, and
  * cut documents into fixed-token training windows.
  *
  * All three are STATELESS map-side transforms (the only shuffles are the
  * split-count aggregation and the final presentation sorts): at 100 TB
  * they stream through the scan with predicate/projection pushdown intact,
  * and re-running them yields byte-identical output — sampling decisions
  * ride on an arithmetic hash of the row id, never on `rand()`, partition
  * layout, or row order.
  */
object Prep {

  /** 2^32 / golden ratio — Knuth's multiplicative hashing constant. */
  val KnuthC = 2654435761L
  private val M32 = 4294967296L

  /** Deterministic percentile bucket in [0, 100): the HIGH bits of a
    * Knuth multiplicative hash of (id + seed). High bits, not `% 100` —
    * multiplication mod 2^32 leaves the low k bits a function of the low
    * k bits of the id alone, so a `% 100` bucket would stripe with dense
    * sequential ids; `floor(h * 100 / 2^32)` mixes every input bit.
    * Plain integer arithmetic (not xxhash64) so the DuckDB oracle can
    * reproduce it bit-for-bit. Exact while (id + seed) * C < 2^63, i.e.
    * ids below ~3.4e9 — beyond that, widen to two 32-bit halves. */
  private[graft] def hashPct(id: Column, seed: Long): Column =
    floor(pmod((id + lit(seed)) * lit(KnuthC), lit(M32)) * lit(100L)
      / lit(M32)).cast("long")

  /** Temperature-weighted domain-mixing plan: per-source sampling shares
    * ∝ n^α (α &lt; 1 up-weights small domains — the multilingual/domain
    * rebalancing rule from the mT5/XLM-R line of work), plus the keep
    * rate that hits a `budget`-document target. This PLANS the mix;
    * [[sampleMix]] executes it row-wise. One source-grain aggregate —
    * the share normalization runs over the |sources| frame on a global
    * window, never the corpus. Doubles survive cross-engine hashing
    * because both sides round the same pow/ratio shapes to 6dp. */
  def sampleTemperature(documents: DataFrame, alpha: Double = 0.7,
      budget: Long = 1000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", pow(col("n_docs"), lit(alpha)))
      .withColumn("share", round(col("weight") / sum("weight").over(w), 6))
      .withColumn("keep_rate",
        round(least(lit(1.0), lit(budget) * col("share") / col("n_docs")), 6))
      .withColumn("weight", round(col("weight"), 6))
      .orderBy("source")
  }

  /** Fractional-granularity hash in [0, 1e6) ppm — [[hashPct]]'s shape
    * with 10⁴× finer buckets, for rates that aren't whole percents. */
  private[graft] def hashPpm(id: Column, seed: Long): Column =
    floor(pmod((id + lit(seed)) * lit(KnuthC), lit(M32)) * lit(1000000L)
      / lit(M32)).cast("long")

  /** EXECUTE the [[sampleTemperature]] plan — the sampling capstone:
    * plan rates land on the corpus via a broadcast join on `source`
    * (the plan is |sources| rows by construction — always broadcastable,
    * at any corpus size), and each row keeps iff its ppm hash falls
    * under its source's keep rate. The 6dp rate converts to an exact
    * integer ppm threshold, so the float never meets the comparison.
    * Output at source grain: planned rate vs realized keep. */
  def sampleMixTemperature(documents: DataFrame, alpha: Double = 0.7,
      budget: Long = 1000L, seed: Long = 23L): DataFrame = {
    val plan = sampleTemperature(documents, alpha, budget)
      .select(col("source"), col("keep_rate"),
        round(col("keep_rate") * 1000000).cast("long").as("keep_ppm"))
    documents.select(col("doc_id"), col("source"))
      .join(broadcast(plan), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(hashPpm(col("doc_id"), seed) < col("keep_ppm"), 1L)
          .otherwise(0L)).as("n_kept"),
        min("keep_rate").as("keep_rate"))
      .orderBy("source")
  }

  /** Source-stratified sampling to a target mix: keep a row iff its hash
    * percentile falls under its source's rate (percent, 0-100). The
    * decision is per-row arithmetic — no shuffle, no state, and adding a
    * source to `rates` doesn't re-roll any other source's sample. */
  def sampleMix(documents: DataFrame, rates: Map[String, Int],
      defaultPct: Int, seed: Long = 7L): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"),
        hashPct(col("doc_id"), seed).as("pct"))
      .filter(col("pct") < rate)
      .orderBy("doc_id")
  }

  /** Deterministic negative sampling for contrastive training pairs:
    * every document draws `k` pseudo-random OTHER documents as
    * negatives. The draw is pure per-row arithmetic — a Knuth hash of
    * (doc_id·31 + rank + seed) reduced by the HIGH-bits trick to
    * r ∈ [0, N−2], then the classic skip-self map (r ≥ id → r+1) makes
    * it uniform over all ids ≠ id with no rejection loop. Map-side
    * generation; the single shuffle is the join that annotates each
    * negative with its source (`same_source` — the flag curation uses
    * to prefer cross-source negatives). Seed 29: independent of every
    * other sampling decision per the suite's distinct-seed convention.
    *
    * PRECONDITION (enforced): doc_ids must be exactly the dense range
    * 0..N−1 — both the uniformity of the skip-self map and the
    * losslessness of the annotating join depend on every value in
    * [0, N−1] existing as an id. With gapped ids the inner join would
    * silently DROP drawn negatives that hit a gap (fewer than k rows
    * per doc, and an oracle replaying the same arithmetic could not
    * catch it), so sparse inputs fail loudly here instead; remap such
    * ids to a dense rank before calling. The check shares the one
    * driver aggregate the count already pays. */
  def negativeSamples(documents: DataFrame, k: Int = 3,
      seed: Long = 29L): DataFrame = {
    val stats =
      documents.agg(countDistinct("doc_id"), min("doc_id"), max("doc_id")).head()
    val n = stats.getLong(0)
    // n >= 2 first: on an empty frame min/max are NULL and must not be
    // touched; Number.longValue tolerates an integer-typed id column
    require(n >= 2, "need at least two documents to draw negatives")
    val minId = stats.getAs[Number](1).longValue
    val maxId = stats.getAs[Number](2).longValue
    require(minId == 0L && maxId == n - 1,
      s"negativeSamples requires dense doc_ids 0..${n - 1}; " +
        s"got min=$minId max=$maxId over $n distinct ids — remap to a dense rank first")
    val base = documents.select(col("doc_id"), col("source"))
    base.select(col("doc_id"), col("source").as("src_a"))
      .withColumn("neg_rank", explode(sequence(lit(1), lit(k))))
      .withColumn("r", floor(
        pmod((col("doc_id") * 31 + col("neg_rank") + lit(seed)) * lit(KnuthC),
          lit(M32)) * lit(n - 1) / lit(M32)).cast("long"))
      .withColumn("neg_id",
        when(col("r") >= col("doc_id"), col("r") + 1).otherwise(col("r")))
      .join(base.select(col("doc_id").as("neg_id"),
        col("source").as("src_b")), Seq("neg_id"))
      .select(col("doc_id"), col("neg_rank").cast("long").as("neg_rank"),
        col("neg_id"), (col("src_a") === col("src_b")).as("same_source"))
      .orderBy("doc_id", "neg_rank")
  }

  /** Weighted priority sampling (Efraimidis–Spirakis A-ES): top-k
    * documents by priority u^(1/w) with u a deterministic per-doc
    * uniform from the Knuth hash and w = n_chars — "sample long
    * documents proportionally more", the weighted companion to
    * [[sampleMix]]'s uniform rates. A-ES is THE distributed weighted
    * sampler: priorities are map-side pure functions of (id, weight),
    * so the sample is a global top-k (TakeOrderedAndProject — no
    * shuffle of the corpus, no sequential pass), reproducible across
    * engines and re-runs, and mergeable across partitions by
    * construction. Priorities round to 9 dp with a doc_id tie-break
    * (the suite's transcendental-score convention — pow is within
    * 1 ulp across engines, far inside 9 dp). Seed 13 — distinct from
    * [[sampleMix]]'s 7 and [[splitAssign]]'s 11, keeping the suite's
    * convention that each sampling decision draws an independent
    * uniform (seed 7 here would make a doc's priority draw perfectly
    * correlated with its mix draw). */
  def samplePriority(documents: DataFrame, k: Int = 100,
      seed: Long = 13L): DataFrame = {
    val u = (hashPpm(col("doc_id"), seed) + lit(0.5)) / lit(1000000.0)
    // zero-length doc ⇒ weight 0 ⇒ A-Res priority 0 (never sampled) —
    // the u^(1/0) exponent would THROW under ANSI mode, and empty
    // documents are routine in a raw 100 TB crawl
    documents.select(col("doc_id"), col("source"), col("n_chars"),
        when(col("n_chars") > 0, round(pow(u, lit(1.0) / col("n_chars")), 9))
          .otherwise(lit(0.0)).as("priority"))
      .orderBy(desc("priority"), col("doc_id"))
      .limit(k)
  }

  /** Per-source train/val/test counts under a deterministic hash split.
    * A different seed than [[sampleMix]] so the two decisions are
    * independent; one conditional-aggregation pass (single shuffle on
    * source). */
  def splitAssign(documents: DataFrame, trainPct: Int = 90,
      valPct: Int = 5, seed: Long = 11L): DataFrame = {
    val pct = hashPct(col("doc_id"), seed)
    documents.select(col("source"), pct.as("pct"))
      .groupBy("source")
      .agg(
        sum(when(col("pct") < trainPct, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("pct") >= trainPct && col("pct") < trainPct + valPct,
          1L).otherwise(0L)).as("n_val"),
        sum(when(col("pct") >= trainPct + valPct, 1L).otherwise(0L))
          .as("n_test"))
      .orderBy("source")
  }

  /** Exactly min(k, group size) documents per source, chosen by
    * deterministic hash rank — the distributed analog of per-group
    * reservoir sampling, reproducible across runs and cluster layouts.
    * One shuffle (on source) via window rank; groups are near-uniform in
    * this corpus. For heavy-hitter groups at corpus scale, swap the
    * window for a bounded top-k aggregator (the
    * [[graft.functions.TopKNeighbors]] shape): map-side partial top-k
    * makes the shuffle carry k rows per partition per group instead of
    * the whole group. */
  def samplePerSource(documents: DataFrame, k: Int = 5,
      seed: Long = 13L): DataFrame = {
    val rank = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(pmod((col("doc_id") + lit(seed)) * lit(KnuthC), lit(M32)),
          col("doc_id")))
    documents.select(col("source"), col("doc_id"))
      .withColumn("rank", rank.cast("long"))
      .filter(col("rank") <= k)
      .orderBy("source", "rank")
  }

  /** Deterministic global training shuffle + fixed-size shard manifest.
    * Every epoch's example order must be a pure function of (id, seed) —
    * `rand()` or partition order would make a resumed/re-run job see a
    * DIFFERENT permutation, silently breaking checkpoint-resume and any
    * experiment comparing runs. The permutation key is the same Knuth
    * hash as the samplers; a new seed is the next epoch.
    *
    * Global positions without a global sort bottleneck: range-partition
    * by (key, id) — Spark samples range bounds, so each partition holds
    * a contiguous key slice — then one bounded driver collect of
    * numPartitions COUNTS (never data; the [[Serving.clientDeciles]]
    * pattern) turns per-partition offsets into exact global positions
    * map-side. `shard = pos / shardSize` is then a stable assignment of
    * examples to fixed-size training shards: at 100 TB the output is
    * written `partitionBy(shard)` and a trainer streams shards in
    * order. */
  def shuffleDeterministic(documents: DataFrame, seed: Long = 7L,
      shardSize: Long = 64L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val key = pmod((col("doc_id") + lit(seed)) * lit(KnuthC), lit(M32))
    // the sorted frame is walked twice (sizes, then positions) — cache
    // it so the range exchange runs once (clientDeciles precedent)
    val sorted = CacheOnce(documents
      .select(col("doc_id"), key.as("k"))
      .repartitionByRange(col("k"), col("doc_id"))
      .sortWithinPartitions(col("k"), col("doc_id")))
      .as[(Long, Long)]
    val sizes = sorted.mapPartitions { it =>
      Iterator((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var pos = offsets(pid)
      it.map { case (id, _) => val p = pos; pos += 1; (id, p) }
    }.map { case (id, p) => (id, p, p / shardSize) }
      .toDF("doc_id", "pos", "shard")
      .orderBy("doc_id")
  }

  /** Cut each document into fixed-size token windows with overlap
    * (`chunkTokens` tokens per chunk, stride `stride` — the standard
    * pre-tokenizer packing step). Chunk k covers tokens
    * [k*stride, k*stride + chunkTokens); the last chunk may be short;
    * every document yields at least one chunk.
    *
    * Shape notes: the token array is built ONCE per row in a projection
    * below the Generate (explode of the tiny chunk-index array — not of
    * the tokens themselves), then sliced per chunk. Per-row output is
    * O(n_tokens * chunkTokens / stride) — the ~1.33x duplication a
    * 16-token overlap costs, paid map-side with no shuffle. */
  def docChunks(documents: DataFrame, chunkTokens: Int = 32,
      stride: Int = 24): DataFrame =
    chunkFrame(documents, chunkTokens, stride).orderBy("doc_id", "chunk_idx")

  /** [[docChunks]] without the presentation sort — the shareable frame for
    * downstream packing. */
  private def chunkFrame(documents: DataFrame, chunkTokens: Int,
      stride: Int): DataFrame = {
    val ws = split(col("text"), "\\s+")
    val base = Llm.spread(documents)
      .select(col("doc_id"), ws.as("ws"), size(ws).cast("long").as("n"))
    val nChunks = lit(1L) + when(col("n") > chunkTokens,
      ceil((col("n") - lit(chunkTokens)) / lit(stride.toDouble))
        .cast("long")).otherwise(lit(0L))
    base
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("ws"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("toks"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("toks")).as("chunk_text"))
  }

  /** Pack [[docChunks]] output into fixed-budget training sequences —
    * greedy next-fit bin packing, the step a training-data pipeline runs
    * between chunking and the tokenizer. Returns the packing MANIFEST
    * (grp, seq_id, doc_id, chunk_idx, n_tokens, tok_offset): each chunk
    * assigned to exactly one sequence at a token offset, no sequence over
    * `seqTokens`, chunk text joinable back by (doc_id, chunk_idx) so the
    * shuffle carries 40-byte manifest rows, never text.
    *
    * Determinism and distribution: chunks are hash-routed to `groups`
    * independent packing streams (grp = high bits of a Knuth hash of
    * doc_id — same arithmetic as [[hashPct]], so the DuckDB oracle
    * replays it bit-for-bit), ordered by (hash, doc_id, chunk_idx)
    * within a stream — a document's chunks stay CONTIGUOUS in pack
    * order and chunks are never split across sequences. Next-fit (not
    * first-fit) is deliberate: it is the streaming-replayable greedy —
    * one sequential pass per stream, no random access to open bins — so
    * the oracle can replay it as an ordered recurrence and re-runs are
    * byte-identical regardless of cluster layout.
    *
    * Scale shape: one shuffle (repartition on grp) of manifest-width
    * rows, an EXTERNAL sort within partitions (spillable — no group is
    * ever materialized in memory), and a LINEAR per-partition fold via
    * mapPartitions: next-fit is a sequential recurrence over the sorted
    * stream, exactly the "genuine per-partition imperative logic" case
    * mapPartitions exists for. An earlier shape collected each group
    * into an array and folded with the `aggregate` HOF, whose
    * append-to-accumulator is O(k²) element copies per group of k
    * chunks — a full-registry 10x scale soak measured it 43.9x for 10x
    * data (the worst query in the suite); the streaming fold is O(k)
    * and soaks linear. `groups` remains the parallelism knob (streams
    * stay independent and the grp hash feeds the oracle's replay), but
    * it no longer bounds task MEMORY — only sort-run sizes, which
    * spill. */
  def packSequences(documents: DataFrame, seqTokens: Int = 64,
      groups: Int = 8, chunkTokens: Int = 32, stride: Int = 24,
      seed: Long = 17L): DataFrame = {
    require(seqTokens >= chunkTokens,
      s"seqTokens=$seqTokens must fit a whole chunk of $chunkTokens")
    val spark = documents.sparkSession
    import spark.implicits._
    val h = pmod((col("doc_id") + lit(seed)) * lit(KnuthC), lit(M32))
    val budget = seqTokens.toLong
    // (grp | h, doc_id, chunk_idx) order == the oracle's ORDER BY; a
    // document's chunks stay contiguous and whole within a stream
    chunkFrame(documents, chunkTokens, stride)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), h.as("h"))
      .withColumn("grp",
        floor(col("h") * lit(groups.toLong) / lit(M32)).cast("long"))
      .repartition(col("grp"))
      .sortWithinPartitions("grp", "h", "doc_id", "chunk_idx")
      .select(col("grp"), col("doc_id"), col("chunk_idx"), col("n_tokens"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        // several whole groups may share a partition (hash routing);
        // the recurrence resets at each grp boundary
        var curGrp = -1L
        var seq = 0L
        var fill = 0L
        it.map { case (grp, docId, chunkIdx, n) =>
          if (grp != curGrp) { curGrp = grp; seq = 0L; fill = 0L }
          if (fill + n > budget) { seq += 1L; fill = n }
          else fill += n
          (grp, seq, docId, chunkIdx, n, fill - n)
        }
      }
      .toDF("grp", "seq_id", "doc_id", "chunk_idx", "n_tokens", "tok_offset")
      .orderBy("grp", "seq_id", "tok_offset")
  }
}
