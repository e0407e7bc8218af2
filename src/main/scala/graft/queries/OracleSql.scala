package graft
package queries

/** The SQL building blocks the DuckDB oracles of [[QuerySpec]] share:
  * dump-time placeholders, CTE prologues, unrolled iteration rounds,
  * wrapping-integer hash restatements, and the oracle texts that several
  * specs answer to. Its own object so that each spec object reads these
  * values fully initialized. */
object OracleSql {
  /** Placeholder in oracle SQL for [[Tables.oracleArtifactsDir]] —
    * Verify substitutes the dataset's real artifacts path at dump time,
    * so oracle SQL that must read PERSISTED model state (the IVF
    * centroid parquets) stays a static string here while the dumped
    * `oracle_sql.json` is fully concrete and runnable by the driver. */
  private[graft] val ArtifactsToken = "__GRAFT_ARTIFACTS__"

  /** Placeholder in oracle SQL for Verify's OWN dump directory —
    * the bounded-error oracle pattern: for a sketch
    * estimator the oracle reads the query's dumped ESTIMATE, computes
    * the EXACT twin from the source tables, and echoes the estimate
    * only while |est − exact| is inside the sketch's published error
    * bound (× a safety factor), else a poison value that hash-fails.
    * Hash equality with the dump is then a SEMANTIC accuracy gate, not
    * a regression pin. Exact columns riding along in the same output
    * are re-derived independently and gated on equality. */
  private[graft] val OutDirToken = "__GRAFT_VERIFY_OUT__"

  /** gold-entry validity predicate (reference gold_transformation_spark.py:225) */
  private[queries] val V = s"o_totalprice > 0 AND o_totalprice <= ${Gold.MaxAmount}"
  private[queries] def ms(c: String) = Tables.moneySumSql(c)

  /** knn_lsh's 64 deterministic ±1 hyperplanes (4 planes × 16 tables,
    * testdata embedding width 64) inlined as DuckDB VALUES literals —
    * the same splitmix64 derivation graft.functions.LshSign evaluates,
    * via the driver-folded reference [[Llm.hyperplanes]] that LlmSpec
    * already pins bit-equal to the native expression. */
  private[queries] lazy val lshPlanesValues: String =
    Llm.hyperplanes(64, 64).zipWithIndex.map { case (w, j) =>
      w.map(x => if (x > 0) "1" else "-1")
        .mkString(s"($j, [", ",", "]::DOUBLE[])")
    }.mkString(",\n        ")

  /** Shared oracle CTE prologue: valid orders, reference date, trailing
    * window, per-client feature blocks (mirrors Gold.clientFeatures). */
  private[queries] val featsCte = s"""
    WITH o AS (SELECT * FROM orders WHERE $V),
    ref AS (SELECT max(o_orderdate) AS r FROM o),
    win AS (SELECT * FROM o WHERE o_orderdate >= (SELECT r FROM ref) - INTERVAL 365 DAY),
    pw AS (SELECT o_custkey AS c_custkey, count(o_orderkey) AS freq_12m,
             ${ms("o_totalprice")} AS monetary_12m,
             sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0/count(o_orderkey) AS monetary_avg_12m,
             max(o_orderdate) AS last_purchase, min(o_orderdate) AS first_purchase
           FROM win GROUP BY 1),
    dv AS (SELECT o_custkey AS c_custkey, count(DISTINCT l_partkey) AS product_diversity_12m
           FROM win JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1),
    pa AS (SELECT o_custkey AS c_custkey, count(o_orderkey) AS total_orders_all,
             ${ms("o_totalprice")} AS total_spend_all
           FROM o GROUP BY 1),
    feats AS (
      SELECT b.c_custkey,
             coalesce(pw.freq_12m, 0) AS freq_12m,
             coalesce(pw.monetary_12m, 0.0) AS monetary_12m,
             coalesce(pw.monetary_avg_12m, 0.0) AS monetary_avg_12m,
             coalesce(dv.product_diversity_12m, 0) AS product_diversity_12m,
             pw.last_purchase, pw.first_purchase,
             CAST(CASE WHEN pw.last_purchase IS NOT NULL
               THEN date_diff('day', CAST(pw.last_purchase AS DATE), CAST((SELECT r FROM ref) AS DATE))
               ELSE 365 END AS BIGINT) AS recency_days,
             CAST(CASE WHEN pw.first_purchase IS NOT NULL
               THEN date_diff('day', CAST(pw.first_purchase AS DATE), CAST((SELECT r FROM ref) AS DATE))
               ELSE 0 END AS BIGINT) AS tenure_days,
             pa.total_orders_all, pa.total_spend_all,
             CASE WHEN pa.total_orders_all > 0 THEN pa.total_spend_all / pa.total_orders_all
               ELSE 0.0 END AS avg_order_value_all
      FROM (SELECT DISTINCT o_custkey AS c_custkey FROM o) b
      LEFT JOIN pw USING (c_custkey)
      LEFT JOIN dv USING (c_custkey)
      LEFT JOIN pa USING (c_custkey))"""

  /** Exact ANALYZE profile of the orders table (nulls + exact
    * distincts), shared by the table_profile oracle and the bounded-
    * error gate of its sketch twin. */
  private[queries] val profileExactBody = """
        SELECT 'o_orderkey' AS column_name,
          CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
          CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
        UNION ALL SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
          CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
          CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
          CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderdate', CAST(count(*) - count(o_orderdate) AS BIGINT),
          CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
          CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders"""

  /** Oracle scoring tail over `feats` (mirrors Gold.scoreClients,
    * including ScoreThresholds' falsy fallbacks: a NULL/zero percentile —
    * e.g. no orders in the trailing window — falls back exactly as
    * Gold.scoreThresholds.orElse does, so Spark and the oracle can never
    * diverge on degenerate data). */
  private[queries] val scoredCte = s"""$featsCte,
    th0 AS (SELECT quantile_cont(freq_12m, 0.75) AS f75, quantile_cont(freq_12m, 0.95) AS f95,
             quantile_cont(monetary_12m, 0.75) AS m75, quantile_cont(monetary_12m, 0.95) AS m95,
             quantile_cont(recency_days, 0.25) AS r25, quantile_cont(recency_days, 0.75) AS r75,
             greatest(CAST(max(product_diversity_12m) AS DOUBLE), 1.0) AS maxdiv
           FROM feats),
    th AS (SELECT
             CASE WHEN coalesce(f75, 0) = 0
               THEN CASE WHEN coalesce(f95, 0) = 0 THEN 1.0 ELSE f95 END
               ELSE f75 END AS f75,
             CASE WHEN coalesce(f95, 0) = 0 THEN 1.0 ELSE f95 END AS f95,
             CASE WHEN coalesce(m75, 0) = 0
               THEN CASE WHEN coalesce(m95, 0) = 0 THEN 1.0 ELSE m95 END
               ELSE m75 END AS m75,
             CASE WHEN coalesce(m95, 0) = 0 THEN 1.0 ELSE m95 END AS m95,
             CASE WHEN coalesce(r25, 0) = 0 THEN 91.25 ELSE r25 END AS r25,
             CASE WHEN coalesce(r75, 0) = 0 THEN 365.0 ELSE r75 END AS r75,
             maxdiv
           FROM th0),
    s1 AS (SELECT f.*,
             round(0.45 * (least(CAST(f.freq_12m AS DOUBLE), t.f95) / t.f95)
                 + 0.30 * (1.0 - least(CAST(f.recency_days AS DOUBLE), 365.0) / 365.0)
                 + 0.15 * (least(f.monetary_12m, t.m95) / t.m95)
                 + 0.10 * (CAST(f.product_diversity_12m AS DOUBLE) / t.maxdiv), 6) AS prob_reachat_12m,
             least(greatest(f.tenure_days / 30.0, 1.0), 365.0 / 30.0) AS months_active,
             t.m75 AS m75, t.r25 AS r25, t.r75 AS r75, t.f75 AS f75
           FROM feats f, th t),
    scored AS (
      SELECT c_custkey, freq_12m, monetary_12m, monetary_avg_12m, product_diversity_12m,
             recency_days, tenure_days, total_orders_all, total_spend_all,
             prob_reachat_12m,
             round(monetary_12m / months_active * 12.0 * prob_reachat_12m, 2) AS expected_value_12m,
             round(monetary_12m * (1.0 - prob_reachat_12m), 2) AS value_at_risk_12m,
             CASE WHEN prob_reachat_12m >= 0.65 AND monetary_12m >= m75 THEN 'VIP'
                  WHEN prob_reachat_12m >= 0.55 AND recency_days <= r25 THEN 'Actifs'
                  WHEN monetary_12m >= m75 AND recency_days > r75 THEN 'A relancer'
                  WHEN freq_12m <= greatest(1.0, f75 * 0.5) AND recency_days > r75 THEN 'Dormants'
                  ELSE 'A potentiel' END AS segment_label
      FROM s1)"""

  // quality-family oracle bodies, shared with the corpus_filter capstone
  private[queries] val textStatsSql = """
      WITH s AS (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
          CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_letters,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS BIGINT) AS n_stopwords
        FROM documents),
      s2 AS (
        SELECT *,
          round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
          round(n_stopwords * 1.0 / greatest(n_words, 1), 6) AS stopword_ratio,
          round(n_letters * 1.0 / greatest(n_words, 1), 6) AS avg_word_len
        FROM s)
      SELECT *,
        (4000 * least(n_words, 100)
         + least((1500000 * n_stopwords) // greatest(n_words, 1), 300000)
         + (300000 - least((3000000 * n_punct) // greatest(n_chars, 1), 300000))
        ) / CAST(1000000 AS DOUBLE) AS quality_score
      FROM s2 ORDER BY doc_id"""
  private[queries] val repetitionSql = """
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      g AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS max_repeat
            FROM g GROUP BY 1)
      SELECT d.doc_id,
        coalesce(a.n_ngrams, 0) AS n_ngrams,
        coalesce(a.n_distinct, 0) AS n_distinct,
        coalesce(a.max_repeat, 0) AS max_repeat,
        CASE WHEN coalesce(a.n_ngrams, 0) > 0
             THEN round(1.0 - a.n_distinct * 1.0 / a.n_ngrams, 6)
             ELSE 0.0 END AS repeat_frac
      FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id"""
  private[queries] val logProbSql = """
      WITH tf AS (SELECT doc_id, word, count(*) AS tf
                  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
                        FROM documents)
                  WHERE word <> '' GROUP BY 1, 2),
      uni AS (SELECT word, sum(tf) AS n FROM tf GROUP BY 1),
      tot AS (SELECT sum(n) AS total FROM uni)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             round(sum(tf * (ln(n) - ln(total))) / sum(tf), 6) AS avg_logprob
      FROM tf JOIN uni USING (word) CROSS JOIN tot
      GROUP BY 1 ORDER BY doc_id"""

  /** Shared CTE prefix for the community-family oracles: the support-
    * pruned co-occurrence graph plus graft.Graph.labelPropagation's 5
    * fixed rounds unrolled (each round is an exact integer-weight argmax
    * with a (wt DESC, label ASC) tie-break — deterministic, so the label
    * dynamics ARE SQL-stateable despite being iterative). */
  private[queries] val lpaRounds = (1 to 5).map { i =>
    s"""l$i AS (SELECT src AS v, label FROM (
        SELECT src, label,
               row_number() OVER (PARTITION BY src ORDER BY wt DESC, label) AS rn
        FROM (SELECT s.src, l.label, CAST(sum(s.w) AS BIGINT) AS wt
              FROM sym s JOIN l${i - 1} l ON s.dst = l.v GROUP BY 1, 2))
        WHERE rn = 1)"""
  }.mkString(",\n      ")
  private[queries] val lpaSql = s"""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      cooc AS (SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS w
               FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= ${Gold.CommunityMinSupport}),
      sym AS (SELECT p1 AS src, p2 AS dst, w FROM cooc
              UNION ALL SELECT p2, p1, w FROM cooc),
      l0 AS (SELECT DISTINCT src AS v, src AS label FROM sym),
      $lpaRounds"""

  /** graft.Graph.pageRank's 5 fixed power-iteration rounds unrolled for
    * the product_rank oracle. Float-parity discipline: the damping
    * constants are forced to DOUBLE before arithmetic so DuckDB computes
    * the same `1 - 0.85 = 0.15000000000000002` the Scala driver does
    * (DuckDB would otherwise subtract in DECIMAL and get exact 0.15 —
    * a different double); contribution sums are double in both engines
    * and the 9dp output rounding absorbs their order-of-addition noise
    * (~1e-15 relative vs a 1e-9 grid). */
  /** graft.Graph.kCore's peel unrolled to the 16-round contract for the
    * product_kcore oracle: each round recomputes degrees over the
    * surviving edges and keeps both endpoints only if they clear k=3.
    * The Spark side's early stop fires only at a true fixpoint, where
    * the remaining unrolled rounds are no-ops — identical frames either
    * way. */
  // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
  // round references its predecessor three times — 3^16 scan blowup
  private[queries] val kcoreRounds = (1 to 16).map { i =>
    s"""k$i AS MATERIALIZED (SELECT v FROM (
          SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
          GROUP BY 1) WHERE deg >= 3),
      e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
              WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))"""
  }.mkString(",\n      ")

  private[queries] val prRounds = (1 to 5).map { i =>
    s"""r$i AS (SELECT d.src AS id,
          (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
            + CAST(0.85 AS DOUBLE) * coalesce(s.contrib, 0) AS rank
        FROM deg d LEFT JOIN (
          SELECT ew.dst AS id, sum(r.rank / ew.deg) AS contrib
          FROM ew JOIN r${i - 1} r ON ew.src = r.id GROUP BY 1) s
          ON d.src = s.id)"""
  }.mkString(",\n      ")

  /** graft.Llm.bpeLearnCore's 5 greedy merge rounds unrolled for the BPE
    * oracles. The left-to-right non-overlapping merge fold IS
    * SQL-stateable without recursion via a positional rule: an adjacent
    * (x,y) occurrence merges iff x≠y (occurrences can never overlap —
    * overlap forces x=y) or its offset inside its maximal run of x is
    * even (the greedy pairing inside "aaaa…"). Reassembly keeps merged
    * positions and drops each merge's consumed right neighbor. Pair
    * stats, winner pick (count desc, pair asc) and the rewrite are all
    * exact integer/string operations at VOCABULARY grain, so the whole
    * iterative tokenizer build cross-checks bit-for-bit. */
  private[queries] val bpeRounds = (1 to 5).map { r =>
    s"""p$r AS (SELECT syms[i] AS x, syms[i+1] AS y, CAST(sum(n) AS BIGINT) AS c
           FROM v${r - 1}, unnest(range(1, len(syms))) AS t(i)
           GROUP BY 1, 2),
      m$r AS (SELECT x, y, c FROM p$r ORDER BY c DESC, x, y LIMIT 1),
      e$r AS (SELECT word, n, i, syms[i] AS s,
                (SELECT x FROM m$r) AS mx, (SELECT y FROM m$r) AS my,
                CASE WHEN i < len(syms) THEN syms[i+1] END AS nxt
           FROM v${r - 1}, unnest(range(1, len(syms)+1)) AS t(i)),
      f$r AS (SELECT *,
           coalesce(max(CASE WHEN s <> mx THEN i END)
             OVER (PARTITION BY word ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
             AS run_start
         FROM e$r),
      g$r AS (SELECT *, (s = mx AND nxt = my
                AND (mx <> my OR (i - run_start) % 2 = 0)) AS ms FROM f$r),
      h$r AS (SELECT *, coalesce(lag(ms) OVER (PARTITION BY word ORDER BY i),
                false) AS prev_ms FROM g$r),
      v$r AS (SELECT word, any_value(n) AS n,
                list(CASE WHEN ms THEN mx || my ELSE s END ORDER BY i)
                  FILTER (WHERE ms OR NOT prev_ms) AS syms
         FROM h$r GROUP BY word)"""
  }.mkString(",\n      ")
  private[queries] val bpeSql = s"""
      WITH tf AS (SELECT word, count(*) AS tf
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
                  FROM documents)
            WHERE word <> '' GROUP BY 1),
      v0 AS (SELECT word, CAST(tf AS BIGINT) AS n,
               list_transform(range(1, length(word)+1), i -> word[i]) AS syms
             FROM tf),
      $bpeRounds"""

  /** 64-bit wrapping arithmetic restated for DuckDB (HUGEINT domain,
    * values kept in [0, 2^64)): the building blocks that let the
    * doc_fingerprint oracle reproduce Spark's xxhash64 (XXH64, seed 42)
    * bit-for-bit in SQL. A full 64x64 product overflows HUGEINT
    * (~1.7e38 < (2^64)^2), so the wrapping multiply splits the left
    * operand at 2^32 — only the low 32 bits of the high-half partial
    * product survive mod 2^64. XOR hops through signed BIGINT (bitwise
    * identical) and back. */
  private[queries] val XxM = "18446744073709551616" // 2^64
  private[queries] def xxMul(a: String, b: String): String =
    s"((($a) % 4294967296) * $b + (((($a) // 4294967296) * ($b % 4294967296))" +
      s" % 4294967296) * 4294967296) % $XxM"
  private[queries] def xxRotl(a: String, r: Int): String =
    s"((($a) % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r} + ($a) // ${BigInt(1) << (64 - r)})"
  private[queries] def xxSigned(a: String): String =
    s"CAST(CASE WHEN ($a) >= 9223372036854775808 THEN ($a) - $XxM ELSE ($a) END AS BIGINT)"
  private[queries] def xxXor(a: String, b: String): String =
    s"(CAST(xor(${xxSigned(a)}, ${xxSigned(b)}) AS HUGEINT) + " +
      s"CASE WHEN xor(${xxSigned(a)}, ${xxSigned(b)}) < 0 THEN $XxM::HUGEINT ELSE 0 END)"
  private[queries] def xxShr(a: String, r: Int): String = s"(($a) // ${BigInt(1) << r})"
  // XXH64 primes and the precomputed 8-byte-input seed state (42 + P5 + 8)
  private[queries] val XxP1 = "11400714785074694791"
  private[queries] val XxP2 = "14029467366897019727"
  private[queries] val XxP3 = "1609587929392839161"
  private[queries] val XxP4 = "9650029242287828579"
  private[queries] val XxH0 = "2870177450012600311"
  private[queries] val XxP5plus8 = "2870177450012600269" // P5 + 8

  /** CTE chain for ONE XXH64 8-byte-input step, `out` = XXH64_long(`in`,
    * `seed`) — Spark's `xxhash64(c1, c2, …)` folds its inputs through
    * exactly this step left-to-right with the previous hash as the next
    * seed (seed 42 at the start), so chaining these CTEs restates a
    * multi-column xxhash64 bit-for-bit (validated against Spark on
    * literal probes, r15). `in`/`seed` are HUGEINT [0,2^64) expressions
    * over `src`'s columns; `keep` columns ride through. Every stage is
    * AS MATERIALIZED: each stage expression reads its predecessor's
    * column up to ~6 times, so DuckDB's default CTE inlining would grow
    * the expression tree exponentially across the 9×3 chained stages
    * (the un-materialized form hung the planner; measured r15). */
  private[queries] def xxLong(name: String, src: String, keep: String,
      in: String, seed: String, out: String): String =
    s"""${name}_0 AS MATERIALIZED (SELECT $keep, ((($seed) + $XxP5plus8) % $XxM) AS h0,
             ${xxMul(in, XxP2)} AS k FROM $src),
      ${name}_1 AS MATERIALIZED (SELECT $keep, h0, ${xxMul(xxRotl("k", 31), XxP1)} AS kk FROM ${name}_0),
      ${name}_2 AS MATERIALIZED (SELECT $keep, ${xxXor("h0", "kk")} AS hx FROM ${name}_1),
      ${name}_3 AS MATERIALIZED (SELECT $keep, (${xxMul(xxRotl("hx", 27), XxP1)} + $XxP4) % $XxM AS f FROM ${name}_2),
      ${name}_4 AS MATERIALIZED (SELECT $keep, ${xxXor("f", xxShr("f", 33))} AS g1 FROM ${name}_3),
      ${name}_5 AS MATERIALIZED (SELECT $keep, ${xxMul("g1", XxP2)} AS g2 FROM ${name}_4),
      ${name}_6 AS MATERIALIZED (SELECT $keep, ${xxXor("g2", xxShr("g2", 29))} AS g3 FROM ${name}_5),
      ${name}_7 AS MATERIALIZED (SELECT $keep, ${xxMul("g3", XxP3)} AS g4 FROM ${name}_6),
      $name AS MATERIALIZED (SELECT $keep, ${xxXor("g4", xxShr("g4", 32))} AS $out FROM ${name}_7)"""

  /** Murmur3_x86_32-over-a-long restated for DuckDB — the hash under
    * Spark's BloomFilter V2 bit placement (sketch module: two chained
    * `hashLong` rounds give (h1, h2), then k probes of
    * h1·(2³¹−1) + i·h2 with a complement-flip and mod-bitSize; see
    * Llm.decontaminateBloomFrom's scaladoc). 32-bit wrapping arithmetic in
    * HUGEINT [0, 2^32): products are reduced mod 2^32, rotations split
    * at the rotate point, XOR hops through BIGINT (values < 2^32 are
    * sign-safe there). SketchProps pins this arithmetic against the
    * real BloomFilter on fuzzed keys, false-positive agreement
    * included. */
  private[queries] val Mm32 = "4294967296" // 2^32
  private[queries] def mmMul(a: String, b: String): String =
    s"((($a)::HUGEINT * ($b)) % $Mm32)"
  private[queries] def mmRotl(a: String, r: Int): String =
    s"((($a) % ${BigInt(1) << (32 - r)}) * ${BigInt(1) << r} + ($a) // ${BigInt(1) << (32 - r)})"
  private[queries] def mmXor(a: String, b: String): String =
    s"CAST(xor(($a)::BIGINT, ($b)::BIGINT) AS HUGEINT)"
  private[queries] def mmShr(a: String, r: Int): String = s"(($a) // ${BigInt(1) << r})"
  /** Unsigned [0,2^32) HUGEINT -> the bit-identical signed Java int (as
    * BIGINT). */
  private[queries] def mmSigned(a: String): String =
    s"(CASE WHEN ($a) >= 2147483648 THEN ($a)::BIGINT - $Mm32 ELSE ($a)::BIGINT END)"

  /** CTE chain for `out` = Murmur3_x86_32.hashLong(`in`, `seed`):
    * mixK1/mixH1 over the long's low then high 32-bit word, fmix with
    * len 8. `in` is HUGEINT [0,2^64), `seed` HUGEINT [0,2^32); `keep`
    * columns ride through. Stages are MATERIALIZED for the same
    * planner-blowup reason as [[xxLong]]. */
  private[queries] def mmLong(name: String, src: String, keep: String,
      in: String, seed: String, out: String): String =
    s"""${name}_0 AS MATERIALIZED (SELECT $keep, ($seed) AS h0,
             (($in) % $Mm32) AS kl, (($in) // $Mm32) AS kh FROM $src),
      ${name}_1 AS MATERIALIZED (SELECT $keep, h0, kh, ${mmMul("kl", "3432918353")} AS k1 FROM ${name}_0),
      ${name}_2 AS MATERIALIZED (SELECT $keep, h0, kh, ${mmMul(mmRotl("k1", 15), "461845907")} AS k2 FROM ${name}_1),
      ${name}_3 AS MATERIALIZED (SELECT $keep, kh, ${mmXor("h0", "k2")} AS hx FROM ${name}_2),
      ${name}_4 AS MATERIALIZED (SELECT $keep, kh, (${mmMul(mmRotl("hx", 13), "5")} + 3864292196) % $Mm32 AS ha FROM ${name}_3),
      ${name}_5 AS MATERIALIZED (SELECT $keep, ha, ${mmMul("kh", "3432918353")} AS k3 FROM ${name}_4),
      ${name}_6 AS MATERIALIZED (SELECT $keep, ha, ${mmMul(mmRotl("k3", 15), "461845907")} AS k4 FROM ${name}_5),
      ${name}_7 AS MATERIALIZED (SELECT $keep, ${mmXor("ha", "k4")} AS hy FROM ${name}_6),
      ${name}_8 AS MATERIALIZED (SELECT $keep, (${mmMul(mmRotl("hy", 13), "5")} + 3864292196) % $Mm32 AS hb FROM ${name}_7),
      ${name}_9 AS MATERIALIZED (SELECT $keep, ${mmXor("hb", "8")} AS f0 FROM ${name}_8),
      ${name}_10 AS MATERIALIZED (SELECT $keep, ${mmXor("f0", mmShr("f0", 16))} AS f1 FROM ${name}_9),
      ${name}_11 AS MATERIALIZED (SELECT $keep, ${mmMul("f1", "2246822507")} AS f2 FROM ${name}_10),
      ${name}_12 AS MATERIALIZED (SELECT $keep, ${mmXor("f2", mmShr("f2", 13))} AS f3 FROM ${name}_11),
      ${name}_13 AS MATERIALIZED (SELECT $keep, ${mmMul("f3", "3266489909")} AS f4 FROM ${name}_12),
      $name AS MATERIALIZED (SELECT $keep, ${mmXor("f4", mmShr("f4", 16))} AS $out FROM ${name}_13)"""

  /** splitmix64 restated for DuckDB, mirroring Sketches.splitmix64 /
    * tokenHash (the SimHash/MinHash signature arithmetic). Values live
    * in HUGEINT [0, 2^64); the wrapping multiply splits the CONSTANT at
    * 2^32 so no partial product exceeds 2^96. [[smChain]] emits the
    * finalizer as four chained CTE stages (inlining would cube the
    * expression size — each stage reads its predecessor three times). */
  private[queries] val SmMask = "18446744073709551615::HUGEINT" // 2^64 - 1
  private[queries] val SmGolden = "11400714819323198485::HUGEINT" // 0x9E3779B97F4A7C15
  private[queries] def smMul(a: String, c: BigInt): String = {
    val ch = c >> 32; val cl = c & 0xFFFFFFFFL
    s"((($a) * $cl::HUGEINT + (((($a) * $ch::HUGEINT) & 4294967295::HUGEINT) << 32)) & $SmMask)"
  }
  /** CTE stages `<name>_a,<name>_b,<name>_c,<name>`: `<name>` selects
    * `keep` plus splitmix64(`in`) AS `out` from `src`. */
  private[queries] def smChain(name: String, src: String, keep: String,
      in: String, out: String): String =
    s"""${name}_a AS (SELECT $keep, (($in + $SmGolden) & $SmMask) AS z FROM $src),
      ${name}_b AS (SELECT $keep, ${smMul("xor(z, z >> 30)", BigInt("BF58476D1CE4E5B9", 16))} AS z FROM ${name}_a),
      ${name}_c AS (SELECT $keep, ${smMul("xor(z, z >> 27)", BigInt("94D049BB133111EB", 16))} AS z FROM ${name}_b),
      $name AS (SELECT $keep, xor(z, z >> 31) AS $out FROM ${name}_c)"""
  /** Unsigned [0,2^64) HUGEINT -> the bit-identical signed BIGINT. */
  private[queries] def smSigned(a: String): String =
    s"(CASE WHEN ($a) >= 9223372036854775808::HUGEINT THEN (($a) - 18446744073709551616::HUGEINT)::BIGINT ELSE ($a)::BIGINT END)"
  private[queries] def smUnsigned(a: String): String =
    s"(CASE WHEN ($a) < 0 THEN ($a)::HUGEINT + 18446744073709551616::HUGEINT ELSE ($a)::HUGEINT END)"
  /** The poly31-over-codepoints accumulator ([[Sketches.tokenHash]]'s
    * pre-finalizer state) of string column `s`. */
  private[queries] def smPoly(s: String): String =
    s"""list_reduce(list_prepend(0::HUGEINT,
          list_transform(range(1, length($s)+1), i -> unicode(substr($s, i, 1))::HUGEINT)),
          (a, c) -> (a * 31 + c) & $SmMask)"""


  // ------------------------------------------------ shared oracle texts

  /** Oracle shared by ca_monthly, ca_monthly_incremental,
    * ca_monthly_maintained and sql_ca_monthly. */
  private[queries] val caMonthlySql = s"""
      SELECT strftime(o_orderdate, '%Y-%m') AS mois, ${ms("o_totalprice")} AS ca
      FROM orders WHERE $V GROUP BY 1 ORDER BY mois"""

  /** Oracle shared by top_clients_maintained and top_clients. */
  private[queries] val topClientsSql = s"""
      SELECT o_custkey AS c_custkey, ${ms("o_totalprice")} AS total_spend,
             count(o_orderkey) AS total_orders
      FROM orders WHERE $V GROUP BY 1
      ORDER BY total_spend DESC, c_custkey LIMIT 20"""

  /** Oracle shared by ca_country and ca_country_salted. */
  private[queries] val caCountrySql = s"""
      SELECT coalesce(n_name, 'Inconnu') AS pays, ${ms("o_totalprice")} AS ca
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE $V GROUP BY 1 ORDER BY ca DESC, pays"""

  /** Bounded-error oracle of a KPI row whose distinct-client column
    * `estCol` is a sketch estimate with relative standard error `rsd`:
    * ca_total, nb_achats and panier_moyen are re-derived exactly and
    * gated on equality; the estimate, read back from the query's own
    * dump, is echoed only within 5σ (5 · rsd · the exact count), else
    * poisoned to -1. Shared by kpis_approx, kpis_incremental and
    * kpis_rewritten. */
  private[queries] def kpisBoundedSql(name: String, estCol: String, rsd: Double): String = s"""
      WITH est AS (SELECT * FROM read_parquet('$OutDirToken/$name/*.parquet')),
      x AS (SELECT ${ms("o_totalprice")} AS ca_total, count(o_orderkey) AS nb_achats,
                   count(DISTINCT o_custkey) AS nb_clients
            FROM orders WHERE $V)
      SELECT CASE WHEN est.ca_total = x.ca_total THEN est.ca_total ELSE -1.0 END AS ca_total,
             CASE WHEN est.nb_achats = x.nb_achats THEN est.nb_achats ELSE -1 END AS nb_achats,
             CASE WHEN abs(est.$estCol - x.nb_clients) <= ${5 * rsd} * x.nb_clients
                  THEN est.$estCol ELSE -1 END AS $estCol,
             CASE WHEN est.panier_moyen = round(x.ca_total / x.nb_achats, 2)
                  THEN est.panier_moyen ELSE -1.0 END AS panier_moyen
      FROM est, x"""

  /** Oracle shared by event_sessions_native_stream and
    * event_sessions_native: session_window starts a new session when the
    * gap >= 30 min (vs the lag variant's strict >); the oracle mirrors
    * that with >=. */
  private[queries] val eventSessionsNativeSql = """
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      x AS (SELECT user_id, ts, value,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
      y AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM x),
      z AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS session_seq FROM y)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS duration_sec,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM z GROUP BY user_id, session_seq ORDER BY user_id, session_start"""

  /** Oracle shared by cohort_retention and cohort_retention_melt. */
  private[queries] val cohortRetentionSql = s"""
      WITH o AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS md
        FROM orders WHERE $V),
      c AS (SELECT o_custkey, md,
                   min(md) OVER (PARTITION BY o_custkey) AS cd FROM o)
      SELECT strftime(cd, '%Y-%m') AS cohort,
             CAST(datediff('month', cd, md) AS BIGINT) AS month_offset,
             count(DISTINCT o_custkey) AS active_clients
      FROM c WHERE datediff('month', cd, md) <= 12
      GROUP BY 1, 2 ORDER BY cohort, month_offset"""

  /** Oracle shared by events_hourly, events_stream and
    * events_hourly_json. */
  private[queries] val eventsHourlySql = """
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS heure, event_type,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY heure, event_type"""

  /** Oracle shared by knn_bruteforce and knn_topk_agg. */
  private[queries] val knnBruteforceSql = """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS pemb FROM e WHERE vec_id < 10),
      s AS (SELECT probe_id, e.vec_id AS neighbor_id,
              round(list_cosine_similarity(pemb, emb), 6) AS sim
            FROM p CROSS JOIN e WHERE e.vec_id <> p.probe_id),
      r AS (SELECT probe_id, neighbor_id, sim,
              CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM s)
      SELECT probe_id, neighbor_id, rank, sim FROM r
      WHERE rank <= 5 ORDER BY probe_id, rank"""

  /** Oracle shared by csv_roundtrip and orc_roundtrip. */
  private[queries] val csvRoundtripSql = s"""
      SELECT o_orderstatus, count(*) AS n,
        ${ms("o_totalprice")} AS total,
        count(DISTINCT o_custkey) AS n_customers,
        min(o_orderdate) AS first_date,
        max(o_orderdate) AS last_date
      FROM orders GROUP BY 1 ORDER BY 1"""

  /** Oracle shared by vocab_top and vocab_top_approx. */
  private[queries] val vocabTopSql = """
      SELECT word, count(*) AS n, count(DISTINCT doc_id) AS docs
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY 1 ORDER BY n DESC, word LIMIT 50"""

  /** Oracle shared by events_hopping and events_hopping_stream: hopping
    * windows: every event belongs to exactly slide-ratio (4) windows;
    * starts computed by exact integer-µs floor arithmetic —
    * epoch-aligned, matching Spark's window() origin. */
  private[queries] val eventsHoppingSql = """
      WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      x AS (SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
                                  - i * CAST(900000000 AS BIGINT)) AS w_start, value
            FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i))
      SELECT w_start, count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM x GROUP BY 1 ORDER BY w_start"""

  /** Oracle shared by customer_overlap and customer_overlap_sets: the oracle
    * states the set semantics with INTERSECT/EXCEPT; the engine's fused
    * flag-aggregate must reproduce them exactly. */
  private[queries] val customerOverlapSql = s"""
      WITH a AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE $V AND year(o_orderdate) = 1995),
      b AS (SELECT DISTINCT o_custkey FROM orders
            WHERE $V AND year(o_orderdate) = 1996)
      SELECT n_both, n_only_first, n_only_second,
             round(n_both / (n_both + n_only_first + n_only_second), 6) AS jaccard
      FROM (SELECT
        (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_both,
        (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_only_first,
        (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)) AS n_only_second)"""

  /** Oracle shared by events_asof_price and events_asof_custom. */
  private[queries] val eventsAsofPriceSql = """
      WITH u AS (
        SELECT o_custkey AS key, o_orderdate AS t, o_orderkey AS rid,
               o_totalprice AS price, 1 AS is_order, CAST(NULL AS BIGINT) AS event_id
        FROM orders
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP), event_id, CAST(NULL AS DOUBLE), 0, event_id
        FROM events),
      x AS (SELECT *, last_value(price IGNORE NULLS) OVER (
              PARTITION BY key ORDER BY t, is_order DESC, rid
              ROWS UNBOUNDED PRECEDING) AS last_order_price FROM u)
      SELECT event_id, key AS user_id, t AS ts, last_order_price
      FROM x WHERE is_order = 0 ORDER BY event_id"""
}
