package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import OracleSql._
import SparkEntry._
import Fixtures._

/** Grouping sets, sessionization, export, graph, drift and ML
  * extensions. */
object ExtensionQueries {
  /** Each event's last order price by the customer at event time, through
    * the custom as-of operator (AsOfJoinNode → AsOfJoinStrategy →
    * sort-merge AsOfJoinExec); `tolerance` (µs) nulls stale prices. */
  private def asofPrice(s: SparkSession, d: String, tolerance: Option[Long]): DataFrame =
    graft.plans.AsOf.joinAsOf(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts")),
      Tables.orders(s, d),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      payload = Seq("o_totalprice"), rightTie = Seq("o_orderkey"), tolerance = tolerance)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_totalprice").as("last_order_price"))
      .orderBy("event_id")

  /** The part-part co-occurrence edges both triangle tiers count, on the
    * triangle session (see [[Fixtures.triangleSession]]). */
  private def triangleEdges(s: SparkSession, d: String): DataFrame =
    Gold.itemPairEdges(itemCooc(triangleSession(s), d))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ca_rollup", (s, d) => Serving.caRollup(fact(s, d)),
      Oracle(s"""
      WITH f AS (
        SELECT coalesce(n_name, 'Inconnu') AS pays,
               strftime(o_orderdate, '%Y-%m') AS mois, o_totalprice
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        WHERE $V)
      SELECT coalesce(pays, 'ALL') AS pays, coalesce(mois, 'ALL') AS mois,
             ${ms("o_totalprice")} AS ca
      FROM f GROUP BY ROLLUP(pays, mois) ORDER BY pays, mois""")),
    QuerySpec("ca_cube", (s, d) => Serving.caCube(fact(s, d)),
      Oracle(s"""
      WITH f AS (
        SELECT coalesce(n_name, 'Inconnu') AS pays,
               CAST(year(o_orderdate) AS BIGINT) AS annee, o_totalprice
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        WHERE $V)
      SELECT coalesce(pays, 'ALL') AS pays, coalesce(annee, -1) AS annee,
             ${ms("o_totalprice")} AS ca
      FROM f GROUP BY CUBE(pays, annee) ORDER BY pays, annee""")),
    // explicit GROUPING SETS: only the grains asked for, no grand total
    QuerySpec("ca_grouping_sets", (s, d) => Serving.caGroupingSets(fact(s, d)),
      Oracle(s"""
      WITH f AS (
        SELECT coalesce(n_name, 'Inconnu') AS pays,
               year(o_orderdate) AS annee, o_totalprice
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        WHERE $V)
      SELECT coalesce(pays, 'ALL') AS pays,
             CAST(coalesce(annee, -1) AS BIGINT) AS annee,
             ${ms("o_totalprice")} AS ca
      FROM f GROUP BY GROUPING SETS ((pays, annee), (pays), (annee))
      ORDER BY pays, annee""")),
    // S-family: ORC source/sink round trip, same gate shape as csv_roundtrip
    QuerySpec("orc_roundtrip", (s, d) => {
      val dir = Shared.dir(s, "orc", d)(Tables.orders(s, d).write.mode("overwrite").orc(_))
      roundtripSummary(s.read.schema(Tables.orders(s, d).schema).orc(dir))
    },
      // the ORC reader must reproduce the parquet-path aggregate exactly
      Oracle(csvRoundtripSql)),
    // re-aggregates the shared tf frame (n = Σ tf, docs = row count)
    // instead of running its own corpus explode — same counts
    QuerySpec("vocab_top", (s, d) => Llm.vocabTopFrom(docTf(s, d)), Oracle(vocabTopSql)),
    // bounded-memory heavy-hitters tier: Misra-Gries candidates + exact
    // broadcast-filtered recount — same oracle as the exact tier
    QuerySpec("vocab_top_approx", (s, d) =>
      Llm.vocabTopApproxFrom(Tables.documents(s, d), docTf(s, d)),
      // the sketch tier recounts exactly, so it shares the exact oracle
      Oracle(vocabTopSql)),
    // deterministic epoch shuffle + shard manifest (rand()-free, resumable)
    QuerySpec("shuffle_deterministic", (s, d) => Prep.shuffleDeterministic(Tables.documents(s, d)),
      Oracle(s"""
      SELECT doc_id,
             row_number() OVER (ORDER BY (doc_id + 7) * ${Prep.KnuthC} % 4294967296, doc_id) - 1 AS pos,
             (row_number() OVER (ORDER BY (doc_id + 7) * ${Prep.KnuthC} % 4294967296, doc_id) - 1) // 64 AS shard
      FROM documents ORDER BY doc_id""")),
    // edit-distance-1 similarity join over product-name vocabulary via
    // deletion-neighborhood candidates + exact levenshtein verify
    QuerySpec("typo_pairs", (s, d) => typoPairsF(s, d),
      // the oracle may all-pairs a test-scale vocabulary; the engine may not
      Oracle("""
      WITH vocab AS (
        SELECT DISTINCT word FROM (
          SELECT unnest(string_split_regex(lower(p_name), '\s+')) AS word FROM part)
        WHERE length(word) >= 3)
      SELECT a.word AS w1, b.word AS w2, levenshtein(a.word, b.word) AS dist
      FROM vocab a JOIN vocab b ON a.word < b.word
      WHERE levenshtein(a.word, b.word) <= 1
      ORDER BY w1, w2""")),
    // entity-resolution transitive closure over the typo candidate graph:
    // string-keyed connected components, cluster = min member
    QuerySpec("typo_clusters", (s, d) => Llm.typoClustersFrom(typoPairsF(s, d)),
      // transitive closure of the same candidate graph: recursive min-label
      // propagation — min reachable word == the alternating-star component
      // label (binary string order agrees across engines on this ascii vocab)
      Oracle("""
      WITH RECURSIVE vocab AS (
        SELECT DISTINCT word FROM (
          SELECT unnest(string_split_regex(lower(p_name), '\s+')) AS word FROM part)
        WHERE length(word) >= 3),
      e AS (SELECT a.word AS a, b.word AS b FROM vocab a JOIN vocab b
            ON a.word < b.word AND levenshtein(a.word, b.word) <= 1),
      und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      cc(node, comp) AS (
        SELECT DISTINCT a AS node, a AS comp FROM und
        UNION
        SELECT und.a AS node, cc.comp FROM cc JOIN und ON und.b = cc.node),
      lab AS (SELECT node, min(comp) AS cluster_rep FROM cc GROUP BY 1)
      SELECT node AS word, cluster_rep,
             count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
      FROM lab ORDER BY cluster_rep, word""")),
    // C4-style duplicated-span removal: keep-first across the corpus,
    // documents re-assembled from surviving blocks
    QuerySpec("span_dedup", (s, d) => Llm.spanDedup(Tables.documents(s, d)),
      // keep-first span dedup: same block split as doc_chunks' slices,
      // winner by (doc_id, blk) row_number, re-assembly ordered by blk
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
                 FROM documents),
      k AS (SELECT doc_id, ws, CAST(ceil(len(ws) / 8.0) AS BIGINT) AS nb FROM w),
      b AS (SELECT doc_id, i AS blk,
              array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS block_text
            FROM k, unnest(range(0, nb)) AS t(i)),
      r AS (SELECT *, row_number() OVER (PARTITION BY block_text
                                         ORDER BY doc_id, blk) AS rk FROM b)
      SELECT doc_id, count(*) AS n_blocks,
             CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN rk = 1 THEN block_text END,
                                 ' ' ORDER BY blk), '') AS clean_text
      FROM r GROUP BY 1 ORDER BY doc_id""")),
    // co-purchase PageRank — oracle-checked: 5 fixed power-iteration
    // rounds restated as unrolled DuckDB CTEs, compared on 9dp ranks
    // (see the prRounds float-parity note); GraphSpec pins values too
    QuerySpec("product_rank", (s, d) => Gold.productRankFrom(copurchase(s, d)),
      // fixed-iteration PageRank over the parity-encoded customer-part
      // bipartite graph: 5 unrolled power-iteration rounds, 9dp ranks
      Oracle(s"""
      WITH cp AS (SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  WHERE $V),
      e AS (SELECT c AS src, p AS dst FROM cp UNION ALL SELECT p, c FROM cp),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM deg),
      ew AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
      r0 AS (SELECT src AS id, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
      $prRounds
      SELECT (id - 1) // 2 AS p_partkey, round(rank, 9) AS rank
      FROM r5 WHERE id % 2 = 1
      ORDER BY rank DESC, p_partkey LIMIT 50""")),
    // single-source BFS over the co-purchase graph — the oracle-checked
    // iterative graph op (exact distances vs a recursive CTE)
    QuerySpec("copurchase_distance", (s, d) =>
      Gold.copurchaseDistanceFrom(copurchase(s, d)),
      // depth-bounded recursive UNION keeps every (node, dist) pair it
      // reaches; min() collapses to BFS's first-reach distance. Both
      // engines bound depth identically (emit dist <= 10)
      Oracle(s"""
      WITH RECURSIVE cp AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE $V),
      e AS (SELECT c AS a, p AS b FROM cp UNION ALL SELECT p, c FROM cp),
      s AS (SELECT min(p) AS seed FROM cp),
      bfs AS (
        SELECT seed AS node, 0 AS dist FROM s
        UNION
        SELECT e.b, bfs.dist + 1 FROM bfs JOIN e ON e.a = bfs.node
        WHERE bfs.dist < 10)
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS kind,
             CAST(CASE WHEN node % 2 = 0 THEN node // 2 ELSE (node - 1) // 2 END AS BIGINT) AS node_key,
             CAST(min(dist) AS BIGINT) AS dist
      FROM bfs GROUP BY 1, 2 ORDER BY dist, kind, node_key""")),
    QuerySpec("event_sessions", (s, d) => eventSessionsF(s, d),
      Oracle("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      x AS (SELECT user_id, ts, value,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
      y AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM x),
      z AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM y)
      SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS duration_sec,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM z GROUP BY 1, 2 ORDER BY user_id, session_seq""")),
    // strict ordered funnel: view -> first later click -> first later purchase
    QuerySpec("event_funnel", (s, d) => Serving.eventFunnel(Tables.events(s, d)),
      // previous step's; integer/integer division is double in both engines
      Oracle("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      v AS (SELECT user_id, min(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      SELECT n_view, n_click, n_purchase,
             round(CASE WHEN n_view > 0 THEN n_click / n_view END, 6) AS conv_click,
             round(CASE WHEN n_click > 0 THEN n_purchase / n_click END, 6) AS conv_purchase
      FROM (SELECT (SELECT count(*) FROM v) AS n_view,
                   (SELECT count(*) FROM c) AS n_click,
                   (SELECT count(*) FROM p) AS n_purchase)""")),
    // first-order event-type transition matrix (Markov bigrams)
    QuerySpec("event_transitions", (s, d) => Serving.eventTransitions(Tables.events(s, d)),
      // consecutive pairs under the deterministic (ts, event_id) ordering;
      // n/total is bigint/bigint -> double in both engines
      Oracle("""
      WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      x AS (SELECT event_type AS next_type,
              lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS prev_type
            FROM e),
      pairs AS (SELECT prev_type, next_type, count(*) AS n FROM x
                WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS total FROM pairs GROUP BY 1)
      SELECT pairs.prev_type, pairs.next_type, pairs.n,
             round(pairs.n / t.total, 6) AS p
      FROM pairs JOIN t USING (prev_type)
      ORDER BY prev_type, next_type""")),
    // top per-session event-type paths (journey analysis)
    QuerySpec("session_paths", (s, d) => Serving.sessionPaths(Tables.events(s, d)),
      // ordered string_agg mirrors the engine's in-aggregate struct sort
      Oracle("""
      WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev_ts FROM e),
      y AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
            FROM x),
      z AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS session_seq FROM y),
      p AS (SELECT user_id, session_seq,
              string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM z GROUP BY 1, 2)
      SELECT path, count(*) AS n_sessions FROM p
      GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10""")),
    // gaps-and-islands -> SCD2 validity intervals (single exchange)
    QuerySpec("user_state_intervals", (s, d) =>
      Serving.userStateIntervals(Tables.events(s, d)),
      // islands via lag-change flag + running sum; valid_to closed by lead
      Oracle("""
      WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      x AS (SELECT *, CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg FROM e),
      z AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS state_seq FROM x),
      g AS (SELECT user_id, state_seq, min(event_type) AS state,
              min(ts) AS valid_from, count(*) AS n_events
            FROM z GROUP BY 1, 2)
      SELECT user_id, state_seq, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY state_seq) AS valid_to,
             n_events
      FROM g ORDER BY user_id, state_seq""")),
    // RANGE-frame rolling 7 calendar days over sparse daily pre-aggregates
    QuerySpec("events_rolling_range", (s, d) =>
      Serving.eventsRollingRange(Tables.events(s, d)),
      // RANGE frame over integer epoch days — interval look-back across
      // sparse dates (a rows-frame would widen across gaps)
      Oracle("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
               CAST(sum(round(value*100)) AS BIGINT) AS cents
             FROM events GROUP BY 1, 2),
      x AS (SELECT *, (d - DATE '1970-01-01') AS dd FROM daily)
      SELECT event_type, d, n, round(cents / 100.0, 2) AS total,
             CAST(sum(n) OVER w AS BIGINT) AS roll_n,
             round(CAST(sum(cents) OVER w AS BIGINT) / 100.0, 2) AS roll_total
      FROM x
      WINDOW w AS (PARTITION BY event_type ORDER BY dd
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY event_type, d""")),
    // batch MERGE INTO: keyed changeset (U/D ops) applied to a base
    // snapshot via one key-unique full-outer join
    QuerySpec("merge_upsert", (s, d) => Gold.mergeUpsert(
      Gold.mergeBase(Tables.orders(s, d), "1995-12-31"),
      Gold.mergeChanges(Tables.orders(s, d), "1995-12-31")),
      // MERGE semantics stated as the full-outer-join rewrite: matched U
      // accumulates, matched D drops, unmatched U inserts, unmatched D no-ops
      Oracle(s"""
      WITH base AS (SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(round(o_totalprice*100)) AS BIGINT) AS cents
             FROM orders WHERE $V AND o_orderdate <= DATE '1995-12-31' GROUP BY 1),
      chg AS (SELECT o_custkey, count(*) AS c_n,
               CAST(sum(round(o_totalprice*100)) AS BIGINT) AS c_cents,
               CASE WHEN o_custkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
             FROM orders WHERE $V AND o_orderdate > DATE '1995-12-31' GROUP BY 1, 4)
      SELECT coalesce(base.o_custkey, chg.o_custkey) AS o_custkey,
             CAST(coalesce(base.n_orders, 0) + coalesce(chg.c_n, 0) AS BIGINT) AS n_orders,
             round((coalesce(base.cents, 0) + coalesce(chg.c_cents, 0)) / 100.0, 2) AS total
      FROM base FULL JOIN chg ON base.o_custkey = chg.o_custkey
      WHERE chg.op IS NULL OR chg.op = 'U'
      ORDER BY o_custkey""")),
    // triangle membership over the part-part co-occurrence graph
    // (ordered-wedge enumeration; rank/reach/cohesion triple complete)
    // runs on [[triangleSession]] (AQE SHJ conversion off): the endpoint
    // joins' array payloads must never hash-build — sf1 OOM otherwise
    QuerySpec("copurchase_triangles", (s, d) =>
      Gold.copurchaseTrianglesFrom(triangleEdges(s, d)),
      // ordered-wedge triangle enumeration (a<b<c); every triangle counts
      // once for each of its three corners
      Oracle("""
      WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT x.p AS a, y.p AS b
            FROM items x JOIN items y ON x.o = y.o AND x.p < y.p),
      t AS (SELECT e1.a, e1.b, e2.b AS c
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT p_partkey, count(*) AS n_triangles
      FROM (SELECT a AS p_partkey FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
      GROUP BY 1 ORDER BY n_triangles DESC, p_partkey LIMIT 20""")),
    // DOULION edge-sparsified tier of the same counting core: keep each
    // edge by a deterministic hash coin (p=1/2), scale counts by invP³ —
    // the wedge stage (the exact tier's quadratic-in-degree scaler) runs
    // on ~1/4 the wedges. Rows-gated: estimates, not exact counts
    // (GoldSpec pins the relative-error floor vs the exact tier)
    QuerySpec("copurchase_triangles_approx", (s, d) =>
      Gold.copurchaseTrianglesApprox(triangleEdges(s, d)),
      // DOULION tier checked by a full oracle: the edge coin is
      // pmod(xxhash64(a, b, 42L), 2) — three chained XXH64 long-steps
      // restated in wrapping HUGEINT arithmetic (validated bit-equal to
      // Spark on probes) — then the SAME triangle SQL as the exact tier
      // runs on the kept edges and counts scale by invP³ = 8. The
      // estimate itself is deterministic (hash coin, not randomness), so
      // exact cross-engine equality is the right gate.
      Oracle(s"""
      WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
             FROM items x JOIN items y ON x.o = y.o AND x.p < y.p),
      eh AS (SELECT a, b, a::HUGEINT AS ah, b::HUGEINT AS bh FROM e0),
      ${xxLong("cn1", "eh", "a, b, bh", "ah", "42::HUGEINT", "h1")},
      ${xxLong("cn2", "cn1", "a, b", "bh", "h1", "h2")},
      ${xxLong("cn3", "cn2", "a, b", "42::HUGEINT", "h2", "h3")},
      e AS (SELECT a, b FROM cn3 WHERE h3 % 2 = 0),
      t AS (SELECT e1.a, e1.b, e2.b AS c
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT p_partkey, CAST(count(*) * 8 AS BIGINT) AS n_triangles_est
      FROM (SELECT a AS p_partkey FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
      GROUP BY 1 ORDER BY n_triangles_est DESC, p_partkey LIMIT 20""")),
    // weighted label-propagation communities over the same shared
    // co-occurrence frame; memoized — the modularity query reads the
    // same partition. Oracle-checked: 5 unrolled exact-integer-argmax
    // LPA rounds restated as DuckDB CTEs
    QuerySpec("product_communities", (s, d) => lpaCommunities(s, d),
      // 5 unrolled deterministic LPA rounds over the support-pruned
      // co-purchase graph — integer weights, total-order tie-break
      Oracle(s"""$lpaSql,
      sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
                FROM l5 GROUP BY 1)
      SELECT l.v AS p_partkey, l.label AS community, s.community_size
      FROM l5 l JOIN sizes s USING (label)
      ORDER BY p_partkey""")),
    // cohesive-subgraph extraction: 3-core of the same pruned graph via
    // iterative peel (16-round contract, early stop at the fixpoint)
    QuerySpec("product_kcore", (s, d) =>
      Graph.kCore(communityEdges(s, d)).withColumnRenamed("v", "p_partkey"),
      // 16 unrolled peel rounds over the same support-pruned graph; the
      // final degrees are the in-core degrees
      Oracle(s"""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      cooc AS (SELECT a.p AS p1, b.p AS p2
               FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= ${Gold.CommunityMinSupport}),
      e0 AS (SELECT p1 AS a, p2 AS b FROM cooc),
      $kcoreRounds
      SELECT v AS p_partkey, CAST(count(*) AS BIGINT) AS core_deg
      FROM (SELECT a AS v FROM e16 UNION ALL SELECT b FROM e16)
      GROUP BY 1 ORDER BY 1""")),
    // partition quality: Newman modularity of the LPA communities over
    // the SAME support-pruned edge frame (one builder feeds both calls,
    // so the two can never drift onto different graphs); Q folds to
    // A/m - B/(4m^2) from exact integer sums -> oracle-checked
    QuerySpec("community_modularity", (s, d) => Gold.communityModularity(
      communityEdges(s, d),
      lpaCommunities(s, d)
        .select(col("p_partkey").as("v"), col("community").as("label"))),
      // Newman Q = A/m - B/(4m^2) from exact integer sums over the SAME
      // pruned edges + LPA labels; the single float expression is
      // evaluated identically by both engines on the same three integers
      Oracle(s"""$lpaSql,
      j AS (SELECT e.w, la.label AS ca, lb.label AS cb
            FROM cooc e JOIN l5 la ON e.p1 = la.v JOIN l5 lb ON e.p2 = lb.v),
      deg AS (SELECT c, CAST(sum(w) AS BIGINT) AS d
              FROM (SELECT ca AS c, w FROM j UNION ALL SELECT cb, w FROM j)
              GROUP BY 1),
      intra AS (SELECT ca AS c, CAST(sum(w) AS BIGINT) AS win
                FROM j WHERE ca = cb GROUP BY 1),
      agg AS (SELECT CAST(sum(coalesce(i.win, 0)) AS BIGINT) AS a,
                     CAST(sum(CAST(d.d AS HUGEINT) * d.d) AS DOUBLE) AS b,
                     CAST(sum(d.d) AS BIGINT) // 2 AS m
              FROM deg d LEFT JOIN intra i USING (c))
      SELECT CAST((SELECT count(DISTINCT label) FROM l5) AS BIGINT) AS n_communities,
             round(a / m - b / (4.0 * m * m), 6) AS modularity
      FROM agg""")),
    // first BPE merge round: char-pair counts at VOCAB grain off the
    // shared term-frequency frame (pair expansion never sees the corpus)
    QuerySpec("bpe_pairs", (s, d) => Llm.bpePairsFrom(docTf(s, d)),
      // pair counts weighted by word frequency; tokenization identical to
      // vocab_top's; generate_series(1,0) is empty so 1-char words vanish
      Oracle("""
      WITH v AS (SELECT word, count(*) AS n
                 FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
                       FROM documents)
                 WHERE word <> '' GROUP BY 1),
      p AS (SELECT substr(word, i, 2) AS pair, n
            FROM (SELECT word, n, unnest(generate_series(1, length(word) - 1)) AS i
                  FROM v))
      SELECT pair, CAST(sum(n) AS BIGINT) AS n
      FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""")),
    // iterated greedy merge learning — oracle-checked: the merge fold
    // restates positionally (run-parity rule, see bpeRounds) so all 5
    // rounds cross-check in DuckDB; LlmSpec hand-computes the table too
    QuerySpec("bpe_learn", (s, d) => bpeCore(s, d)._1,
      // the full iterative BPE build: greedy merge picks are exact integer
      // argmax + deterministic tie-break, the rewrite is the positional
      // run-parity rule — see bpeRounds
      Oracle(s"""$bpeSql
      SELECT r AS round, x, y, c AS n FROM (
        SELECT 1 AS r, * FROM m1 UNION ALL SELECT 2, * FROM m2
        UNION ALL SELECT 3, * FROM m3 UNION ALL SELECT 4, * FROM m4
        UNION ALL SELECT 5, * FROM m5)
      ORDER BY round""")),
    // the encode pass: corpus token counts under the learned merges
    // (oracle-checked via the same unrolled rounds) — reuses the
    // session-shared learn loop's final vocabulary (see bpeCore)
    QuerySpec("bpe_tokenize", (s, d) => Llm.bpeTokenizeFrom(bpeCore(s, d)._2),
      // the encode pass under the same learned merges: corpus token
      // counts over the vocabulary after the fifth merge (v5)
      Oracle(s"""$bpeSql
      SELECT token, CAST(sum(n) AS BIGINT) AS n FROM (
        SELECT unnest(syms) AS token, n FROM v5)
      GROUP BY 1 ORDER BY n DESC, token LIMIT 30""")),
    // temperature-weighted domain-mixing plan (shares ∝ n^0.7)
    QuerySpec("sample_temperature", (s, d) => Prep.sampleTemperature(Tables.documents(s, d)),
      // keep_rate reads the ROUNDED share (the engine computes it from the
      // published 6dp share, so the oracle must too)
      Oracle("""
      WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      t AS (SELECT source, n_docs, pow(n_docs, 0.7) AS w FROM s)
      SELECT source, n_docs, round(w, 6) AS weight,
             round(w / sum(w) OVER (), 6) AS share,
             round(least(1.0, 1000 * round(w / sum(w) OVER (), 6) / n_docs), 6)
               AS keep_rate
      FROM t ORDER BY source""")),
    // order-independent modular row checksum (migration validation: one
    // scan, commutative combine, no sort)
    QuerySpec("table_checksum", (s, d) => Catalog.tableChecksum(Tables.orders(s, d)),
      // the Horner fold restated one step per CTE; DuckDB date-date is
      // already integer days
      Oracle("""
      WITH s0 AS (SELECT o_orderkey % 2147483647 AS acc,
               o_custkey % 2147483647 AS v1,
               ascii(o_orderstatus) AS v2,
               CAST(round(o_totalprice*100) AS BIGINT) % 2147483647 AS v3,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS v4
             FROM orders),
      s1 AS (SELECT (acc * 1000003 + v1) % 2147483647 AS acc, v2, v3, v4 FROM s0),
      s2 AS (SELECT (acc * 1000003 + v2) % 2147483647 AS acc, v3, v4 FROM s1),
      s3 AS (SELECT (acc * 1000003 + v3) % 2147483647 AS acc, v4 FROM s2),
      s4 AS (SELECT (acc * 1000003 + v4) % 2147483647 AS acc FROM s3)
      SELECT count(*) AS n_rows, CAST(sum(acc) AS BIGINT) AS checksum FROM s4""")),
    // the sampling capstone: EXECUTE the temperature plan (broadcast the
    // |sources|-row rate table, ppm-hash keep decision per row)
    QuerySpec("sample_mix_temperature", (s, d) =>
      Prep.sampleMixTemperature(Tables.documents(s, d)),
      // plan rates restated verbatim, then the ppm keep decision per doc
      Oracle("""
      WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      t AS (SELECT source, n_docs, pow(n_docs, 0.7) AS w FROM s),
      p AS (SELECT source,
              round(least(1.0, 1000 * round(w / sum(w) OVER (), 6) / n_docs), 6)
                AS keep_rate
            FROM t),
      p2 AS (SELECT source, keep_rate,
               CAST(round(keep_rate * 1000000) AS BIGINT) AS keep_ppm FROM p),
      j AS (SELECT d.source, d.doc_id, p2.keep_ppm, p2.keep_rate
            FROM documents d JOIN p2 USING (source))
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN floor(((doc_id + 23) * 2654435761) % 4294967296
                              * 1000000 / 4294967296) < keep_ppm
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        min(keep_rate) AS keep_rate
      FROM j GROUP BY 1 ORDER BY source""")),
    // OLS trend from exact mergeable moments (no solver, one pass)
    QuerySpec("spend_trend", (s, d) => Serving.spendTrendFrom(dailyDenseF(s, d)),
      // the dense-series prologue, then OLS as ratios of exact moments
      Oracle(s"""
      WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS jour, ${ms("o_totalprice")} AS ca
        FROM orders WHERE $V GROUP BY 1),
      b AS (SELECT min(jour) AS lo, max(jour) AS hi FROM d),
      m AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS jour
            FROM b),
      sr AS (SELECT m.jour, coalesce(d.ca, 0.0) AS ca
             FROM m LEFT JOIN d ON m.jour = d.jour),
      x0 AS (SELECT (jour - (SELECT min(jour) FROM sr)) AS x,
               CAST(round(ca*100) AS BIGINT) AS y FROM sr),
      mom AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM x0)
      SELECT CAST(n AS BIGINT) AS n,
        round(((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
               nullif(n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0))
              / 100.0, 6) AS slope_per_day,
        round((CAST(sy AS DOUBLE)/n -
               (n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
               nullif(n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0) *
               (CAST(sx AS DOUBLE)/n)) / 100.0, 6) AS intercept,
        round(((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) *
               (n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))) /
              nullif((n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
               (n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)), 0),
              6) AS r2
      FROM mom""")),
    // Pearson correlations from exact decimal moment sums (mergeable form)
    QuerySpec("feature_corr", (s, d) => Gold.featureCorr(feats(s, d)),
      // correlations restated from the same exact integer moments — never
      // from a float-summing corr() aggregate
      Oracle(s"""$featsCte,
      mom AS (SELECT count(*) AS n,
        sum(freq_12m) AS sx,
        sum(CAST(round(monetary_12m*100) AS BIGINT)) AS sy,
        sum(recency_days) AS sz,
        sum(freq_12m*freq_12m) AS sxx,
        sum(CAST(round(monetary_12m*100) AS BIGINT)*CAST(round(monetary_12m*100) AS BIGINT)) AS syy,
        sum(recency_days*recency_days) AS szz,
        sum(freq_12m*CAST(round(monetary_12m*100) AS BIGINT)) AS sxy,
        sum(freq_12m*recency_days) AS sxz,
        sum(CAST(round(monetary_12m*100) AS BIGINT)*recency_days) AS syz
        FROM feats)
      SELECT x_name, y_name, CAST(n AS BIGINT) AS n, corr FROM (
        SELECT 'freq_12m' AS x_name, 'monetary_12m' AS y_name, n,
          round((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
            sqrt((n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                 (n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS corr
        FROM mom
        UNION ALL
        SELECT 'freq_12m', 'recency_days', n,
          round((n*CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sz AS DOUBLE)) /
            sqrt((n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                 (n*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))), 6)
        FROM mom
        UNION ALL
        SELECT 'monetary_12m', 'recency_days', n,
          round((n*CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sz AS DOUBLE)) /
            sqrt((n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) *
                 (n*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))), 6)
        FROM mom)
      ORDER BY x_name, y_name""")),
    // deterministic 50/50 experiment read-out with Welch's t
    QuerySpec("ab_metrics", (s, d) => Gold.abMetrics(Tables.orders(s, d)),
      Oracle(s"""
      WITH s AS (SELECT
          CASE WHEN floor(((o_custkey + 17) * 2654435761) % 4294967296 * 100
                          / 4294967296) < 50 THEN 1 ELSE 0 END AS a,
          CAST(round(o_totalprice*100) AS BIGINT) AS c
        FROM orders WHERE $V),
      m AS (SELECT
          CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
          sum(CASE WHEN a = 1 THEN c ELSE 0 END) AS s_a,
          sum(CASE WHEN a = 0 THEN c ELSE 0 END) AS s_b,
          sum(CASE WHEN a = 1 THEN c*c ELSE 0 END) AS ss_a,
          sum(CASE WHEN a = 0 THEN c*c ELSE 0 END) AS ss_b
        FROM s),
      r AS (SELECT n_a, n_b,
          CAST(s_a AS DOUBLE) / nullif(n_a, 0) / 100.0 AS mean_a,
          CAST(s_b AS DOUBLE) / nullif(n_b, 0) / 100.0 AS mean_b,
          (n_a * CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE)*CAST(s_a AS DOUBLE))
            / nullif(n_a * (n_a - 1), 0) / 10000.0 AS var_a,
          (n_b * CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE)*CAST(s_b AS DOUBLE))
            / nullif(n_b * (n_b - 1), 0) / 10000.0 AS var_b
        FROM m)
      SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
             round(var_a, 6) AS var_a, round(var_b, 6) AS var_b,
             round((mean_a - mean_b)
                   / nullif(sqrt(var_a / n_a + var_b / n_b), 0), 6) AS welch_t
      FROM r""")),
    // robust (median/MAD) twin of gold_daily_anomaly
    QuerySpec("gold_daily_anomaly_robust", (s, d) =>
      Serving.dailyAnomalyRobustFrom(dailyDenseF(s, d)),
      // is_anomaly reads the ROUNDED z, like the engine's withColumn chain
      Oracle(s"""
      WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS jour, ${ms("o_totalprice")} AS ca
        FROM orders WHERE $V GROUP BY 1),
      b AS (SELECT min(jour) AS lo, max(jour) AS hi FROM d),
      m AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS jour
            FROM b),
      sr AS (SELECT m.jour, coalesce(d.ca, 0.0) AS ca
             FROM m LEFT JOIN d ON m.jour = d.jour),
      st AS (SELECT quantile_cont(ca, 0.5) AS med FROM sr),
      st2 AS (SELECT quantile_cont(abs(ca - (SELECT med FROM st)), 0.5) AS mad FROM sr),
      z AS (SELECT jour, ca,
              round((ca - (SELECT med FROM st)) /
                nullif(1.4826 * (SELECT mad FROM st2), 0.0), 6) AS robust_z
            FROM sr)
      SELECT jour, ca, robust_z,
             coalesce(abs(robust_z) > 3.5, false) AS is_anomaly
      FROM z ORDER BY jour""")),
    // drift check: PSI of the 1997 amount distribution against 1996's
    // exact decile edges, per-bucket terms from exact counts
    QuerySpec("spend_psi", (s, d) => Serving.spendPsi(Tables.orders(s, d)),
      // PSI against 1996's exact decile edges (quantile_cont ==
      // Spark `percentile`, the gold_distribution_quantile precedent);
      // per-bucket terms from exact counts, NULL where 1997 is absent
      Oracle("""
      WITH a AS (SELECT o_totalprice AS amount FROM orders
                 WHERE year(o_orderdate) = 1996),
      b AS (SELECT o_totalprice AS amount FROM orders
            WHERE year(o_orderdate) = 1997),
      e AS (SELECT quantile_cont(amount,
              [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ed FROM a),
      na AS (SELECT count(*) AS n FROM a), nb AS (SELECT count(*) AS n FROM b),
      ba AS (SELECT CAST(len(list_filter((SELECT ed FROM e),
                                         x -> amount >= x)) AS BIGINT) AS bucket,
                    count(*) AS n_a
             FROM a GROUP BY 1),
      bb AS (SELECT CAST(len(list_filter((SELECT ed FROM e),
                                         x -> amount >= x)) AS BIGINT) AS bucket,
                    count(*) AS n_b
             FROM b GROUP BY 1)
      SELECT coalesce(ba.bucket, bb.bucket) AS bucket,
             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
             CASE WHEN coalesce(n_a, 0) > 0 AND coalesce(n_b, 0) > 0 THEN
               round((n_a / CAST((SELECT n FROM na) AS DOUBLE)
                      - n_b / CAST((SELECT n FROM nb) AS DOUBLE))
                     * ln((n_a / CAST((SELECT n FROM na) AS DOUBLE))
                          / (n_b / CAST((SELECT n FROM nb) AS DOUBLE))), 6)
             END AS psi_term
      FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket
      ORDER BY bucket""")),
    // drift check: exact two-sample KS via all-integer CDF gaps over the
    // distributed-rank machinery (no single-partition window)
    QuerySpec("spend_ks", (s, d) => Serving.spendKs(Tables.orders(s, d)),
      // exact KS: all-integer CDF gaps |cumA·n_b − cumB·n_a| maximized over
      // pooled distinct amounts; the one float is the final normalization
      Oracle("""
      WITH p AS (
        SELECT o_totalprice AS amount,
               CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END AS ia,
               CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END AS ib
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
      g AS (SELECT amount, CAST(sum(ia) AS BIGINT) AS ca,
                   CAST(sum(ib) AS BIGINT) AS cb FROM p GROUP BY 1),
      c AS (SELECT amount,
                   CAST(sum(ca) OVER (ORDER BY amount) AS BIGINT) AS cum_a,
                   CAST(sum(cb) OVER (ORDER BY amount) AS BIGINT) AS cum_b
            FROM g),
      nn AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                    CAST(sum(cb) AS BIGINT) AS nb FROM g),
      gaps AS (SELECT amount,
                      abs(cum_a * (SELECT nb FROM nn)
                          - cum_b * (SELECT na FROM nn)) AS gap
               FROM c)
      SELECT round(gap / ((SELECT na FROM nn) * CAST((SELECT nb FROM nn) AS DOUBLE)), 6) AS ks_stat,
             round(amount, 2) AS at_amount,
             (SELECT na FROM nn) AS n_a, (SELECT nb FROM nn) AS n_b
      FROM gaps ORDER BY gap DESC, amount LIMIT 1""")),
    // schema evolution: v1 files lack o_orderdate; the mergeSchema read
    // must surface it as null for v1 rows and aggregate across both
    QuerySpec("schema_evolution", (s, d) => {
      val base = Shared.dir(s, "evo", d) { base =>
        val o = Tables.orders(s, d)
        o.filter(year(col("o_orderdate")) <= 1995).drop("o_orderdate")
          .write.mode("overwrite").parquet(s"$base/v1")
        o.filter(year(col("o_orderdate")) > 1995)
          .write.mode("overwrite").parquet(s"$base/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Tables.moneySum(col("o_totalprice")).as("total"),
          count(col("o_orderdate")).as("n_dated"),
          min("o_orderdate").as("first_date"),
          max("o_orderdate").as("last_date"))
        .orderBy("o_orderstatus")
    },
      // v1 rows (≤1995, written without the column) must read back as null
      Oracle(s"""
      WITH u AS (SELECT o_orderstatus, o_totalprice,
               CASE WHEN year(o_orderdate) > 1995 THEN o_orderdate END AS o_orderdate
             FROM orders)
      SELECT o_orderstatus, count(*) AS n,
             ${ms("o_totalprice")} AS total,
             count(o_orderdate) AS n_dated,
             min(o_orderdate) AS first_date,
             max(o_orderdate) AS last_date
      FROM u GROUP BY 1 ORDER BY 1""")),
    // co-located join over bucketed twins of orders/lineitem: the write
    // (memoized, the amortized one-time cost) buckets both sides on the
    // order key, so the per-run join plans with ZERO shuffle exchanges
    // (BucketingSpec pins the plan); the agg proves the join's content
    // against the plain-join oracle
    QuerySpec("bucketed_join", (s, d) => {
      // catalog table names are session-global, so they carry a dir-hash
      // suffix — a second data dir in the same session writes its OWN
      // tables instead of silently repointing the first dir's. SHA-256
      // prefix, not String.hashCode: correctness (not just caching) rests
      // on collision-freedom here
      val sfx = "_" + java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      // external-path location for the bucketed twins; the write is the
      // one-time amortized cost, the per-run query is the shuffle-free
      // join it buys
      Shared.dir(s, "bucket", d)(base =>
        Bucketing.cooLocatedOrderLines(s, d, path = Some(base), suffix = sfx))
      s.table(s"graft_orders_b$sfx").join(s.table(s"graft_lineitem_b$sfx"), Seq("key"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          Tables.moneySum(col("l_extendedprice")).as("ca"))
        .orderBy("o_orderstatus")
    },
      // the bucketed twins must agree with the PLAIN join of the source
      // tables — bucketing is a layout property, never a semantic one
      Oracle("""
      SELECT o_orderstatus, count(*) AS n_lines,
             sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS ca
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1""")),
    // batch hopping-window aggregate (hourly totals every 15 min)
    QuerySpec("events_hopping", (s, d) => Serving.eventsHopping(Tables.events(s, d)),
      Oracle(eventsHoppingSql)),
    // semi-structured: typed from_json extraction of the props column
    QuerySpec("events_props", (s, d) => Serving.eventsPropsAgg(Tables.events(s, d)),
      Oracle("""
      SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k,
             count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY 1 ORDER BY k""")),
    // streaming twin of events_hopping (same oracle): sliding window
    // under a watermark, state = slide-ratio x live windows
    QuerySpec("events_hopping_stream", (s, d) => Streams.eventsHoppingStreamed(s, d),
      // streaming twin shares the batch hopping oracle
      Oracle(eventsHoppingSql)),
    // interval-overlap self-join: concurrent user-session pairs via
    // hour-bin candidates + exact overlap verify + pair-key dedup
    QuerySpec("session_overlaps", (s, d) =>
      Serving.sessionOverlapsFrom(eventSessionsF(s, d)),
      // the oracle states the RAW symmetric-overlap predicate — any
      // bin-replication slip (missed cross-bin pair, double count)
      // hash-mismatches immediately
      Oracle("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      x AS (SELECT user_id, ts,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
      y AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
            FROM x),
      z AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM y),
      s AS (SELECT user_id, session_seq, min(ts) AS session_start,
              max(ts) AS session_end FROM z GROUP BY 1, 2),
      p AS (SELECT a.user_id AS user_a, b.user_id AS user_b
            FROM s a JOIN s b ON a.user_id < b.user_id
              AND a.session_start <= b.session_end
              AND b.session_start <= a.session_end)
      SELECT user_a, user_b, count(*) AS n_overlaps
      FROM p GROUP BY 1, 2 ORDER BY n_overlaps DESC, user_a, user_b LIMIT 20""")),
    // growth accounting: first-month contribution + running total
    QuerySpec("customers_cumulative", (s, d) =>
      Serving.customersCumulative(Tables.orders(s, d)),
      // each customer counts once, at their first month
      Oracle(s"""
      WITH f AS (SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS mois
                 FROM orders WHERE $V GROUP BY 1),
      m AS (SELECT mois, count(*) AS n_new FROM f GROUP BY 1)
      SELECT mois, n_new,
             CAST(sum(n_new) OVER (ORDER BY mois ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_cumulative
      FROM m ORDER BY mois""")),
    // MoM active/retained/new/churned via mi-1 equi-joins (gap-safe)
    QuerySpec("customer_churn_monthly", (s, d) =>
      Serving.customerChurnMonthly(Tables.orders(s, d)),
      // retained joins act to itself on mi-1; prev_active joins the
      // month frame on mi-1 (no lag across gaps)
      Oracle(s"""
      WITH act AS (SELECT DISTINCT o_custkey,
               year(o_orderdate)*12 + month(o_orderdate) - 1 AS mi
             FROM orders WHERE $V),
      a AS (SELECT mi, count(*) AS n_active FROM act GROUP BY 1),
      r AS (SELECT cur.mi, count(*) AS n_retained
            FROM act cur JOIN act prv
              ON cur.o_custkey = prv.o_custkey AND prv.mi = cur.mi - 1
            GROUP BY 1)
      SELECT CAST(a.mi // 12 AS BIGINT) AS annee,
             CAST(a.mi % 12 + 1 AS BIGINT) AS mois,
             a.n_active,
             coalesce(r.n_retained, 0) AS n_retained,
             a.n_active - coalesce(r.n_retained, 0) AS n_new,
             coalesce(p.n_active, 0) - coalesce(r.n_retained, 0) AS n_churned
      FROM a LEFT JOIN r ON a.mi = r.mi
             LEFT JOIN a p ON p.mi = a.mi - 1
      ORDER BY annee, mois""")),
    // sliding 6h distinct users hourly — exact (6x event expansion)…
    QuerySpec("events_sliding_uniques", (s, d) =>
      Serving.eventsSlidingUniques(Tables.events(s, d)),
      // each event expanded to its 6 covering hour-grid window starts
      Oracle("""
      WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
      x AS (SELECT date_trunc('hour', ts) - to_hours(off) AS w_start, user_id
            FROM (SELECT ts, user_id, unnest(generate_series(0, 5)) AS off FROM e))
      SELECT w_start, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      FROM x GROUP BY 1 ORDER BY w_start""")),
    // …and the mergeable tier: hour-grain HLL sketches, 6-way unions
    // (expansion moves to the 24-rows/day sketch frame; one corpus pass)
    QuerySpec("events_sliding_uniques_approx", (s, d) =>
      Serving.eventsSlidingUniquesApprox(Tables.events(s, d)),
      // a DataSketches HLL estimate is stable in value across merge orders,
      // but its double representation wobbles in the last digits (the
      // union's register layout follows partial-buffer arrival order), so
      // the estimates are digested at the 3 significant digits they promise
      Digest(Map(
        "sf0.001" -> "725:16bf8668596b3d69d4",
        "sf0.01" -> "725:170b24edf441734f7f",
        "sf0.1" -> "725:16b2cc5d976c5f38f9"),
        df => df.withColumn("n_users_approx", Digests.sig3(col("n_users_approx"))))),
    // the SQL surface as a first-class API: the ca_monthly semantics as
    // pure SQL TEXT over the registered views (Catalyst plans it to the
    // same shape as the DataFrame form; same oracle)
    QuerySpec("sql_ca_monthly", (s, d) => {
      Catalog.registerTables(s, d)
      s.sql(s"""
        SELECT date_format(o_orderdate, 'yyyy-MM') AS mois,
               -- 100.0D: a bare 100.0 parses as DECIMAL in SQL text (unlike
               -- the DataFrame API's lit(100.0)) and would change ca's type
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D AS ca
        FROM orders
        WHERE o_totalprice > 0 AND o_totalprice <= ${Gold.MaxAmount}
        GROUP BY 1 ORDER BY mois""")
    },
      Oracle(caMonthlySql)),
    // set-operation family: year-over-year customer overlap — fused
    // one-pass flags, the Intersect/Except operator form (same oracle),
    // and the mergeable-sketch tier (rows-only + error-bound spec)
    QuerySpec("customer_overlap", (s, d) => Gold.customerOverlap(Tables.orders(s, d)),
      Oracle(customerOverlapSql)),
    QuerySpec("customer_overlap_sets", (s, d) => Gold.customerOverlapSets(Tables.orders(s, d)),
      // Spark's Intersect/Except operator form must agree with the fused pass
      Oracle(customerOverlapSql)),
    QuerySpec("customer_overlap_approx", (s, d) => Gold.customerOverlapApprox(Tables.orders(s, d)),
      // bounded-error oracle: each HLL estimate (lgK=12, rsd≈1.6%, 5σ≈8%
      // → 0.10 bound, absolute floor 5) against its exact set count; the
      // inclusion-exclusion overlap compounds three estimates, so its
      // bound is on the combined scale
      Oracle(s"""
      WITH est AS (SELECT * FROM read_parquet('$OutDirToken/customer_overlap_approx/*.parquet')),
      a AS (SELECT DISTINCT o_custkey FROM orders
            WHERE $V AND year(o_orderdate) = 1995),
      b AS (SELECT DISTINCT o_custkey FROM orders
            WHERE $V AND year(o_orderdate) = 1996),
      x AS (SELECT
        (SELECT count(*) FROM a) AS n1, (SELECT count(*) FROM b) AS n2,
        (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS nu,
        (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS nb)
      SELECT
        CASE WHEN abs(est.n_first - x.n1) <= greatest(0.10 * x.n1, 5)
             THEN est.n_first ELSE -1 END AS n_first,
        CASE WHEN abs(est.n_second - x.n2) <= greatest(0.10 * x.n2, 5)
             THEN est.n_second ELSE -1 END AS n_second,
        CASE WHEN abs(est.n_union - x.nu) <= greatest(0.10 * x.nu, 5)
             THEN est.n_union ELSE -1 END AS n_union,
        CASE WHEN abs(est.n_both_approx - x.nb) <= greatest(0.10 * (x.n1 + x.n2), 5)
             THEN est.n_both_approx ELSE -1 END AS n_both_approx
      FROM est, x""")),
    // time-range join (interval predicate family): per-purchase trailing-
    // hour click count via window-sized time bins as the equi-join key
    QuerySpec("events_range_join", (s, d) => Serving.clicksBeforePurchase(Tables.events(s, d)),
      // the oracle states the interval predicate directly; the engine's
      // time-bin equi-join must produce the identical match set
      Oracle("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                 FROM events),
      p AS (SELECT event_id, user_id, ts AS p_ts FROM e WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts AS c_ts FROM e WHERE event_type = 'click'),
      m AS (SELECT p.event_id, count(*) AS n_clicks
            FROM p JOIN c ON p.user_id = c.user_id
              AND c.c_ts >= p.p_ts - INTERVAL 60 MINUTE AND c.c_ts < p.p_ts
            GROUP BY 1)
      SELECT p.event_id, p.user_id, p.p_ts, coalesce(m.n_clicks, 0) AS n_clicks
      FROM p LEFT JOIN m USING (event_id) ORDER BY p.event_id""")),
    // multi-touch attribution: linear + integer-weight time-decay credit
    // per (purchase, click) over the same bin-quantized range join
    QuerySpec("attribution_credit", (s, d) =>
      Serving.attributionCredit(Tables.events(s, d)),
      // exact-integer triangular decay weights (window − age + 1 µs): the
      // per-purchase weight sum is a long, shares are one division per row
      Oracle("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                        event_type, value FROM events),
      p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us, value
            FROM e WHERE event_type = 'purchase'),
      c AS (SELECT user_id, epoch_us(ts) AS c_us FROM e WHERE event_type = 'click'),
      m AS (SELECT p.event_id, p.user_id, p.p_us, p.value, c.c_us,
                   3600000000 - (p.p_us - c.c_us) + 1 AS wi
            FROM p JOIN c ON p.user_id = c.user_id
              AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us),
      t AS (SELECT *, count(*) OVER (PARTITION BY event_id) AS n_clicks,
                   CAST(sum(wi) OVER (PARTITION BY event_id) AS BIGINT) AS wsum
            FROM m)
      SELECT event_id, user_id, c_us, CAST(n_clicks AS BIGINT) AS n_clicks,
             round(value / CAST(n_clicks AS DOUBLE), 6) AS credit_linear,
             round(value * wi / CAST(wsum AS DOUBLE), 6) AS credit_decay
      FROM t ORDER BY event_id, c_us""")),
    // raw-log text source: write events as log lines (memoized), parse
    // them back via regexp_extract, prove the roundtrip against the
    // parquet truth
    QuerySpec("textlog_roundtrip", (s, d) => {
      val dir = Shared.dir(s, "textlog", d)(
        Tables.eventLogLines(Tables.events(s, d)).write.mode("overwrite").text(_))
      Tables.parseEventLog(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct("user_id").as("n_users"),
          (sum("value_cents") / 100.0).as("total_value"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
        .orderBy("event_type")
    },
      // the parsed log must reproduce the parquet truth — the roundtrip is
      // the proof that the text render + regex extraction are lossless
      Oracle("""
      SELECT event_type, count(*) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value,
             min(CAST(ts AS TIMESTAMP)) AS first_ts,
             max(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY 1 ORDER BY 1""")),
    QuerySpec("events_asof_price", (s, d) =>
      Serving.eventsAsofOrderPrice(Tables.events(s, d), Tables.orders(s, d)),
      Oracle(eventsAsofPriceSql)),
    // same as-of semantics through the custom whole-operator plan
    // (AsOfJoinNode -> AsOfJoinStrategy -> sort-merge AsOfJoinExec) —
    // hash-checked against the SAME oracle as the composed version
    QuerySpec("events_asof_custom", (s, d) => asofPrice(s, d, None),
      // the custom-operator as-of join answers to the same oracle as the
      // composed formulation — identical semantics, different physical plan
      Oracle(eventsAsofPriceSql)),
    // tolerance-bounded as-of (pandas merge_asof tolerance): orders older
    // than 30 days at event time yield NULL instead of a stale price
    QuerySpec("events_asof_tolerance", (s, d) =>
      asofPrice(s, d, Some(30L * 86400 * 1000000L)), // 30 days in µs
      // tolerance twin: the windowed last_value carries the matched order's
      // TS alongside its price, and staleness > 30 days nulls the price
      Oracle("""
      WITH u AS (
        SELECT o_custkey AS key, o_orderdate AS t, o_orderkey AS rid,
               o_totalprice AS price, 1 AS is_order, CAST(NULL AS BIGINT) AS event_id
        FROM orders
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP), event_id, CAST(NULL AS DOUBLE), 0, event_id
        FROM events),
      x AS (SELECT *,
              last_value(price IGNORE NULLS) OVER w AS lp,
              last_value(CASE WHEN is_order = 1 THEN t END IGNORE NULLS) OVER w AS lt
            FROM u
            WINDOW w AS (PARTITION BY key ORDER BY t, is_order DESC, rid
              ROWS UNBOUNDED PRECEDING))
      SELECT event_id, key AS user_id, t AS ts,
             CASE WHEN lt IS NOT NULL AND t - lt <= INTERVAL 30 DAY
                  THEN lp END AS last_order_price
      FROM x WHERE is_order = 0 ORDER BY event_id""")),
    QuerySpec("event_sessions_native", (s, d) => Serving.eventSessionsNative(Tables.events(s, d)),
      Oracle(eventSessionsNativeSql)),
    QuerySpec("event_sessions_stream", (s, d) => Streams.eventSessionsStreamed(s, d),
      // the streaming sessionizer (EventTimeTimeout + end-of-stream state
      // flush) emits the SAME session set as the batch lag variant — same
      // oracle minus the session_seq column
      Oracle("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      x AS (SELECT user_id, ts, value,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
      y AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM x),
      z AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS session_seq FROM y)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS duration_sec,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM z GROUP BY user_id, session_seq ORDER BY user_id, session_start""")),
    // ca as DECIMAL(18,2) before serializing: both engines render a
    // scale-2 decimal as plain "123.40", where doubles diverge (Java
    // flips to scientific notation past 1e7, DuckDB never does) — this
    // is what makes the JSON strings oracle-hashable
    QuerySpec("json_export", (s, d) => Serving.toJsonRecords(
      Gold.caMonthly(fact(s, d)).withColumn("ca", col("ca").cast("decimal(18,2)"))),
      // hand-built JSON matches Spark's to_json byte-for-byte because every
      // field renders engine-independently: quoted string, scale-2 decimal,
      // bigint — field order is the struct order (mois, ca, achats)
      Oracle(s"""
      WITH cm AS (SELECT strftime(o_orderdate, '%Y-%m') AS mois,
                         ${ms("o_totalprice")} AS ca
                  FROM orders WHERE $V GROUP BY 1)
      SELECT '{"mois":"' || mois || '","ca":'
             || CAST(CAST(ca AS DECIMAL(18,2)) AS VARCHAR) || '}' AS json
      FROM cm ORDER BY mois""")),
    // smoothed target encoding of the country category against order
    // totals — exact-cents means, so oracle-hashable unlike most ML prep
    QuerySpec("target_encode", (s, d) => Ml.targetEncode(fact(s, d)),
      // the Welch read-out from exact cents moments; hash split identical
      // to split_assign's integer twin
      // smoothed target encoding: enc = (sum + m*mu)/(n + m), m=20, all
      // from exact cents; mu's division order (stot/100.0/ntot) matches
      // the Scala scalar fold bit-for-bit
      Oracle(s"""
      WITH f AS (SELECT coalesce(n_name, 'Inconnu') AS pays, o_totalprice
                 FROM orders
                 LEFT JOIN customer ON o_custkey = c_custkey
                 LEFT JOIN nation ON c_nationkey = n_nationkey
                 WHERE $V),
      a AS (SELECT pays, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_cents,
                   count(*) AS n
            FROM f GROUP BY 1),
      g AS (SELECT sum(s_cents) AS stot, sum(n) AS ntot FROM a)
      SELECT pays, n,
             round((s_cents / 100.0 +
                    20.0 * ((SELECT stot FROM g) / 100.0 / (SELECT ntot FROM g)))
                   / (n + 20.0), 6) AS enc
      FROM a ORDER BY pays""")),
    QuerySpec("kmeans_segments", (s, d) => Ml.segmentsOf(kmeansAssigned(s, d)),
      // the deterministic Lloyd's fit (hash-ordered init, order-independent
      // decimal sums) is bit-identical between local[4] and local[32]
      Digest(Map(
        "sf0.001" -> "150:48fde725f402e2014",
        "sf0.01" -> "1500:2f50aa01a4e2753dcf",
        "sf0.1" -> "14999:1d9b488d25b4cc1f170"))),
    // cluster-quality metric the reference's advisor publishes
    // (reference scripts/train_advisor.py:123,321): mean silhouette of the
    // seed-pinned k=5 assignment, squared-Euclidean sufficient statistics
    QuerySpec("kmeans_silhouette", (s, d) => Ml.silhouetteOf(kmeansAssigned(s, d)),
      Digest(Map(
        "sf0.001" -> "1:e65fbe91d4921ea",
        "sf0.01" -> "1:8be91f72dd29cf3",
        "sf0.1" -> "1:d69e7f9f347a03"))),
    // supervised repurchase propensity: cutoff-time features, LR-learned
    // weights instead of the reference's hard-coded heuristic blend;
    // trained on the window BEFORE the one it scores (temporal holdout)
    QuerySpec("propensity_model", (s, d) => propensityPair(s, d)._1,
      // the seeded LR fit reproduces bit-equal across executor-thread counts
      Digest(Map(
        "sf0.001" -> "150:4e6cae98996fcb181",
        "sf0.01" -> "1496:2fa8ebece7e116c9e1",
        "sf0.1" -> "14997:1d3101104ba4bb71c2c"))),
    // the backtest record: train/holdout sizes, in-sample vs held-out AUC
    QuerySpec("propensity_backtest", (s, d) => propensityPair(s, d)._2,
      // the 6dp holdout AUC sat at a rounding edge at sf0.1 (gradients
      // reduce in task-completion order: +-1 ulp before rounding), so the
      // AUCs are digested at 4dp; the integer sizes stay exact
      Digest(Map(
        "sf0.001" -> "1:801bd54bf2b4ef6",
        "sf0.01" -> "1:528dbdc050b8cfd",
        "sf0.1" -> "1:2e67299a3a193ea"),
        df => df.withColumn("auc_train", round(col("auc_train"), 4))
          .withColumn("auc_holdout", round(col("auc_holdout"), 4))))
  )
}
