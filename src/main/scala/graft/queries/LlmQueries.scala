package graft
package queries

import OracleSql._
import SparkEntry._
import Fixtures._

/** LLM-pipeline extension: dedup, text analysis, hygiene and
  * training-data prep (SURVEY §2.10). */
object LlmQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, d) => Llm.dedupExact(Tables.documents(s, d)),
      Oracle("""
      SELECT min(doc_id) AS doc_id, count(*) AS dup_count
      FROM documents GROUP BY text ORDER BY doc_id""")),
    QuerySpec("dedup_minhash", (s, d) => Llm.dedupMinhash(Tables.documents(s, d)),
      // MinHash restated end-to-end: distinct 3-word shingles (whole-text
      // fallback) -> per-shingle tokenHash -> 16-member splitmix64 hash
      // family -> signed-min signatures -> position-salted band folds ->
      // band-equality candidates -> signature-match Jaccard estimates.
      // Every stage is the same 64-bit integer arithmetic as the native
      // expression, so sig, bands, candidate set and estimates all
      // cross-check bit-for-bit
      Oracle(s"""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
          WHERE len(ws) >= 3
          UNION ALL
          SELECT doc_id, array_to_string(ws, ' ') AS shingle
          FROM w WHERE len(ws) < 3) u),
      poly AS (SELECT doc_id, shingle, ${smPoly("shingle")} AS h0 FROM sh),
      ${smChain("hh", "poly", "doc_id, shingle", "h0", "h")},
      six AS (SELECT doc_id, h,
                ((h + ((i::HUGEINT * $SmGolden) & $SmMask)) & $SmMask) AS hi, i
              FROM hh CROSS JOIN range(0, ${Llm.MinhashHashes}) r(i)),
      ${smChain("sv", "six", "doc_id, i", "hi", "v")},
      sig AS (SELECT doc_id, i, min(${smSigned("v")}) AS s
              FROM sv GROUP BY doc_id, i),
      bq AS (SELECT doc_id, i // ${Llm.MinhashHashes / Llm.MinhashBands} AS j,
               ((${smUnsigned("s")} + (((i % ${Llm.MinhashHashes / Llm.MinhashBands} + 1)::HUGEINT * $SmGolden) & $SmMask)) & $SmMask) AS bin
             FROM sig),
      ${smChain("bu", "bq", "doc_id, j", "bin", "u")},
      bacc AS (SELECT doc_id, j,
                 ((sum(u)::HUGEINT + ((j::HUGEINT * $SmGolden) & $SmMask)) & $SmMask) AS acc
               FROM bu GROUP BY doc_id, j),
      ${smChain("bb", "bacc", "doc_id, j", "acc", "bv")},
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bb a JOIN bb b
                 ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id),
      mt AS (SELECT c.doc_a, c.doc_b,
               sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / ${Llm.MinhashHashes}.0 AS est
             FROM cand c
             JOIN sig sa ON sa.doc_id = c.doc_a
             JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
             GROUP BY 1, 2),
      perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
                   round(max(est), 4) AS max_est_jaccard
                 FROM (SELECT doc_a AS doc_id, est FROM mt
                       UNION ALL SELECT doc_b, est FROM mt) u2 GROUP BY 1),
      nsh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM sh GROUP BY 1)
      SELECT n.doc_id, n.n_shingles, coalesce(p.n_candidates, 0) AS n_candidates,
             p.max_est_jaccard
      FROM nsh n LEFT JOIN perdoc p USING (doc_id) ORDER BY n.doc_id""")),
    QuerySpec("dedup_simhash", (s, d) => Llm.dedupSimhash(Tables.documents(s, d)),
      // SimHash restated end-to-end in 64-bit integer SQL (the
      // knn_quantized precedent): per-token poly31-over-codepoints +
      // splitmix64 via the shared smPoly/smChain helpers (one restatement
      // of the cross-engine hash, reused by dedup_minhash), then the 64
      // bit-votes, the 4x16-bit band blocking and the hamming<=12 verify,
      // matching Llm.dedupSimhash bit-for-bit
      Oracle(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents),
      poly AS (SELECT doc_id, ${smPoly("tok")} AS h0 FROM toks),
      ${smChain("th", "poly", "doc_id", "h0", "h")},
      votes AS (
        SELECT doc_id, k,
               sum(CASE WHEN (h >> k) & 1::HUGEINT = 1::HUGEINT
                   THEN 1 ELSE -1 END) AS v
        FROM th CROSS JOIN range(0, 64) r(k) GROUP BY doc_id, k),
      fp AS (
        SELECT doc_id,
               sum(CASE WHEN v >= 0 THEN 1::HUGEINT << k
                   ELSE 0::HUGEINT END)::HUGEINT AS fpu
        FROM votes GROUP BY doc_id),
      sh AS (SELECT doc_id, fpu, ${smSigned("fpu")} AS simhash FROM fp),
      banded AS (
        SELECT doc_id, simhash, j,
               ((fpu >> (16 * j)) & 65535::HUGEINT)::BIGINT AS band
        FROM sh CROSS JOIN range(0, 4) rb(j)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM banded a JOIN banded b
          ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id),
      near AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sh_a, sh_b)) <= 12),
      cnt AS (
        SELECT doc_id, count(*) AS n_near FROM (
          SELECT doc_a AS doc_id FROM near
          UNION ALL SELECT doc_b FROM near) u GROUP BY doc_id)
      SELECT s.doc_id, s.simhash, coalesce(c.n_near, 0) AS n_near
      FROM sh s LEFT JOIN cnt c USING (doc_id) ORDER BY s.doc_id""")),
    QuerySpec("dedup_ngram", (s, d) => Llm.bestNgramMatch(ngramPairs(s, d)),
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      j AS (SELECT doc_a, doc_b,
              round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
            FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id)
      SELECT doc_a AS doc_id, doc_b AS best_match, jaccard
      FROM j
      QUALIFY row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) = 1
      ORDER BY doc_id""")),
    // containment tier of the same pair stats: catches a short doc quoted
    // wholesale inside a long one (low Jaccard, containment ~ 1)
    QuerySpec("dedup_containment", (s, d) => Llm.containmentPairsFrom(ngramStats(s, d)),
      // containment C = inter/min(na,nb); inner = the smaller side
      // (tie -> higher doc_id), mirroring Llm.containmentPairsFrom
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      c AS (SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb,
              round(inter * 1.0 / least(sa.n, sb.n), 6) AS containment
            FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id)
      SELECT CASE WHEN na < nb THEN doc_a WHEN nb < na THEN doc_b
                  ELSE greatest(doc_a, doc_b) END AS inner_doc,
             CASE WHEN na < nb THEN doc_b WHEN nb < na THEN doc_a
                  ELSE least(doc_a, doc_b) END AS outer_doc,
             containment
      FROM c WHERE containment >= 0.8
      ORDER BY inner_doc, outer_doc""")),
    // AllPairs/PPJoin prefix-filter tier: candidates only on the rarity
    // prefix, exact in-row verify — bit-equal to the all-pairs filter
    QuerySpec("dedup_ngram_prefix", (s, d) => Llm.ngramJaccardPrefix(docShingles(s, d)),
      // transitive closure via recursive CTE == the Spark side's
      // the prefix tier answers to the PLAIN all-pairs statement at the
      // same threshold — completeness of the candidate scheme is the claim
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
      FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
      WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= 0.5
      ORDER BY doc_a, doc_b""")),
    // cluster resolution over the near-dup pair graph: large-star/
    // small-star connected components -> canonical representative per doc
    QuerySpec("dedup_clusters", (s, d) =>
      Llm.dedupClustersFrom(Tables.documents(s, d), ngramPairs(s, d)),
      // large-star/small-star component labels (min doc_id per component)
      Oracle("""
      WITH RECURSIVE
      w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      j AS (SELECT doc_a, doc_b,
              round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
            FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id),
      und AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jaccard >= 0.5
              UNION SELECT doc_b, doc_a FROM j WHERE jaccard >= 0.5),
      reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT u.b AS node, reach.r FROM reach JOIN und u ON u.a = reach.node),
      lab AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
      SELECT l.doc_id, l.cluster_id, c.cluster_size
      FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size
                       FROM lab GROUP BY 1) c USING (cluster_id)
      ORDER BY doc_id""")),
    // delta-vs-corpus dedup: the corpus side comes from the PERSISTED
    // parquet index (exact sha2 hashes + shingle hashes, written once at
    // "ingest" by dedupIndex) — the delta query recomputes nothing from
    // corpus text; its documents scans carry a pushed doc_id >= 400
    // filter (gated in PlanShapeSpec)
    QuerySpec("dedup_incremental", (s, d) => {
      val idx = dedupIndex(s, d)
      Llm.dedupIncrementalIndexed(Tables.documents(s, d),
        Tables.parquet(s, s"$idx/exact"), Tables.parquet(s, s"$idx/shingles"))
    },
      // hash-percentile arithmetic must match Prep.hashPct bit-for-bit:
      // high bits of a Knuth multiplicative hash, floor over exact doubles
      // exact tier joins on text equality (== the Spark side's sha2 join,
      // collisions aside); near tier mirrors the shingle-intersection join
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s
                WHERE a.doc_id >= 400 AND b.doc_id < 400
                GROUP BY 1, 2),
      near AS (SELECT new_id AS doc_id, count(*) AS n_near_dups
               FROM inter JOIN sz sn ON inter.new_id = sn.doc_id
                          JOIN sz so ON inter.old_id = so.doc_id
               WHERE round(inter * 1.0 / (sn.n + so.n - inter), 6) >= 0.5
               GROUP BY 1),
      ex AS (SELECT DISTINCT n.doc_id
             FROM documents n JOIN documents o ON n.text = o.text
             WHERE n.doc_id >= 400 AND o.doc_id < 400)
      SELECT d.doc_id,
        (ex.doc_id IS NOT NULL) AS is_exact_dup,
        coalesce(near.n_near_dups, 0) AS n_near_dups
      FROM documents d
      LEFT JOIN ex ON d.doc_id = ex.doc_id
      LEFT JOIN near ON d.doc_id = near.doc_id
      WHERE d.doc_id >= 400
      ORDER BY d.doc_id""")),
    // fifth dedup tier: embedding-cosine near-dup — exact O(N²) baseline
    // (oracle-checked) + the LSH-bucketed scale path (rows-only, pair
    // recall floor in LlmSpec)
    QuerySpec("dedup_embedding", (s, d) => Llm.dedupEmbedding(Tables.embeddings(s, d)),
      // same 6dp-rounded cosine recipe as knn_bruteforce; a vector with no
      // near-dup keeps n_near 0 and a NULL max_cos on both sides
      Oracle("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id),
      q AS (SELECT * FROM p WHERE sim >= 0.35),
      u AS (SELECT vec_a AS vec_id, sim FROM q
            UNION ALL SELECT vec_b, sim FROM q),
      g AS (SELECT vec_id, count(*) AS n_near, max(sim) AS max_cos FROM u GROUP BY 1)
      SELECT e.vec_id, coalesce(g.n_near, 0) AS n_near, g.max_cos
      FROM e LEFT JOIN g USING (vec_id) ORDER BY e.vec_id""")),
    QuerySpec("dedup_embedding_lsh", (s, d) => Llm.dedupEmbeddingLsh(Tables.embeddings(s, d)),
      // the LSH twin restated whole, same inlined-hyperplane recipe as
      // knn_lsh: bucket-mate candidate pairs (a < b), 6dp cosine over the
      // candidates only, threshold, then the dedup_embedding summary shape
      Oracle(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      planes(j, w) AS (VALUES $lshPlanesValues),
      bits AS (SELECT e.vec_id, p.j // 4 AS tbl,
                      CASE WHEN list_dot_product(e.emb, p.w) >= 0
                           THEN 1 << (p.j % 4) ELSE 0 END AS bit
               FROM e CROSS JOIN planes p),
      b AS (SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
            FROM bits GROUP BY 1, 2),
      cand AS (SELECT DISTINCT b1.vec_id AS vec_a, b2.vec_id AS vec_b
               FROM b b1 JOIN b b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket
               WHERE b1.vec_id < b2.vec_id),
      q AS (SELECT c.vec_a, c.vec_b,
                   round(list_cosine_similarity(a.emb, bb.emb), 6) AS sim
            FROM cand c
            JOIN e a ON a.vec_id = c.vec_a
            JOIN e bb ON bb.vec_id = c.vec_b
            WHERE round(list_cosine_similarity(a.emb, bb.emb), 6) >= 0.35),
      u AS (SELECT vec_a AS vec_id, sim FROM q
            UNION ALL SELECT vec_b, sim FROM q),
      g AS (SELECT vec_id, count(*) AS n_near, max(sim) AS max_cos FROM u GROUP BY 1)
      SELECT e.vec_id, coalesce(g.n_near, 0) AS n_near, g.max_cos
      FROM e LEFT JOIN g USING (vec_id) ORDER BY e.vec_id""")),
    QuerySpec("text_stats", (s, d) => textStatsF(s, d), Oracle(textStatsSql)),
    // training-data hygiene: benchmark 3-gram decontamination (broadcast
    // bench set, corpus never shuffled) + PII detection/redaction stats
    QuerySpec("decontaminate", (s, d) =>
      Llm.decontaminateFrom(Tables.documents(s, d), decontamEx(s, d)),
      // same shingle idiom as dedup_ngram; bench set = doc_id < 10
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
      hits AS (SELECT doc_id, count(DISTINCT s) AS n_contaminated
               FROM sh JOIN bench USING (s) WHERE doc_id >= 10 GROUP BY 1)
      SELECT d.doc_id, coalesce(h.n_contaminated, 0) AS n_contaminated,
             coalesce(h.n_contaminated, 0) > 0 AS is_contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
      LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id""")),
    // constant-memory bloom tier of the same decontamination (native
    // BloomFilterAggregate sketch + map-side might_contain probe)
    QuerySpec("decontaminate_bloom", (s, d) =>
      Llm.decontaminateBloomFrom(Tables.documents(s, d), decontamEx(s, d)),
      // the bloom tier END-TO-END, false positives included: shingle ->
      // tokenHash (smPoly/smChain, the cross-engine hash), then Spark's
      // BloomFilter V2 bit placement (two chained Murmur3_x86_32 rounds
      // via mmLong, k=6 probes of h1*(2^31-1) + i*h2, complement-flip,
      // mod 524288) re-derives the bench bit set AND each corpus probe —
      // a doc is flagged iff >=1 shingle has all 6 bits set, exactly the
      // BloomFilterMightContain semantics. Geometry is pinned EXPLICITLY
      // on the Spark side (3-arg BloomFilterAggregate constructor):
      // numBits = 8 * expectedShingles (1<<16) = 524288 (already a
      // multiple of 64), k = round(8*ln2) = 6, seed 0. The 2-arg
      // constructor would instead derive a conf-dependent
      // optimalNumOfBits geometry (1039168/k=11 under defaults) and
      // silently diverge from this restatement — see the scaladoc on
      // Llm.decontaminateBloomFrom and SketchProps' geometry pin.
      Oracle(s"""
      WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
             FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) AS t(i)
             WHERE len(ws) >= 3),
      hp AS (SELECT doc_id, ${smPoly("s")} AS ph FROM sh),
      ${smChain("th", "hp", "doc_id", "ph", "h")},
      hs AS MATERIALIZED (SELECT DISTINCT h FROM th),
      ${mmLong("mA", "hs", "h", "h", "0::HUGEINT", "h1")},
      ${mmLong("mB", "mA", "h, h1", "h", "h1", "h2")},
      pos AS MATERIALIZED (
        SELECT h, (CASE WHEN a < 0 THEN -a - 1 ELSE a END) % 524288 AS pos
        FROM (SELECT h,
                ${mmSigned("h1")} * 2147483647 + i * ${mmSigned("h2")} AS a
              FROM mB CROSS JOIN range(1, 7) t(i))),
      benchbits AS (SELECT DISTINCT pos FROM pos
                    JOIN (SELECT DISTINCT h FROM th WHERE doc_id < 10) b USING (h)),
      flagged AS (SELECT p.h FROM pos p LEFT JOIN benchbits b USING (pos)
                  GROUP BY p.h HAVING bool_and(b.pos IS NOT NULL)),
      hits AS (SELECT doc_id, count(DISTINCT h) AS n_flagged
               FROM th JOIN flagged USING (h) WHERE doc_id >= 10 GROUP BY 1)
      SELECT d.doc_id, coalesce(h.n_flagged, 0) AS n_flagged,
             coalesce(h.n_flagged, 0) > 0 AS is_flagged
      FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
      LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id""")),
    // training-data prep: deterministic source mixing, hash splits, and
    // token-window chunking (all map-side, rand()-free)
    QuerySpec("sample_mix", (s, d) => Prep.sampleMix(Tables.documents(s, d),
      Map("src0" -> 100, "src1" -> 80, "src2" -> 50, "src3" -> 25),
      defaultPct = 10),
      Oracle("""
      WITH s AS (SELECT doc_id, source,
        CAST(floor(((doc_id + 7) * 2654435761) % 4294967296 * 100
                   / 4294967296) AS BIGINT) AS pct
        FROM documents)
      SELECT doc_id, source, pct FROM s
      WHERE pct < CASE WHEN source = 'src0' THEN 100
                       WHEN source = 'src1' THEN 80
                       WHEN source = 'src2' THEN 50
                       WHEN source = 'src3' THEN 25
                       ELSE 10 END
      ORDER BY doc_id""")),
    // Efraimidis-Spirakis weighted priority sample: top-k by u^(1/w),
    // w = n_chars, u deterministic from the Knuth hash
    QuerySpec("sample_priority", (s, d) => Prep.samplePriority(Tables.documents(s, d)),
      Oracle("""
      WITH s AS (SELECT doc_id, source, n_chars,
        (CAST(floor(((doc_id + 13) * 2654435761) % 4294967296 * 1000000
                    / 4294967296) AS BIGINT) + 0.5) / 1000000.0 AS u
        FROM documents)
      SELECT doc_id, source, n_chars,
             CASE WHEN n_chars > 0 THEN round(pow(u, 1.0 / n_chars), 9)
                  ELSE 0.0 END AS priority
      FROM s ORDER BY priority DESC, doc_id LIMIT 100""")),
    // contrastive negatives: k hash-drawn other-docs per doc, map-side,
    // with the cross-source curation flag
    QuerySpec("negative_samples", (s, d) => Prep.negativeSamples(Tables.documents(s, d)),
      // A-ES priority u^(1/n_chars): u from the ppm-granularity Knuth
      // hash (seed 13 — independent of sample_mix's 7 and split_assign's
      // 11), +0.5 to stay inside (0,1); 9dp-rounded rank, doc_id ties
      // high-bits reduction + skip-self map, restated verbatim; the join
      // annotates each negative's source
      Oracle("""
      WITH nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      base AS (SELECT doc_id, source FROM documents),
      d AS (SELECT doc_id, source AS src_a, j AS neg_rank,
              ((doc_id * 31 + j + 29) * 2654435761) % 4294967296 AS h
            FROM base CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)),
      r AS (SELECT doc_id, src_a, neg_rank,
              CAST(floor(h * ((SELECT n FROM nn) - 1) / 4294967296) AS BIGINT) AS r
            FROM d),
      x AS (SELECT doc_id, neg_rank,
              CASE WHEN r >= doc_id THEN r + 1 ELSE r END AS neg_id, src_a
            FROM r)
      SELECT x.doc_id, CAST(x.neg_rank AS BIGINT) AS neg_rank, x.neg_id,
             (x.src_a = b.source) AS same_source
      FROM x JOIN base b ON x.neg_id = b.doc_id
      ORDER BY x.doc_id, x.neg_rank""")),
    QuerySpec("split_assign", (s, d) => Prep.splitAssign(Tables.documents(s, d)),
      Oracle("""
      WITH s AS (SELECT source,
        CAST(floor(((doc_id + 11) * 2654435761) % 4294967296 * 100
                   / 4294967296) AS BIGINT) AS pct
        FROM documents)
      SELECT source,
        CAST(sum(CASE WHEN pct < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN pct >= 90 AND pct < 95 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        CAST(sum(CASE WHEN pct >= 95 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      FROM s GROUP BY source ORDER BY source""")),
    QuerySpec("sample_per_source", (s, d) => Prep.samplePerSource(Tables.documents(s, d)),
      Oracle("""
      WITH r AS (SELECT source, doc_id,
        row_number() OVER (PARTITION BY source
          ORDER BY ((doc_id + 13) * 2654435761) % 4294967296, doc_id)
          AS rank
        FROM documents)
      SELECT source, doc_id, CAST(rank AS BIGINT) AS rank FROM r
      WHERE rank <= 5
      ORDER BY source, rank""")),
    QuerySpec("doc_chunks", (s, d) => Prep.docChunks(Tables.documents(s, d)),
      Oracle("""
      WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
      k AS (SELECT doc_id, ws, 1 + CASE WHEN len(ws) > 32
              THEN CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT)
              ELSE 0 END AS n_chunks FROM w),
      c AS (SELECT doc_id, i AS chunk_idx,
              list_slice(ws, i * 24 + 1, i * 24 + 32) AS toks
            FROM k, unnest(range(0, n_chunks)) AS t(i))
      SELECT doc_id, chunk_idx,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        array_to_string(toks, ' ') AS chunk_text
      FROM c
      ORDER BY doc_id, chunk_idx""")),
    // chunk → fixed-budget training sequences: greedy next-fit packing
    // manifest within deterministic hash groups
    QuerySpec("pack_sequences", (s, d) => Prep.packSequences(Tables.documents(s, d)),
      Oracle("""
      WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
      k AS (SELECT doc_id, ws, 1 + CASE WHEN len(ws) > 32
              THEN CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT)
              ELSE 0 END AS n_chunks FROM w),
      c AS (SELECT doc_id, i AS chunk_idx,
              CAST(len(list_slice(ws, i * 24 + 1, i * 24 + 32)) AS BIGINT) AS n_tokens,
              ((doc_id + 17) * 2654435761) % 4294967296 AS h
            FROM k, unnest(range(0, n_chunks)) AS t(i)),
      o AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, n_tokens,
              CAST(floor(h * 8 / 4294967296) AS BIGINT) AS grp,
              row_number() OVER (
                PARTITION BY CAST(floor(h * 8 / 4294967296) AS BIGINT)
                ORDER BY h, doc_id, chunk_idx) AS rk
            FROM c),
      pack AS (
        SELECT grp, rk, doc_id, chunk_idx, n_tokens,
               CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
        FROM o WHERE rk = 1
        UNION ALL
        SELECT o.grp, o.rk, o.doc_id, o.chunk_idx, o.n_tokens,
          CASE WHEN p.fill + o.n_tokens > 64 THEN p.seq_id + 1 ELSE p.seq_id END,
          CASE WHEN p.fill + o.n_tokens > 64 THEN o.n_tokens ELSE p.fill + o.n_tokens END
        FROM pack p JOIN o ON o.grp = p.grp AND o.rk = p.rk + 1)
      SELECT grp, seq_id, doc_id, chunk_idx, n_tokens,
        fill - n_tokens AS tok_offset
      FROM pack ORDER BY grp, seq_id, tok_offset""")),
    QuerySpec("pii_scrub", (s, d) => Llm.piiScrub(Tables.documents(s, d)),
      Oracle("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phones,
        CAST(length(regexp_replace(regexp_replace(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
      FROM documents ORDER BY doc_id""")),
    QuerySpec("lang_id", (s, d) => Llm.langId(Tables.documents(s, d)),
      Oracle("""
      WITH h AS (
        SELECT doc_id, lang,
          CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|in|to)\b')) AS BIGINT) AS en_hits,
          CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|une)\b')) AS BIGINT) AS fr_hits,
          CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein)\b')) AS BIGINT) AS de_hits,
          CAST(len(regexp_extract_all(lower(text), '\b(el|los|que|una|es)\b')) AS BIGINT) AS es_hits,
          CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS zh_hits
        FROM documents),
      h2 AS (
        SELECT *,
          CASE WHEN zh_hits > 0 THEN 'zh'
               WHEN fr_hits > en_hits AND fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
               WHEN de_hits > en_hits AND de_hits >= es_hits THEN 'de'
               WHEN es_hits > en_hits THEN 'es'
               ELSE 'en' END AS lang_pred
        FROM h)
      SELECT *, (lang_pred = lang) AS is_correct FROM h2 ORDER BY doc_id""")),
    // degenerate-text filter: per-doc 3-gram self-repetition
    QuerySpec("repetition_score", (s, d) => repetitionF(s, d), Oracle(repetitionSql)),
    // unigram-LM mean token log-prob (the classic cheap corpus-quality filter)
    QuerySpec("doc_logprob", (s, d) => docLogProb(s, d),
      // same tokenization; ln n - ln N mirrors the Scala shape exactly
      Oracle(logProbSql)),
    // order-1 sequence family over the shared bigram frame: PMI
    // collocations (phrase detection) + add-k bigram-LM quality scoring
    QuerySpec("term_pmi", (s, d) => Search.termPmiFrom(docBigrams(s, d)),
      // PMI over corpus bigram counts with self-consistent margins; the
      // float expression shape matches Search.termPmiFrom term-for-term
      // (CAST-to-double placement included) so 9 dp rounding hash-matches
      Oracle("""
      WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                        x -> x != '') AS ws FROM documents),
      bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c12
             FROM w, unnest(range(1, greatest(len(ws), 1))) AS t(i)
             WHERE len(ws) >= 2
             GROUP BY 1, 2),
      l AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY 1),
      r AS (SELECT w2, sum(c12) AS c2 FROM bg GROUP BY 1),
      b AS (SELECT CAST(sum(c12) AS DOUBLE) AS btot FROM bg)
      SELECT bg.w1, bg.w2, bg.c12,
             round(ln(CAST(bg.c12 AS DOUBLE) * (SELECT btot FROM b)
                      / (l.c1 * CAST(r.c2 AS DOUBLE))), 9) AS pmi
      FROM bg JOIN l USING (w1) JOIN r USING (w2)
      WHERE bg.c12 >= 5
      ORDER BY pmi DESC, w1, w2 LIMIT 50""")),
    // source-grain TF-IDF: each domain's characteristic vocabulary
    QuerySpec("source_top_terms", (s, d) =>
      Search.sourceTopTerms(docTf(s, d), Tables.documents(s, d)),
      // source-grain TF-IDF: rank on the ROUNDED score with lexical ties,
      // like tfidf_top_terms
      Oracle("""
      WITH w AS (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS ws FROM documents),
      tok AS (SELECT source, unnest(ws) AS word FROM w),
      st AS (SELECT source, word, count(*) AS tf FROM tok WHERE word != '' GROUP BY 1, 2),
      s AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS ns FROM documents),
      df AS (SELECT word, count(*) AS df FROM st GROUP BY 1),
      r AS (SELECT source, word, tf, df.df,
              round(tf * ln((SELECT ns FROM s) / df.df), 9) AS score,
              row_number() OVER (PARTITION BY source
                ORDER BY round(tf * ln((SELECT ns FROM s) / df.df), 9) DESC, word) AS rk
            FROM st JOIN df USING (word))
      SELECT source, CAST(rk AS BIGINT) AS rk, word, tf, df, score
      FROM r WHERE rk <= 5 ORDER BY source, rk""")),
    QuerySpec("bigram_logprob", (s, d) =>
      Search.bigramLogProbFrom(docBigrams(s, d), vocabSize(s, d)),
      // add-k bigram LM: P(w2|w1) = (c12+k)/(c1+k*V), k=0.5, V = corpus
      // vocabulary (distinct tokens over ALL docs, including 1-word docs);
      // per-doc mean weights each bigram occurrence, 6 dp
      Oracle("""
      WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                        x -> x != '') AS ws FROM documents),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs
            FROM (SELECT unnest(ws) AS tok FROM w)),
      bgdoc AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, count(*) AS cnt
                FROM w, unnest(range(1, greatest(len(ws), 1))) AS t(i)
                WHERE len(ws) >= 2
                GROUP BY 1, 2, 3),
      bg AS (SELECT w1, w2, sum(cnt) AS c12 FROM bgdoc GROUP BY 1, 2),
      l AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY 1)
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             round(sum(cnt * (ln(c12 + 0.5) - ln(c1 + 0.5 * (SELECT vs FROM v))))
                   / sum(cnt), 6) AS avg_logprob
      FROM bgdoc JOIN bg USING (w1, w2) JOIN l USING (w1)
      GROUP BY 1 ORDER BY doc_id""")),
    // capstone keep/drop decisions with first-match-wins reasons, all
    // three component frames shared with their per-metric queries
    QuerySpec("corpus_filter", (s, d) => Llm.corpusFilterFrom(
      textStatsF(s, d), repetitionF(s, d), docLogProb(s, d)),
      // the capstone composes the three audited quality oracles verbatim —
      // identical thresholds and first-match-wins reason order as the engine
      Oracle(s"""
      WITH ts AS (SELECT doc_id, quality_score FROM ($textStatsSql)),
      rep AS (SELECT doc_id, repeat_frac FROM ($repetitionSql)),
      lp AS (SELECT doc_id, avg_logprob FROM ($logProbSql)),
      j AS (SELECT ts.doc_id, ts.quality_score, rep.repeat_frac, lp.avg_logprob
            FROM ts JOIN rep USING (doc_id) LEFT JOIN lp USING (doc_id)),
      d AS (SELECT *,
              CASE WHEN quality_score < 0.5 THEN 'low_quality'
                   WHEN repeat_frac > 0.05 THEN 'repetitive'
                   WHEN avg_logprob IS NULL OR avg_logprob < -3.6 THEN 'unusual_lm'
                   ELSE 'keep' END AS reason
            FROM j)
      SELECT doc_id, quality_score, repeat_frac, avg_logprob, reason,
             CAST(reason = 'keep' AS BIGINT) AS keep
      FROM d ORDER BY doc_id""")),
    // winnowing fingerprints — oracle-checked: the native expression's
    // xxhash64 is restated bit-exactly in DuckDB wrapping arithmetic
    QuerySpec("doc_fingerprint", (s, d) => Llm.docFingerprint(Tables.documents(s, d)),
      // winnowing fingerprints: per-position xxhash64 of the 8-char
      // shingle (XXH64 tail round + fmix, restated in wrapping HUGEINT
      // arithmetic — ASCII text, so chars are the hashed UTF-8 bytes),
      // window-4 sliding minima, distinct count + global min per doc
      Oracle(s"""
      WITH d0 AS (SELECT doc_id, length(text) AS L,
              list_transform(range(1, length(text)+1),
                j -> CAST(ord(text[j]) AS HUGEINT)) AS cs
            FROM documents WHERE length(text) >= 11),
      pos AS (SELECT doc_id, L, i,
          cs[i] + cs[i+1]*256 + cs[i+2]*65536 + cs[i+3]*16777216
          + cs[i+4]*4294967296 + cs[i+5]*1099511627776
          + cs[i+6]*281474976710656 + cs[i+7]*72057594037927936 AS k1
        FROM d0, unnest(range(1, L - 6)) AS t(i)),
      s1 AS (SELECT doc_id, L, i, ${xxMul("k1", XxP2)} AS a FROM pos),
      s2 AS (SELECT doc_id, L, i, ${xxMul(xxRotl("a", 31), XxP1)} AS b FROM s1),
      s3 AS (SELECT doc_id, L, i, ${xxXor(XxH0, "b")} AS h1 FROM s2),
      s4 AS (SELECT doc_id, L, i,
               (${xxMul(xxRotl("h1", 27), XxP1)} + $XxP4) % $XxM AS f FROM s3),
      s5 AS (SELECT doc_id, L, i, ${xxXor("f", xxShr("f", 33))} AS g1 FROM s4),
      s6 AS (SELECT doc_id, L, i, ${xxMul("g1", XxP2)} AS g2 FROM s5),
      s7 AS (SELECT doc_id, L, i, ${xxXor("g2", xxShr("g2", 29))} AS g3 FROM s6),
      s8 AS (SELECT doc_id, L, i, ${xxMul("g3", XxP3)} AS g4 FROM s7),
      hs AS (SELECT doc_id, L, i,
               ${xxSigned(xxXor("g4", xxShr("g4", 32)))} AS h FROM s8),
      w AS (SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        L - 7 - 3 AS m
      FROM hs)
      SELECT doc_id, CAST(count(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
             min(wmin) AS min_fp
      FROM w WHERE i <= m GROUP BY doc_id ORDER BY doc_id"""))
  )
}
