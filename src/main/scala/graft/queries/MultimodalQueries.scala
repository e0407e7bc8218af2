package graft
package queries

import OracleSql._
import SparkEntry._
import Fixtures._

/** Multimodal binary-column plumbing (decode stubbed, see
  * graft.Multimodal), plus the partition-pruned fact slice. */
object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("media_meta", (s, d) => Multimodal.mediaMeta(Tables.documents(s, d)),
      // container sizes are closed-form in the text length: BMP 54 + 3wh
      // (w = 4*(2 + len%15), h = 2 + len%11), WAV 44 + 2*len, y4m
      // 32 + (1 + len%4)*774 — see Multimodal.MediaGen
      Oracle("""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        CAST(CASE WHEN doc_id % 3 = 0
               THEN 54 + 3 * (4 * (2 + len % 15)) * (2 + len % 11)
             WHEN doc_id % 3 = 1 THEN 44 + 2 * len
             ELSE 32 + (1 + len % 4) * 774 END AS BIGINT) AS n_bytes
      FROM d ORDER BY doc_id""")),
    QuerySpec("multimodal_features", (s, d) => Multimodal.multimodalFeatures(Tables.documents(s, d)),
      // full decode+feature restatement, same closed-form basis as
      // media_meta: geometry and frame counts are functions of the text
      // length (BMP w=4*(2+len%15) h=2+len%11 single frame; WAV
      // ceil(len/2000) sample windows, floor 1; y4m 32x16, 1+len%4
      // frames), and the L1-normalized 8-bin histogram sums to exactly
      // 1.0 for any non-empty region (0.0 only for a zero-sample WAV
      // window) — so DuckDB re-derives every output cell including the
      // frame fan-out. Hostile-header rejection stays gated by the
      // MultimodalProps fuzz suite; this oracle pins the happy path
      // end-to-end.
      Oracle("""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
      m AS (SELECT doc_id, len,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        CASE WHEN doc_id % 3 = 0 THEN 1
             WHEN doc_id % 3 = 1 THEN greatest(1, CAST(ceil(len / 2000.0) AS INT))
             ELSE 1 + len % 4 END AS n_frames,
        CASE WHEN doc_id % 3 = 0 THEN 4 * (2 + len % 15)
             WHEN doc_id % 3 = 1 THEN 0 ELSE 32 END AS width,
        CASE WHEN doc_id % 3 = 0 THEN 2 + len % 11
             WHEN doc_id % 3 = 1 THEN 0 ELSE 16 END AS height,
        CAST(CASE WHEN doc_id % 3 = 0
               THEN 54 + 3 * (4 * (2 + len % 15)) * (2 + len % 11)
             WHEN doc_id % 3 = 1 THEN 44 + 2 * len
             ELSE 32 + (1 + len % 4) * 774 END AS BIGINT) AS n_bytes
       FROM d)
      SELECT doc_id, kind, n_bytes, width, height, n_frames,
             CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx,
             CASE WHEN kind = 'audio' AND len = 0 THEN 0.0 ELSE 1.0 END AS feat_l1
      FROM m
      ORDER BY doc_id, frame_idx""")),
    // partition-pruned year slice off the annee-partitioned fact sink
    // (the layout Pipeline.run writes): only annee=1995/ is listed/read
    QuerySpec("fact_year_slice", (s, d) => Gold.yearSlice(
      Tables.parquetOr(s, factSink(s, d), fact(s, d).schema), 1995),
      Oracle(s"""
      SELECT strftime(o_orderdate, '%Y-%m') AS mois, ${ms("o_totalprice")} AS ca,
             count(*) AS n_orders
      FROM orders WHERE $V AND year(o_orderdate) = 1995
      GROUP BY 1 ORDER BY mois"""))
  )
}
