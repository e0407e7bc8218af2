package graft
package queries

import SparkEntry._

/** Text relevance ranking: TF-IDF keyword extraction and BM25 search. */
object SearchQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tfidf_top_terms", (s, d) =>
      Search.tfidfTopTermsFrom(docTf(s, d), Tables.documents(s, d).count()),
      // shares vocab_top's tokenization shape; both engines rank on the
      // 9dp-ROUNDED tf*ln(N/df) with a lexical tie-break
      Oracle("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
                   FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM tok WHERE word <> '' GROUP BY 1, 2),
      dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      s AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
              round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 9) AS score
            FROM tf JOIN dfq USING (word) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
            FROM s)
      SELECT doc_id, rk, word, tf, df, score FROM r WHERE rk <= 3 ORDER BY doc_id, rk""")),
    // r17: fed from the shared tf frame — doc length, postings, and df
    // are all (doc, word)-grain derivations, so the operator's own two
    // corpus token passes are gone (bit-identical scores)
    QuerySpec("bm25_search", (s, d) => Search.bm25From(docTf(s, d)),
      // identical arithmetic shape to Search.bm25From (k1=1.2, b=0.75,
      // idf = ln(1 + (N-df+0.5)/(df+0.5)), N/avglen over docs with tokens)
      Oracle("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
                   FROM documents),
      tok2 AS (SELECT * FROM tok WHERE word <> ''),
      dl AS (SELECT doc_id, count(*) AS len FROM tok2 GROUP BY 1),
      st AS (SELECT count(*) AS n, avg(len) AS avglen FROM dl),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM tok2
             WHERE word IN ('spark', 'shuffle', 'join') GROUP BY 1, 2),
      dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      c AS (SELECT tf.doc_id,
              ln(1.0 + (CAST(st.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5))
                * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.len / st.avglen)) AS contrib
            FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN st)
      SELECT doc_id, round(sum(contrib), 9) AS score, count(*) AS n_terms
      FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""))
  )
}
