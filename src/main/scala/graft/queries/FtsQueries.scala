package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.FtsOps
import graft.runtime.Tables

/** FTS index + BM25 keyword ranking (SURVEY.md §2.L row 84; ref
  * macro_agents sec/fts.py): build the posting-list index over the
  * documents table and rank a 5-term keyword query with Okapi BM25.
  */
object FtsQueries {

  private val queryTerms = Seq("spark", "join", "merge", "hash", "window")
  private val K1         = 1.2
  private val B          = 0.75

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_fts_search",
      (s, dir) => {
        val d        = Tables(s, dir).documents
        val postings = FtsOps.postingsIndex(d, "doc_id", "text")
        val lengths  = FtsOps.docLengths(d, "doc_id", "text")
        FtsOps.bm25Search(postings, lengths, "doc_id", queryTerms, K1, B)
      },
      Some {
        val termList = queryTerms.map(t => s"'$t'").mkString(", ")
        s"""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS t
          FROM documents
        ),
        postings AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
          GROUP BY 1, 2
        ),
        lengths AS (SELECT doc_id, len(t) AS dl FROM toks),
        stats AS (
          SELECT COUNT(*) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
          FROM lengths
        ),
        matched AS (SELECT * FROM postings WHERE term IN ($termList)),
        docfreq AS (SELECT term, COUNT(*) AS df FROM matched GROUP BY 1),
        scored AS (
          SELECT m.doc_id,
            CAST(LN(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
              * (m.tf * ${K1 + 1.0})
              / (m.tf + $K1 * (${1.0 - B} + $B * l.dl / s.avgdl))
              AS DECIMAL(18,6)) AS contrib
          FROM matched m
          JOIN docfreq f ON m.term = f.term
          JOIN lengths l ON m.doc_id = l.doc_id
          CROSS JOIN stats s
        ),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
            SUM(contrib) AS bm25_exact
          FROM scored GROUP BY 1
        )
        SELECT doc_id, n_hits,
          CAST(ROUND(bm25_exact, 4) AS DOUBLE) + 0.0 AS bm25,
          CAST(ROW_NUMBER() OVER (ORDER BY bm25_exact DESC, doc_id) AS BIGINT) AS rank
        FROM agg
      """
      }
    ),
    // Impact-ordered index statistics: per-term df/cf/max_tf plus the
    // top-3 highest-impact posting ids (tf DESC, id ASC) — the
    // block-max/WAND layout the stored index keeps so scoring skips
    // low-impact blocks. One term-keyed shuffle (window + agg share
    // the partitioning); singleton terms dropped.
    QueryDef(
      "q_fts_posting_stats",
      (s, dir) => {
        val d = Tables(s, dir).documents
        FtsOps.postingStats(
          FtsOps.postingsIndex(d, "doc_id", "text"), "doc_id", topK = 3, minDf = 2L)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
          FROM documents
        ),
        postings AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, UNNEST(t) AS term FROM toks)
          GROUP BY 1, 2
        ),
        rk AS (
          SELECT term, doc_id, tf,
            ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rk
          FROM postings
        )
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
          CAST(SUM(tf) AS BIGINT) AS cf,
          CAST(MAX(tf) AS BIGINT) AS max_tf,
          STRING_AGG(CASE WHEN rk <= 3 THEN CAST(doc_id AS VARCHAR) END, ','
            ORDER BY rk) AS top_docs
        FROM rk GROUP BY term HAVING COUNT(*) >= 2
      """)
    )
  )
}
