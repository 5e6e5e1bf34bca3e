package graft.queries

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.SimilarityOps
import graft.runtime.Tables
import graft.textml.TextML
import graft.queries.QueryDef.{oSnap, r4, rsnap}

/** Document-ML queries (SURVEY.md §2.L): chunking (full oracle),
  * TF-IDF / KMeans / LDA (seeded Spark ML, rows-only checks), and
  * hybrid vector+keyword search (full oracle).
  */
object TextMlQueries {

  /** DuckDB replay of the TF-IDF pipeline. The stopword list is
    * inlined from Spark ML's own english resource (tokens are >= 3
    * chars, so shorter stopwords can't match and are elided). */
  private val tfidfOracle: String = {
    val stop = org.apache.spark.ml.feature.StopWordsRemover
      .loadDefaultStopWords("english")
      .filter(_.length >= 3)
      .map(w => "'" + w.replace("'", "''") + "'")
      .mkString(", ")
    s"""
      WITH toks AS (
        SELECT doc_id, t.tok AS term
        FROM documents,
             UNNEST(regexp_extract_all(LOWER(text), '[a-z]{3,20}')) AS t(tok)
      ),
      kept AS (SELECT * FROM toks WHERE term NOT IN ($stop)),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM kept GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      ndocs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM documents),
      vocab AS (
        SELECT term, df FROM df, ndocs WHERE df >= 2 AND df <= 0.85 * m
      ),
      ranked AS (
        SELECT tf.doc_id, tf.term,
          tf.tf * LN((ndocs.m + 1) / (vocab.df + 1)) AS raw_score,
          ROW_NUMBER() OVER (
            PARTITION BY tf.doc_id
            ORDER BY tf.tf * LN((ndocs.m + 1) / (vocab.df + 1)) DESC, tf.term ASC
          ) AS rn
        FROM tf JOIN vocab USING (term), ndocs
      )
      SELECT doc_id, term, ${oSnap("raw_score", 4)} AS score
      FROM ranked WHERE rn <= 5
    """
  }

  val defs: Seq[QueryDef] = Seq(
    // Overlapping character chunking, content-addressed ids
    QueryDef(
      "q_document_chunks",
      (s, dir) =>
        TextML.chunkDocumentsFlat(Tables(s, dir).documents, "doc_id", "text", chunkSize = 200, overlap = 50),
      Some("""
        WITH n AS (
          SELECT doc_id, text,
            GREATEST(CAST(CEIL((LENGTH(text) - 50) / 150.0) AS INT), 1) AS n_chunks
          FROM documents
        )
        SELECT doc_id,
          CAST(i AS BIGINT) AS chunk_index,
          CAST(i * 150 AS BIGINT) AS chunk_offset,
          SUBSTR(text, i * 150 + 1, 200) AS chunk_text,
          md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i * 150 AS VARCHAR)) AS chunk_id
        FROM n, UNNEST(RANGE(0, n_chunks)) AS t(i)
      """)
    ),
    // TF-IDF top terms per document. Fully oracle-checked: the Spark
    // ML pipeline (RegexTokenizer [a-zA-Z]{3,20} lowercased, english
    // StopWordsRemover, CountVectorizer minDF 2 / maxDF 0.85, smoothed
    // IDF ln((m+1)/(df+1))) is replayed in plain SQL. The vocabSize
    // cap never binds on this corpus (30 distinct terms — asserted in
    // Round5Specs), so vocab membership is exactly the df filters and
    // the frequency-tie ordering inside CountVectorizer is moot.
    // Ranking uses the RAW score (as topTerms does); only the output
    // is snap-rounded, so both engines cut the same top-5.
    QueryDef(
      "q_tfidf_top_terms",
      (s, dir) => {
        val (withTfidf, vocab) = TextML.tfidf(Tables(s, dir).documents, "text", vocabSize = 1000)
        TextML
          .topTerms(withTfidf, "doc_id", vocab, k = 5)
          .select(col("doc_id"), col("term"), rsnap(col("score"), 4).as("score"))
      },
      Some(tfidfOracle)
    ),
    // KMeans document clusters over normalized TF-IDF. Labels out of
    // KMeans are arbitrary — canonicalize to the rank of each
    // cluster's smallest member doc_id so the output is invariant
    // under label permutation; the seeded fit itself is deterministic
    // (single input partition at oracle scale). Oracle = stored golden
    // of the seeded run at sf0.01 (VERDICT r6 #6); regenerate with
    //   SPARK_GRAFT_ONLY=q_doc_clusters Verify /root/testdata/sf0.01 out
    // and tools/golden_values.py whenever the corpus or the pipeline
    // changes.
    QueryDef(
      "q_doc_clusters",
      (s, dir) => {
        val (withTfidf, _) = TextML.tfidf(Tables(s, dir).documents, "text", vocabSize = 1000)
        val byCluster = TextML
          .cluster(withTfidf, k = 8)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("representative_doc"))
        byCluster
          .withColumn("cluster_id",
            row_number().over(Window.orderBy(col("representative_doc"))).cast("int") - 1)
          .select(col("cluster_id"), col("n_docs"), col("representative_doc"))
      },
      TextMlGolden.docClusters
    ),
    // NMF per-doc argmax topic assignments. The factorization is
    // deterministic by construction (splitmix inits keyed on
    // doc_id/term hash, Jacobi MU updates; NMF.scala:24-29) and also
    // cross-checked numerically by tools/check_numeric.py's
    // bit-mirrored implementation. Oracle = stored golden of the
    // deterministic run at sf0.01 (VERDICT r6 #6); regenerate with
    // Verify + tools/golden_values.py when the corpus changes.
    QueryDef(
      "q_doc_topics",
      (s, dir) => {
        val (withTfidf, vocab) = TextML.tfidf(Tables(s, dir).documents, "text", vocabSize = 1000)
        TextML.nmfTopics(withTfidf, "doc_id", vocab, k = 8)
      },
      TextMlGolden.docTopics
    ),
    // Hybrid search: keyword term-overlap + embedding cosine, fused
    // (semantic_search.py:8-36 — vector + keyword since no BM25)
    QueryDef(
      "q_hybrid_search",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val e = Tables(s, dir).embeddings
        val queryTerms = Seq("spark", "join", "merge", "hash", "window")
        val toks       = split(lower(col("text")), "\\s+")
        val kwScore = queryTerms
          .map(t => when(array_contains(toks, t), 1).otherwise(0))
          .reduce(_ + _)
        val qvec = e.filter(col("vec_id") === 0).select(SimilarityOps.toDouble(col("embedding")).as("qvec"))
        d.join(e, col("doc_id") === col("vec_id"))
          .crossJoin(broadcast(qvec))
          .select(
            col("doc_id"),
            kwScore.cast("long").as("keyword_score"),
            SimilarityOps.cosine(e, col("embedding"), col("qvec")).as("cos_raw")
          )
          .select(
            col("doc_id"), col("keyword_score"),
            r4(col("cos_raw")).as("cosine_sim"),
            r4(col("keyword_score") / lit(5.0) * 0.5 + col("cos_raw") * 0.5).as("hybrid_score")
          )
      },
      Some("""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        base AS (
          SELECT d.doc_id,
            CAST((CASE WHEN list_contains(string_split_regex(lower(d.text), '\s+'), 'spark') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(string_split_regex(lower(d.text), '\s+'), 'join') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(string_split_regex(lower(d.text), '\s+'), 'merge') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(string_split_regex(lower(d.text), '\s+'), 'hash') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(string_split_regex(lower(d.text), '\s+'), 'window') THEN 1 ELSE 0 END) AS BIGINT)
              AS keyword_score,
            list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
            / NULLIF(SQRT(list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * SQRT(list_sum(list_transform(range(1, len(q.qe)+1), i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))), 0) AS cos_raw
          FROM documents d
          JOIN embeddings e ON d.doc_id = e.vec_id, q
        )
        SELECT doc_id, keyword_score,
          ROUND(cos_raw, 4) + 0.0 AS cosine_sim,
          ROUND(keyword_score / 5.0 * 0.5 + cos_raw * 0.5, 4) + 0.0 AS hybrid_score
        FROM base
      """)
    )
  )
}
