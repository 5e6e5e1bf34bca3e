package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{CurationOps, DedupOps, SimilarityOps, TextOps}
import graft.runtime.Tables
import graft.queries.QueryDef.r4

/** Training-data pipeline surface (SURVEY.md §2.L + the large-scale
  * extensions): exact/near dedup (hash, MinHash+LSH, SimHash, n-gram
  * Jaccard), text quality/language/token analysis, and similarity
  * search over embeddings (brute-force + SRP-bucketed cosine).
  *
  * Oracle parity notes: all hashing is md5-hex (identical in DuckDB);
  * SimHash bits come from hex-digit high bits; SRP hyperplanes are
  * generated driver-side and inlined into both plans as literals; all
  * similarity ratios are exact integer ratios or left-associated
  * double folds.
  */
object TextQueries {

  private val tokSql =
    """toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t,
             text
      FROM documents
    )"""

  /** Shared recursive-CTE chain mirroring nearDupPairs(shingleN=3,
    * numSigs=4, rowsPerBand=4, minJaccard=0.2) + connectedComponents:
    * ends at `mapped(doc_id, cluster_id)` — the full-corpus cluster
    * assignment (singletons map to themselves). Used by
    * q_neardup_clusters and q_neardup_dedup_corpus. */
  private val neardupMappedCtes = s"""$tokSql,
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        sig AS (
          SELECT doc_id, s,
            list_min(list_transform(s, x -> substr(md5(x), 1, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 9, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 17, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS bucket
          FROM sh
        ),
        mh AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
          WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.2
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM mh
          UNION SELECT id_b, id_a FROM mh
        ),
        reach(node, lbl) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        ),
        members AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        mapped AS (
          SELECT d.doc_id, COALESCE(m.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN members m ON d.doc_id = m.node
        )"""

  /** DuckDB mirror of [[TextOps.qualityScore]] over `toks(t, text)` —
    * shared by q_text_quality_stats and q_neardup_dedup_corpus. */
  private val qualityScoreSql = """ROUND(((CASE WHEN len(text) BETWEEN 100 AND 10000 THEN 1.0
                       WHEN len(text) < 100 THEN len(text) / 100.0
                       ELSE 0.5 END)
               + (CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / CAST(len(t) AS DOUBLE) ELSE 0.0 END)
               + (CASE WHEN (CASE WHEN len(t) > 0
                             THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t)
                             ELSE 0.0 END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) / 3.0, 4)"""

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "generic" -> Seq("the", "a"),
    "storage" -> Seq("scan", "merge", "hash", "batch"),
    "querying" -> Seq("join", "filter", "window", "group", "agg")
  )

  val defs: Seq[QueryDef] = Seq(
    // Gopher/C4-style rule-based quality FILTER (public heuristics:
    // Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2): hard keep/drop
    // per document with the FIRST failing rule as the drop reason —
    // the decision layer a training-data pipeline runs on top of the
    // quality stats. Thresholds sized to the synthetic corpus; the
    // rule shapes are the published ones (token-count band, mean
    // word length band, symbol ratio cap, repetition cap via
    // distinct-token ratio).
    QueryDef(
      "q_quality_filter_rules",
      (s, dir) => {
        val t  = TextOps.tokens(col("text"))
        val n  = size(t).cast("long")
        val awl = TextOps.avgTokenLen(col("text"))
        val pr  = TextOps.punctRatio(col("text"))
        val dr  = when(n > 0, size(array_distinct(t)).cast("double") / n)
          .otherwise(lit(0.0))
        val reason = when(n < 20, "too_few_tokens")
          .when(n > 5000, "too_many_tokens")
          .when(awl < 3.0 || awl > 10.0, "word_length_out_of_band")
          .when(pr > 0.2, "symbol_ratio")
          .when(dr < 0.3, "repetitive")
        Tables(s, dir).documents.select(
          col("doc_id"),
          n.as("n_tokens"),
          QueryDef.r4(awl).as("avg_token_len"),
          QueryDef.r4(pr).as("punct_ratio"),
          QueryDef.r4(dr).as("distinct_ratio"),
          reason.isNull.as("keep"),
          reason.as("drop_reason"))
      },
      Some(s"""
        WITH $tokSql,
        feat AS (
          SELECT doc_id,
            CAST(len(t) AS BIGINT) AS n_tokens,
            CASE WHEN len(t) > 0
                 THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t) END AS awl,
            CASE WHEN len(text) > 0 THEN
              (len(text) - len(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0 / len(text)
              ELSE 0.0 END AS pr,
            CASE WHEN len(t) > 0 THEN len(list_distinct(t)) * 1.0 / len(t) ELSE 0.0 END AS dr
          FROM toks
        ),
        ruled AS (
          SELECT *,
            CASE WHEN n_tokens < 20 THEN 'too_few_tokens'
                 WHEN n_tokens > 5000 THEN 'too_many_tokens'
                 WHEN awl < 3.0 OR awl > 10.0 THEN 'word_length_out_of_band'
                 WHEN pr > 0.2 THEN 'symbol_ratio'
                 WHEN dr < 0.3 THEN 'repetitive'
            END AS drop_reason
          FROM feat
        )
        SELECT doc_id, n_tokens,
          ROUND(awl, 4) + 0.0 AS avg_token_len,
          ROUND(pr, 4) + 0.0 AS punct_ratio,
          ROUND(dr, 4) + 0.0 AS distinct_ratio,
          drop_reason IS NULL AS keep, drop_reason
        FROM ruled
      """)
    ),
    // Exact dedup by content digest (content_hash idiom,
    // document_extraction/models/sec_document_registry.yml)
    QueryDef(
      "q_dedup_exact_hash",
      (s, dir) =>
        DedupOps.exactDupGroups(Tables(s, dir).documents, "doc_id", "text"),
      Some("""
        SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
        FROM documents GROUP BY 1
      """)
    ),
    // Fuzzy-exact dedup on normalized fingerprints (sorted distinct
    // token set) — groups word-order/duplication variants.
    QueryDef(
      "q_fingerprint_dedup_groups",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.groupBy(TextOps.normalizedFingerprint(col("text")).as("fingerprint"))
          .agg(
            min(col("doc_id")).as("keeper_id"),
            count(lit(1)).as("n_docs"),
            concat_ws(",", array_sort(collect_list(col("doc_id").cast("string")))).as("members")
          )
          .filter(col("n_docs") > 1)
      },
      Some(s"""
        WITH $tokSql
        SELECT md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint,
          MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs,
          STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS members
        FROM toks
        GROUP BY 1
        HAVING COUNT(*) > 1
      """)
    ),
    // Exact duplicate-substring spans (suffix-array dedup of Lee et
    // al. 2022 re-expressed relationally): 8-token windows occurring
    // >=2 times corpus-wide, all but the first (doc_id, pos)
    // occurrence marked, marked starts merged to maximal spans.
    QueryDef(
      "q_substring_span_dedup",
      (s, dir) =>
        DedupOps.exactSubstringSpans(Tables(s, dir).documents, "doc_id", "text", k = 8),
      Some(s"""
        WITH $tokSql,
        w AS (
          SELECT doc_id, UNNEST(range(1, len(t) - 6)) AS pos, t
          FROM toks WHERE len(t) >= 8
        ),
        g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                 array_to_string(t[pos:pos+7], ' ') AS gram
          FROM w
        ),
        occ AS (
          SELECT doc_id, pos,
            ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
            COUNT(*) OVER (PARTITION BY gram) AS cnt
          FROM g
        ),
        rem AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
        isl AS (
          SELECT doc_id, pos,
            CASE WHEN pos > COALESCE(MAX(pos + 7) OVER
                   (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                 THEN 1 ELSE 0 END AS nw
          FROM rem
        ),
        isl2 AS (
          SELECT doc_id, pos,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl
        )
        SELECT doc_id,
          MIN(pos) AS span_start,
          MAX(pos) + 7 AS span_end,
          MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens,
          COUNT(*) AS n_windows
        FROM isl2 GROUP BY doc_id, grp
      """)
    ),
    // Per-document quality/statistics features (length bands, token
    // mix, punctuation) — training-data quality scoring.
    QueryDef(
      "q_text_quality_stats",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.charCount(col("text")).as("n_chars"),
          TextOps.estBpeTokens(col("text")).as("est_bpe_tokens"),
          r4(TextOps.avgTokenLen(col("text"))).as("avg_token_len"),
          TextOps.qualityScore(col("text")).as("quality_score")
        )
      },
      Some(s"""
        WITH $tokSql
        SELECT doc_id,
          CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(len(text) AS BIGINT) AS n_chars,
          CAST(GREATEST(len(t), CAST(CEIL(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_bpe_tokens,
          ROUND(CASE WHEN len(t) > 0
                THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t) END, 4) + 0.0 AS avg_token_len,
          $qualityScoreSql AS quality_score
        FROM toks
      """)
    ),
    // Language-ID heuristic by marker voting; ties -> lexicographically
    // greatest candidate, zero hits -> 'und'.
    QueryDef(
      "q_lang_id_heuristic",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(
          col("doc_id"),
          col("lang"),
          TextOps.langIdHeuristic(col("text"), langMarkers).as("lang_pred")
        )
      },
      Some {
        val scoreRows = langMarkers
          .map { case (cand, words) =>
            val cond = words.map(w => s"x = '$w'").mkString(" OR ")
            s"SELECT doc_id, lang, '$cand' AS cand, len(list_filter(t, x -> $cond)) AS hits FROM toks"
          }
          .mkString("\n          UNION ALL ")
        s"""
        WITH $tokSql,
        scores AS (
          $scoreRows
        ),
        best AS (SELECT doc_id, MAX(hits) AS m FROM scores GROUP BY doc_id),
        pred AS (
          SELECT s.doc_id, MAX(s.cand) AS pred_cand, MAX(s.hits) AS pred_hits
          FROM scores s JOIN best b ON s.doc_id = b.doc_id AND s.hits = b.m
          GROUP BY s.doc_id
        )
        SELECT t.doc_id, t.lang,
          CASE WHEN p.pred_hits > 0 THEN p.pred_cand ELSE 'und' END AS lang_pred
        FROM toks t JOIN pred p ON t.doc_id = p.doc_id
      """
      }
    ),
    // Token statistics rollup per (lang, source)
    QueryDef(
      "q_token_stats_by_lang",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(
          col("lang"), col("source"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.charCount(col("text")).as("n_chars"),
          TextOps.estBpeTokens(col("text")).as("est_bpe")
        ).groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(col("est_bpe")).as("total_est_bpe"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars")
          )
      },
      Some(s"""
        WITH $tokSql
        SELECT lang, source, COUNT(*) AS n_docs,
          CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
          CAST(SUM(GREATEST(len(t), CAST(CEIL(len(text) / 4.0) AS BIGINT))) AS BIGINT) AS total_est_bpe,
          CAST(SUM(len(text)) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM toks
        GROUP BY 1, 2
      """)
    ),
    // MinHash + LSH near-duplicate pairs with exact Jaccard verify
    // (one band of 4 signatures; md5-based, engine-portable)
    QueryDef(
      "q_minhash_neardup_pairs",
      (s, dir) =>
        DedupOps
          .nearDupPairs(Tables(s, dir).documents, "doc_id", "text",
            shingleN = 3, numSigs = 4, rowsPerBand = 4, minJaccard = 0.2)
          .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard")),
      Some(s"""
        WITH $tokSql,
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        sig AS (
          SELECT doc_id, s,
            list_min(list_transform(s, x -> substr(md5(x), 1, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 9, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 17, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS bucket
          FROM sh
        ),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
          FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
          ROUND(CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
                / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4)
            AS jaccard
        FROM pairs
        WHERE CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
              / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))) >= 0.2
      """)
    ),
    // Incremental near-dup detection (the production mode): the
    // 'src1' slice plays the new crawl batch, checked against the
    // rest of the corpus + itself via the batch-sided LSH band join —
    // old-vs-old pairs are never formed. At 100 TB the corpus band
    // and shingle tables are the persisted dedup index (SCALE.md).
    QueryDef(
      "q_incremental_neardups",
      (s, dir) =>
        DedupOps
          .incrementalNearDupPairs(Tables(s, dir).documents, "doc_id", "text",
            isNew = col("source") === "src1",
            shingleN = 3, numSigs = 4, rowsPerBand = 4, minJaccard = 0.2)
          .select(col("new_id"), col("match_id"), col("match_is_new"),
            r4(col("jaccard")).as("jaccard")),
      Some(s"""
        WITH $tokSql,
        sh AS (
          SELECT doc_id, source = 'src1' AS is_new,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        sig AS (
          SELECT doc_id, is_new, s,
            list_min(list_transform(s, x -> substr(md5(x), 1, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 9, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 17, 8))) || '|' ||
            list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS bucket
          FROM sh
        ),
        pairs AS (
          SELECT a.doc_id AS new_id, b.doc_id AS match_id,
            b.is_new AS match_is_new, a.s AS sa, b.s AS sb
          FROM sig a JOIN sig b ON a.bucket = b.bucket
            AND a.is_new AND a.doc_id <> b.doc_id
            AND (NOT b.is_new OR a.doc_id < b.doc_id)
        )
        SELECT new_id, match_id, match_is_new,
          ROUND(CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
                / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4)
            AS jaccard
        FROM pairs
        WHERE CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
              / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))) >= 0.2
      """)
    ),
    // n-gram Jaccard near-dup via df-capped inverted shingle index
    // (the no-MinHash set-similarity join; stop-shingles dropped)
    QueryDef(
      "q_ngram_jaccard_pairs",
      (s, dir) =>
        DedupOps
          .ngramJaccardPairs(Tables(s, dir).documents, "doc_id", "text",
            shingleN = 3, maxDf = 50, minJaccard = 0.2)
          .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard")),
      Some(s"""
        WITH $tokSql,
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        ex AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
        disc AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 50),
        kept AS (SELECT e.doc_id, e.g FROM ex e JOIN disc d ON e.g = d.g),
        cand AS (
          SELECT p.id_a, p.id_b
          FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          ) p
          JOIN sh za ON p.id_a = za.doc_id
          JOIN sh zb ON p.id_b = zb.doc_id
          WHERE p.n_common >= 2 OR len(za.s) + len(zb.s) <= 6
        )
        SELECT id_a, id_b,
          ROUND(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
                / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 4)
            AS jaccard
        FROM cand c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id
        WHERE CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
              / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) >= 0.2
      """)
    ),
    // Near-dup CLUSTERS: connected components over the MinHash pair
    // list (min-label propagation), full-corpus (doc -> cluster)
    // mapping with a canonical representative per cluster — the step
    // a dedup pipeline actually acts on. Oracle: DuckDB recursive CTE
    // enumerating reachable labels, MIN per node.
    QueryDef(
      "q_neardup_clusters",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
        val pairs = DedupOps
          .nearDupPairs(docs, "doc_id", "text",
            shingleN = 3, numSigs = 4, rowsPerBand = 4, minJaccard = 0.2)
          .select(col("id_a"), col("id_b"))
        val cc = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        docs.select(col("doc_id"))
          .join(cc, col("doc_id") === col("node"), "left")
          .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
          .withColumn("is_representative",
            (col("doc_id") === col("cluster_id")).cast("long"))
      },
      Some(s"""
        WITH RECURSIVE $neardupMappedCtes
        SELECT doc_id, cluster_id,
          COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_representative
        FROM mapped
      """)
    ),
    // PII redaction (emails / SSNs / phones / IPs): the documents
    // fixture has no organic PII, so each doc gets deterministic
    // synthetic PII appended (both engines build the identical
    // string), then the REAL pattern counting + chained redaction
    // runs — count columns from regexp counts, redacted text compared
    // byte-for-byte. RE2/Java-compatible patterns, no lookaround.
    QueryDef(
      "q_pii_redaction",
      (s, dir) => {
        val d = Tables(s, dir).documents
        def pad(e: Column, n: Int) = lpad(e.cast("string"), n, "0")
        val seeded = concat(
          col("text"),
          lit(" Contact doc"), col("doc_id"), lit("@example.com"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" or call 555-"), pad(col("doc_id") * 7 % 1000, 3),
              lit("-"), pad(col("doc_id") * 13 % 10000, 4))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10."), col("doc_id") % 256,
              lit("."), col("doc_id") * 3 % 256,
              lit("."), col("doc_id") * 7 % 256)).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" SSN 123-45-"), pad(col("doc_id") * 11 % 10000, 4)))
            .otherwise(lit("")))
        val withPii = d.select(col("doc_id"), seeded.as("pii_text"))
        withPii.select(
          (col("doc_id") +:
            TextOps.PiiPatterns.map { case (kind, _, _) =>
              TextOps.piiCount(col("pii_text"), kind).as(s"n_${kind}s")
            }) :+
            TextOps.redactPii(col("pii_text")).as("redacted"): _*)
          .withColumn("redacted_chars", length(col("redacted")).cast("long"))
      },
      Some {
        val counts = TextOps.PiiPatterns
          .map { case (kind, rx, _) =>
            s"CAST(LEN(REGEXP_EXTRACT_ALL(pii_text, '$rx')) AS BIGINT) AS n_${kind}s" }
          .mkString(",\n          ")
        val redacted = TextOps.PiiPatterns
          .foldLeft("pii_text") { case (acc, (_, rx, tag)) =>
            s"REGEXP_REPLACE($acc, '$rx', '$tag', 'g')" }
        s"""
        WITH seeded AS (
          SELECT doc_id,
            text || ' Contact doc' || CAST(doc_id AS VARCHAR) || '@example.com'
            || CASE WHEN doc_id % 3 = 0
                 THEN ' or call 555-' || LPAD(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                      || '-' || LPAD(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
                      || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
                 ELSE '' END
            || CASE WHEN doc_id % 7 = 0
                 THEN ' SSN 123-45-' || LPAD(CAST(doc_id * 11 % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS pii_text
          FROM documents
        )
        SELECT doc_id,
          $counts,
          $redacted AS redacted,
          CAST(LENGTH($redacted) AS BIGINT) AS redacted_chars
        FROM seeded
        """
      }
    ),
    // 16-bit SimHash from md5 hex-digit high bits
    QueryDef(
      "q_simhash_docs",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.select(col("doc_id"),
            DedupOps.simhashDigests(DedupOps.tokens(col("text"))).as("__d"))
          .select(
            col("doc_id"),
            DedupOps.simhash16FromDigests(col("__d")).cast("long").as("simhash")
          )
      },
      Some {
        val votes = (0 until 16)
          .map { j =>
            s"""list_sum(list_transform(t, x -> CASE WHEN substr(md5(x), ${j + 1}, 1)
             IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) AS v$j"""
          }
          .mkString(",\n          ")
        val bits = (0 until 16)
          .map(j => s"(CASE WHEN v$j > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH $tokSql,
        votes AS (
          SELECT doc_id,
          $votes
          FROM toks
        )
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes
      """
      }
    ),
    // SimHash banded near-dup pairs (DedupOps.simhashNearDupPairs):
    // 4×4-bit band bucketing with EXACT recall for hamming <= 2
    // (pigeonhole — no LSH probability), verified by bit_count(xor).
    QueryDef(
      "q_simhash_neardup_pairs",
      (s, dir) =>
        DedupOps.simhashNearDupPairs(Tables(s, dir).documents, "doc_id", "text", maxHamming = 2),
      Some {
        val votes = (0 until 16)
          .map { j =>
            s"""list_sum(list_transform(t, x -> CASE WHEN substr(md5(x), ${j + 1}, 1)
             IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) AS v$j"""
          }
          .mkString(",\n          ")
        val bits = (0 until 16)
          .map(j => s"(CASE WHEN v$j > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH $tokSql,
        votes AS (
          SELECT doc_id, $votes FROM toks
        ),
        sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS s FROM votes),
        bands AS (
          SELECT doc_id, s, b, (s >> (4 * b)) & 15 AS v
          FROM sh, UNNEST([0, 1, 2, 3]) AS t(b)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
          CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sh sa ON c.id_a = sa.doc_id
        JOIN sh sb ON c.id_b = sb.doc_id
        WHERE bit_count(xor(sa.s, sb.s)) <= 2
      """
      }
    ),
    // Production-parameter 64-bit SimHash near-dup pairs
    // (DedupOps.simhash64NearDupPairs): 4×16-bit bands, 65 536
    // buckets/band — the scale path the 16-bit fixture variant's
    // scaladoc promises. Exact recall for hamming <= 3 by pigeonhole.
    QueryDef(
      "q_simhash64_neardup_pairs",
      (s, dir) =>
        DedupOps.simhash64NearDupPairs(Tables(s, dir).documents, "doc_id", "text", maxHamming = 3),
      Some {
        // bit j of band b ← bit (j%4) of hex digit (4b + j/4 + 1);
        // a digit votes +1 for bit k iff (digit >> k) & 1 = 1.
        val votes = (for (b <- 0 until 4; j <- 0 until 16) yield {
          val pos = 4 * b + j / 4 + 1
          val k   = j % 4
          val set = (0 until 16)
            .filter(v => ((v >> k) & 1) == 1)
            .map(v => s"'${v.toHexString}'")
            .mkString(",")
          s"""list_sum(list_transform(t, x -> CASE WHEN substr(md5(x), $pos, 1) IN ($set) THEN 1 ELSE -1 END)) AS v${b}_$j"""
        }).mkString(",\n          ")
        val bandCols = (0 until 4)
          .map { b =>
            val bits = (0 until 16)
              .map(j => s"(CASE WHEN v${b}_$j > 0 THEN ${1L << j} ELSE 0 END)")
              .mkString(" + ")
            s"CAST($bits AS BIGINT) AS b$b"
          }
          .mkString(",\n          ")
        s"""
        WITH $tokSql,
        votes AS (
          SELECT doc_id,
          $votes
          FROM toks
        ),
        sh AS (
          SELECT doc_id,
          $bandCols
          FROM votes
        ),
        bands AS (
          SELECT doc_id, b0, b1, b2, b3, b,
            CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS v
          FROM sh, UNNEST([0, 1, 2, 3]) AS t(b)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
          CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
             + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sh sa ON c.id_a = sa.doc_id
        JOIN sh sb ON c.id_b = sb.doc_id
        WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
            + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= 3
      """
      }
    ),
    // Thread-structure metrics (reddit_thread_structure.sql: parent_id
    // prefix 't3_' = top-level, depth, reply chains): orders as posts,
    // lineitems as a comment chain ordered by (linenumber, partkey,
    // suppkey); first comment replies to the post ('t3_'), the rest to
    // the previous comment ('t1_').
    QueryDef(
      "q_thread_structure",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        val threaded = li
          .withColumn("depth", row_number().over(w).cast("long"))
          .withColumn(
            "parent_id",
            when(col("depth") === 1, concat(lit("t3_"), col("l_orderkey")))
              .otherwise(concat(lit("t1_"), col("l_orderkey"), lit("_"), col("depth") - 1))
          )
        threaded
          .groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_comments"),
            max(col("depth")).as("max_depth"),
            sum(when(col("parent_id").startsWith("t3_"), 1).otherwise(0)).as("n_top_level"),
            (sum(col("depth")).cast("double") / count(lit(1))).as("avg_depth")
          )
      },
      Some("""
        WITH threaded AS (
          SELECT l_orderkey,
            CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS depth
          FROM lineitem
        ),
        withparent AS (
          SELECT l_orderkey, depth,
            CASE WHEN depth = 1 THEN 't3_' || CAST(l_orderkey AS VARCHAR)
                 ELSE 't1_' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(depth - 1 AS VARCHAR) END AS parent_id
          FROM threaded
        )
        SELECT l_orderkey,
          COUNT(*) AS n_comments,
          MAX(depth) AS max_depth,
          CAST(SUM(CASE WHEN starts_with(parent_id, 't3_') THEN 1 ELSE 0 END) AS BIGINT) AS n_top_level,
          CAST(SUM(depth) AS DOUBLE) / COUNT(*) AS avg_depth
        FROM withparent
        GROUP BY l_orderkey
      """)
    ),
    // Brute-force cosine top-k against a fixed query vector
    // (semantic_search.py ML.DISTANCE COSINE idiom)
    QueryDef(
      "q_ann_cosine_topk",
      (s, dir) => {
        val e     = Tables(s, dir).embeddings
        val query = e.filter(col("vec_id") === 0).select(SimilarityOps.toDouble(col("embedding")).as("qvec"))
        val sim = SimilarityOps.cosine(e, col("embedding"), col("qvec"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(query))
          .select(col("vec_id"), r4(sim).as("cosine_sim"))
          .orderBy(col("cosine_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some("""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id <> 0),
        sims AS (
          SELECT vec_id,
            list_sum(list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
            / NULLIF(SQRT(list_sum(list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))))
              * SQRT(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))), 0) AS cs
          FROM c, q
        )
        SELECT vec_id, ROUND(cs, 4) + 0.0 AS cosine_sim
        FROM sims
        ORDER BY ROUND(cs, 4) DESC, vec_id ASC
        LIMIT 10
      """)
    ),
    // Int8-quantized ANN top-k: search over int8Quantize vectors.
    // The per-vector scale CANCELS in the cosine, so the whole score
    // is integer dot products (exact in any engine) + two correctly-
    // rounded sqrts + one multiply + one divide — bit-identical
    // cross-engine. The 4x-smaller vectors are the point at 100 TB:
    // the scan reads a quarter of the bytes and the dot is int
    // arithmetic (SIMD-friendly), at a bounded recall cost vs float
    // (both top-k lists are oracle-checked here).
    QueryDef(
      "q_ann_int8_topk",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val qz = e.select(col("vec_id"),
          SimilarityOps.int8Quantize(col("embedding")).getField("q").as("q"))
        val query = qz.filter(col("vec_id") === 0).select(col("q").as("qq"))
        val dot = aggregate(zip_with(col("q"), col("qq"), (a, b) => a.cast("long") * b),
          lit(0L), _ + _)
        val na = aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long") * x)
        val nb = aggregate(col("qq"), lit(0L), (acc, x) => acc + x.cast("long") * x)
        val cos = when(na > 0 && nb > 0,
          dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
          .otherwise(lit(0.0))
        qz.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(query))
          .select(col("vec_id"), QueryDef.rsnap(cos, 4).as("cosine_int8"))
          .orderBy(col("cosine_int8").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd FROM embeddings
        ),
        sc AS (
          SELECT vec_id, xd,
            COALESCE(list_max(list_transform(xd, x -> abs(x))), 0.0) / 127.0 AS scale
          FROM base
        ),
        qv AS (
          SELECT vec_id,
            list_transform(xd, x -> CASE WHEN 0.0 < scale
              THEN CAST(floor(x / scale + 0.5) AS BIGINT) ELSE 0 END) AS q
          FROM sc
        ),
        qq AS (SELECT q AS qq FROM qv WHERE vec_id = 0),
        c AS (SELECT vec_id, q FROM qv WHERE vec_id <> 0),
        sims AS (
          SELECT vec_id,
            CASE WHEN list_sum(list_transform(q, x -> x * x)) > 0
                  AND list_sum(list_transform(qq, x -> x * x)) > 0
              THEN CAST(list_sum(list_transform(range(1, len(q)+1), i -> q[i] * qq[i])) AS DOUBLE)
                / (SQRT(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE))
                   * SQRT(CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE)))
              ELSE 0.0 END AS cs
          FROM c, qq
        )
        SELECT vec_id, ${QueryDef.oSnap("cs", 4)} AS cosine_int8
        FROM sims
        ORDER BY 2 DESC, vec_id ASC
        LIMIT 10
      """)
    ),
    // SRP-bucketed embedding near-dup pairs (LSH for cosine): the
    // 100 TB scale path — pairs only form inside a bucket.
    QueryDef(
      "q_embedding_neardup_pairs",
      (s, dir) => {
        val planes = SimilarityOps.hyperplanes(64, 3)
        SimilarityOps
          .cosineNearDupPairs(Tables(s, dir).embeddings, "vec_id", "embedding", planes, 0.2)
          .select(col("id_a"), col("id_b"), r4(col("cosine_sim")).as("cosine_sim"))
      },
      Some {
        val planes = SimilarityOps.hyperplanes(64, 3)
        def dotSql(vec: String, p: Seq[Double]): String =
          p.zipWithIndex
            .map { case (w, d) => s"CAST($vec[${d + 1}] AS DOUBLE) * ($w)" }
            .mkString(" + ")
        def bucketSql(vec: String): String =
          planes.zipWithIndex
            .map { case (p, i) =>
              s"(CASE WHEN ${dotSql(vec, p)} >= 0 THEN ${1 << i} ELSE 0 END)"
            }
            .mkString(" + ")
        s"""
        WITH b AS (
          SELECT vec_id, embedding AS e, ${bucketSql("embedding")} AS bucket
          FROM embeddings
        ),
        pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.e AS ea, y.e AS eb
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        ),
        sims AS (
          SELECT id_a, id_b,
            list_sum(list_transform(range(1, len(ea)+1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
            / NULLIF(SQRT(list_sum(list_transform(range(1, len(ea)+1), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
              * SQRT(list_sum(list_transform(range(1, len(eb)+1), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))), 0) AS cs
          FROM pairs
        )
        SELECT id_a, id_b, ROUND(cs, 4) + 0.0 AS cosine_sim
        FROM sims WHERE cs >= 0.2
      """
      }
    ),
    // Gopher-style repetition signals (Rae et al. 2021 Table A1):
    // top-{2,3,4}-gram char fraction, duplicate-5-gram char fraction,
    // duplicate-line fraction + char fraction (lines = deterministic
    // 8-token segments, the fixture has no newlines), and the composite
    // repetition flag at the published thresholds (0.20/0.18/0.16/
    // 0.15/0.30). All numerators/denominators are exact integer char
    // counts; fractions go through the exact-decimal division pair and
    // the flag compares integer cross-products — no float wobble.
    QueryDef(
      "q_repetition_signals",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val base = Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        def grams(n: Int) =
          when(size(col("t")) >= n, DedupOps.shinglesFromTokens(col("t"), n))
            .otherwise(array().cast("array<string>"))
        val g = base.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          grams(2).as("g2"), grams(3).as("g3"), grams(4).as("g4"), grams(5).as("g5"),
          TextOps.tokenLines(col("t"), 8).as("ln"))
        val st = g.select(col("doc_id"), col("n_tokens"),
          TextOps.topGramChars(col("g2")).as("top2"), TextOps.allGramChars(col("g2")).as("all2"),
          TextOps.topGramChars(col("g3")).as("top3"), TextOps.allGramChars(col("g3")).as("all3"),
          TextOps.topGramChars(col("g4")).as("top4"), TextOps.allGramChars(col("g4")).as("all4"),
          TextOps.dupGramChars(col("g5")).as("dup5"), TextOps.allGramChars(col("g5")).as("all5"),
          size(col("ln")).cast("long").as("nl"),
          size(array_distinct(col("ln"))).cast("long").as("ndl"),
          TextOps.dupGramChars(col("ln")).as("dupl"), TextOps.allGramChars(col("ln")).as("alll"))
        def frac(num: Column, den: Column) =
          when(den > 0, QueryDef.rdiv(num.cast(DecimalType(18, 0)), den, 4)).otherwise(lit(0.0))
        st.select(col("doc_id"), col("n_tokens"),
          frac(col("top2"), col("all2")).as("top_2gram_char_frac"),
          frac(col("top3"), col("all3")).as("top_3gram_char_frac"),
          frac(col("top4"), col("all4")).as("top_4gram_char_frac"),
          frac(col("dup5"), col("all5")).as("dup_5gram_char_frac"),
          frac(col("nl") - col("ndl"), col("nl")).as("dup_line_frac"),
          frac(col("dupl"), col("alll")).as("dup_line_char_frac"),
          ((col("top2") * 5 > col("all2")) ||
            (col("top3") * 50 > col("all3") * 9) ||
            (col("top4") * 25 > col("all4") * 4) ||
            (col("dup5") * 20 > col("all5") * 3) ||
            ((col("nl") - col("ndl")) * 10 > col("nl") * 3))
            .cast("long").as("is_repetitive"))
      },
      Some {
        def gramsSql(n: Int) = {
          val cc = (0 until n).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
          s"CASE WHEN len(t) >= $n THEN list_transform(range(1, len(t) - ${n - 2}), i -> $cc) ELSE CAST([] AS VARCHAR[]) END"
        }
        val linesSql = "CASE WHEN len(t) > 0 THEN list_transform(range(0, CAST(ceil(len(t)/8.0) AS BIGINT)), i -> array_to_string(list_slice(t, i*8+1, i*8+8), ' ')) ELSE CAST([] AS VARCHAR[]) END"
        def topSql(g: String) =
          s"CAST(COALESCE(list_max(list_transform(list_distinct($g), x -> len(list_filter($g, y -> y = x)) * len(x))), 0) AS BIGINT)"
        def dupSql(g: String) =
          s"CAST(COALESCE(list_sum(list_transform(list_distinct($g), x -> CASE WHEN len(list_filter($g, y -> y = x)) >= 2 THEN len(list_filter($g, y -> y = x)) * len(x) ELSE 0 END)), 0) AS BIGINT)"
        def allSql(g: String) =
          s"CAST(COALESCE(list_sum(list_transform($g, x -> len(x))), 0) AS BIGINT)"
        def fracSql(num: String, den: String) =
          s"CASE WHEN $den > 0 THEN ${QueryDef.oDivRound(s"CAST($num AS HUGEINT) * 1000000", den, 4)} ELSE 0.0 END"
        s"""
        WITH $tokSql,
        g AS (
          SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
            ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3,
            ${gramsSql(4)} AS g4, ${gramsSql(5)} AS g5,
            $linesSql AS ln
          FROM toks
        ),
        st AS (
          SELECT doc_id, n_tokens,
            ${topSql("g2")} AS top2, ${allSql("g2")} AS all2,
            ${topSql("g3")} AS top3, ${allSql("g3")} AS all3,
            ${topSql("g4")} AS top4, ${allSql("g4")} AS all4,
            ${dupSql("g5")} AS dup5, ${allSql("g5")} AS all5,
            CAST(len(ln) AS BIGINT) AS nl,
            CAST(len(list_distinct(ln)) AS BIGINT) AS ndl,
            ${dupSql("ln")} AS dupl, ${allSql("ln")} AS alll
          FROM g
        )
        SELECT doc_id, n_tokens,
          ${fracSql("top2", "all2")} AS top_2gram_char_frac,
          ${fracSql("top3", "all3")} AS top_3gram_char_frac,
          ${fracSql("top4", "all4")} AS top_4gram_char_frac,
          ${fracSql("dup5", "all5")} AS dup_5gram_char_frac,
          ${fracSql("nl - ndl", "nl")} AS dup_line_frac,
          ${fracSql("dupl", "alll")} AS dup_line_char_frac,
          CAST(CASE WHEN top2*5 > all2 OR top3*50 > all3*9 OR top4*25 > all4*4
                     OR dup5*20 > all5*3 OR (nl-ndl)*10 > nl*3
               THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
        FROM st
      """
      }
    ),
    // Deterministic per-source document cap (per-domain cap idiom):
    // salted-hash rank inside each source, keep the md5-smallest 15.
    QueryDef(
      "q_source_cap_sampling",
      (s, dir) =>
        CurationOps.capPerKey(Tables(s, dir).documents, "doc_id", "source", cap = 15),
      Some("""
        SELECT doc_id, source, sample_rank, sample_rank <= 15 AS kept
        FROM (
          SELECT doc_id, source,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
          FROM documents
        )
      """)
    ),
    // Int8 max-abs embedding quantization: per-vector scale, quantized
    // checksum (pins the full q vector), reconstruction error, and the
    // cosine between the original and dequantized vectors. scale and
    // max_abs_err are raw doubles — every op in their derivation is a
    // single exact IEEE operation (abs/max/one division/one multiply),
    // so both engines emit identical bits; only the cosine (a fold)
    // is rounded.
    QueryDef(
      "q_embedding_quantization",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        e.select(col("vec_id"),
            SimilarityOps.toDouble(col("embedding")).as("xd"),
            SimilarityOps.int8Quantize(col("embedding")).as("qz"))
          .select(col("vec_id"), col("xd"),
            col("qz").getField("scale").as("scale"),
            col("qz").getField("q").as("q"))
          .withColumn("deq", transform(col("q"), v => v.cast("double") * col("scale")))
          .select(
            col("vec_id"),
            col("scale"),
            size(col("q")).cast("long").as("n_dims"),
            aggregate(col("q"), lit(0L), (a, v) => a + v.cast("long")).as("q_checksum"),
            aggregate(zip_with(col("xd"), col("deq"), (a, b) => abs(a - b)), lit(0.0),
              (m, x) => greatest(m, x)).as("max_abs_err"),
            r4(cosineSimilarity(col("xd"), col("deq"))).as("cosine_dequant"))
      },
      Some("""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd FROM embeddings
        ),
        sc AS (
          SELECT vec_id, xd,
            COALESCE(list_max(list_transform(xd, x -> abs(x))), 0.0) / 127.0 AS scale
          FROM base
        ),
        qv AS (
          SELECT vec_id, xd, scale,
            list_transform(xd, x -> CASE WHEN 0.0 < scale THEN CAST(floor(x / scale + 0.5) AS INTEGER) ELSE 0 END) AS q
          FROM sc
        ),
        dq AS (
          SELECT vec_id, xd, scale, q,
            list_transform(q, v -> CAST(v AS DOUBLE) * scale) AS deq
          FROM qv
        )
        SELECT vec_id, scale,
          CAST(len(q) AS BIGINT) AS n_dims,
          CAST(COALESCE(list_sum(list_transform(q, v -> CAST(v AS BIGINT))), 0) AS BIGINT) AS q_checksum,
          COALESCE(list_max(list_transform(range(1, len(xd)+1), i -> abs(xd[i] - deq[i]))), 0.0) AS max_abs_err,
          ROUND(
            list_sum(list_transform(range(1, len(xd)+1), i -> xd[i] * deq[i]))
            / NULLIF(SQRT(list_sum(list_transform(xd, x -> x * x)))
              * SQRT(list_sum(list_transform(deq, x -> x * x))), 0), 4) + 0.0 AS cosine_dequant
        FROM dq
      """)
    ),
    // End-to-end near-dup corpus dedup: cluster (MinHash LSH +
    // connected components), score each doc, keep the best doc per
    // cluster (quality desc, id asc tie-break) — the decision layer a
    // dedup pipeline actually ships: which rows survive into training.
    QueryDef(
      "q_neardup_dedup_corpus",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
        val pairs = DedupOps
          .nearDupPairs(docs, "doc_id", "text",
            shingleN = 3, numSigs = 4, rowsPerBand = 4, minJaccard = 0.2)
          .select(col("id_a"), col("id_b"))
        val cc = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        val clustered = docs
          .join(cc, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
            TextOps.qualityScore(col("text")).as("quality_score"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        clustered
          .withColumn("keep_rank", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("cluster_id"), col("quality_score"),
            col("n_tokens"), col("keep_rank"), (col("keep_rank") === 1L).as("kept"))
      },
      Some(s"""
        WITH RECURSIVE $neardupMappedCtes,
        scored AS (
          SELECT m.doc_id, m.cluster_id,
            $qualityScoreSql AS quality_score,
            CAST(len(t) AS BIGINT) AS n_tokens
          FROM mapped m JOIN toks ON m.doc_id = toks.doc_id
        )
        SELECT doc_id, cluster_id, quality_score, n_tokens, keep_rank,
          keep_rank = 1 AS kept
        FROM (
          SELECT doc_id, cluster_id, quality_score, n_tokens,
            CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS keep_rank
          FROM scored
        )
      """)
    )
  )
}
