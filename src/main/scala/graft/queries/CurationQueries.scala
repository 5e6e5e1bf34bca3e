package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, TextOps}
import graft.runtime.Tables

/** Corpus-curation stage of the training-data pipeline (the steps
  * between dedup and the tokenizer): benchmark decontamination,
  * temperature-weighted source mixing, and sequence-packing manifests
  * — all over the documents fixture, all DuckDB-oracle-checked.
  * Operators in [[graft.operators.CurationOps]] (parity + scale notes
  * there).
  */
object CurationQueries {

  /** doc_id, source, tokens, est-BPE tokens — shared CTE base. */
  private val tokSql =
    """toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t,
             text
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source,
        GREATEST(len(t), CAST(CEIL(len(text) / 4.0) AS BIGINT)) AS tok
      FROM toks
    )"""

  private def estBpe = TextOps.estBpeTokens(col("text"))

  val defs: Seq[QueryDef] = Seq(
    // Benchmark decontamination: training docs sharing >=2 distinct
    // word trigrams with the held-out suite (source 'src0' plays the
    // benchmark), scored by the fraction of the bench doc covered.
    QueryDef(
      "q_benchmark_contamination",
      (s, dir) =>
        CurationOps.contaminationPairs(Tables(s, dir).documents, "doc_id", "text",
          isBench = col("source") === "src0", shingleN = 3,
          minShared = 2, minBenchFrac = 0.2),
      Some(s"""
        WITH $tokSql,
        sh AS (
          SELECT doc_id, source,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        bex AS (
          SELECT doc_id AS bench_id, CAST(len(s) AS BIGINT) AS bench_ngrams,
                 UNNEST(s) AS g
          FROM sh WHERE source = 'src0'
        ),
        tex AS (
          SELECT doc_id AS train_id, UNNEST(s) AS g
          FROM sh WHERE source <> 'src0'
        ),
        shared AS (
          SELECT train_id, bench_id, bench_ngrams, COUNT(*) AS n_shared
          FROM tex JOIN bex USING (g)
          GROUP BY 1, 2, 3
        )
        SELECT train_id, bench_id, bench_ngrams, n_shared,
          ROUND(CAST(n_shared AS DOUBLE) / bench_ngrams, 4) + 0.0 AS bench_frac,
          CAST(n_shared AS DOUBLE) / bench_ngrams >= 0.2 AS contaminated
        FROM shared WHERE n_shared >= 2
      """)
    ),
    // Temperature-weighted source mixing: sampling rates per source
    // proportional to tokens^0.5, budgeted to half the corpus tokens;
    // deterministic per-doc copy counts (upsampling allowed).
    QueryDef(
      "q_training_mix_sampling",
      (s, dir) =>
        CurationOps.temperatureMixSampling(Tables(s, dir).documents, "doc_id", "source",
          estBpe, budgetNum = 1, budgetDen = 2),
      Some(s"""
        WITH $tokSql,
        per_src AS (
          SELECT source, SUM(tok) AS src_tokens, COUNT(*) AS n_docs
          FROM per_doc GROUP BY 1
        ),
        wts AS (
          SELECT *, CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w
          FROM per_src
        ),
        tot AS (SELECT SUM(w) AS sum_w, SUM(src_tokens) AS total_tokens FROM wts),
        rates AS (
          SELECT source,
            CAST(((total_tokens * 1) // 2) * w AS DOUBLE)
              / CAST(sum_w * src_tokens AS DOUBLE) AS rate
          FROM wts, tot
        )
        SELECT d.doc_id, d.source, d.tok AS est_tokens,
          r.rate AS sample_rate,
          CAST(FLOOR(r.rate) AS BIGINT)
            + CASE WHEN CAST(d.doc_id * 2654435761 % 1000000 AS DOUBLE) / 1000000.0
                        < r.rate - FLOOR(r.rate)
                   THEN 1 ELSE 0 END AS n_copies
        FROM per_doc d JOIN rates r USING (source)
      """)
    ),
    // Sequence-packing manifest: concat-then-chunk into 512-token
    // training sequences per source shard; per-doc chunk range/offset.
    QueryDef(
      "q_sequence_packing",
      (s, dir) =>
        CurationOps.sequencePackingManifest(Tables(s, dir).documents, "doc_id", "source",
          estBpe, seqLen = 512),
      Some(s"""
        WITH $tokSql,
        packed AS (
          SELECT source AS shard, doc_id, tok,
            SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS end_tok
          FROM per_doc WHERE tok > 0
        )
        SELECT shard, doc_id, tok AS n_tokens,
          CAST((end_tok - tok) % 512 AS BIGINT) AS chunk_offset,
          CAST((end_tok - tok) // 512 AS BIGINT) AS first_chunk,
          CAST((end_tok - 1) // 512 AS BIGINT) AS last_chunk,
          CAST((end_tok - 1) // 512 - (end_tok - tok) // 512 + 1 AS BIGINT) AS chunks_spanned
        FROM packed
      """)
    ),
    // Length-bucket padding audit (the batch-inference half of
    // packing): bucket docs to a fixed power-of-two ladder (CASE, not
    // float log2 — boundary-exact in any engine), report per-bucket
    // doc/token counts and the padding waste vs padding every doc to
    // the global 4096 ceiling. Waste ratios via the exact-decimal
    // division pair. One groupBy; the ladder is a projection.
    QueryDef(
      "q_length_bucket_padding",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val ladder = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
        val n      = estBpe
        val bucket = ladder.reverse.tail
          .foldLeft(lit(4096L)) { (acc, b) => when(n <= b, lit(b)).otherwise(acc) }
        Tables(s, dir).documents
          .select(col("doc_id"), n.as("tok"), bucket.as("bucket_len"))
          .filter(col("tok") > 0 && col("tok") <= 4096)
          .groupBy(col("bucket_len"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("tok")).cast("long").as("total_tokens"),
            sum(col("bucket_len") - col("tok")).cast("long").as("padding_tokens"),
            sum(lit(4096L) - col("tok")).cast("long").as("naive_padding_tokens"))
          .withColumn("waste_pct",
            QueryDef.rdiv((col("padding_tokens") * 10000).cast(DecimalType(18, 0)),
              col("bucket_len") * col("n_docs"), 2))
      },
      Some {
        val ladder = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
        val bucketSql = ladder.foldRight("4096") { (b, acc) =>
          s"CASE WHEN tok <= $b THEN $b ELSE $acc END"
        }
        s"""
        WITH $tokSql,
        bucketed AS (
          SELECT doc_id, tok, CAST($bucketSql AS BIGINT) AS bucket_len
          FROM per_doc WHERE tok > 0 AND tok <= 4096
        ),
        agg AS (
          SELECT bucket_len,
            COUNT(*) AS n_docs,
            CAST(SUM(tok) AS BIGINT) AS total_tokens,
            CAST(SUM(bucket_len - tok) AS BIGINT) AS padding_tokens,
            CAST(SUM(4096 - tok) AS BIGINT) AS naive_padding_tokens
          FROM bucketed GROUP BY bucket_len
        )
        SELECT bucket_len, n_docs, total_tokens, padding_tokens, naive_padding_tokens,
          ${QueryDef.oDivRound("padding_tokens * 10000 * 1000000", "bucket_len * n_docs", 2)}
            AS waste_pct
        FROM agg
      """
      }
    ),
    // Deterministic train/val/test split: md5-derived percentile of
    // the doc id -> 80/10/10, stable across runs, engines, and corpus
    // growth (a doc's split never changes when other docs arrive —
    // the property a random split lacks). Per source x split counts +
    // exact doc-share ratios.
    QueryDef(
      "q_train_val_test_split",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        import graft.operators.SketchOps
        val pct = pmod(SketchOps.hash32(col("doc_id")), lit(100L))
        val split = when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
        val d = Tables(s, dir).documents
          .select(col("doc_id"), col("source"), split.as("split"),
            TextOps.tokenCount(col("text")).as("tok"))
        val withTotals = d.groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).cast("long").as("n_tokens"))
        val tot = d.groupBy(col("source")).agg(count(lit(1)).as("source_docs"))
        withTotals.join(tot, Seq("source"))
          .select(col("source"), col("split"), col("n_docs"), col("n_tokens"),
            QueryDef.rdiv((col("n_docs") * 10000).cast(DecimalType(18, 0)),
              col("source_docs"), 4).as("doc_share"))
      },
      Some {
        val h = (0 until 8).map { i =>
          val d = s"ascii(substr(md5(CAST(doc_id AS VARCHAR)), ${i + 1}, 1))"
          s"CAST(CASE WHEN $d <= 57 THEN $d - 48 ELSE $d - 87 END AS BIGINT) * ${1L << (4 * (7 - i))}"
        }.mkString("(", " + ", ")")
        s"""
        WITH $tokSql,
        split_docs AS (
          SELECT d.doc_id, d.source, d.tok,
            CASE WHEN $h % 100 < 80 THEN 'train'
                 WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split
          FROM per_doc d
        ),
        agg AS (
          SELECT source, split, COUNT(*) AS n_docs
          FROM split_docs GROUP BY 1, 2
        ),
        tok_agg AS (
          SELECT s.source, s.split,
            CAST(SUM(len(list_filter(string_split_regex(lower(doc.text), '\\s+'),
                     x -> len(x) > 0))) AS BIGINT) AS n_tokens
          FROM split_docs s JOIN documents doc USING (doc_id)
          GROUP BY 1, 2
        ),
        tot AS (SELECT source, COUNT(*) AS source_docs FROM documents GROUP BY 1)
        SELECT a.source, a.split, a.n_docs, k.n_tokens,
          ${QueryDef.oDivRound("a.n_docs * 10000 * 1000000", "t.source_docs", 4)} AS doc_share
        FROM agg a
        JOIN tok_agg k ON a.source = k.source AND a.split = k.split
        JOIN tot t ON a.source = t.source
      """
      }
    ),
    // The curation FUNNEL end-to-end: exact dedup -> quality rules ->
    // benchmark decontamination -> per-source cap, reported as a
    // per-source survivor funnel with final token totals — the one-
    // page accounting a corpus run publishes, and the composition
    // proof that the pipeline stages (each oracle-checked alone) chain
    // correctly. Stage semantics reuse the standalone queries':
    // q_dedup_exact_hash keepers, q_quality_filter_rules reasons,
    // q_benchmark_contamination flags (bench = src0, excluded from the
    // funnel), capPerKey's salted-md5 rank (cap 40). Everything
    // aggregated is an exact integer, so the DuckDB replay matches
    // bit-for-bit.
    QueryDef(
      "q_curation_funnel",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
        val t   = TextOps.tokens(col("text"))
        val n   = size(t).cast("long")
        val awl = TextOps.avgTokenLen(col("text"))
        val pr  = TextOps.punctRatio(col("text"))
        val dr  = when(n > 0, size(array_distinct(t)).cast("double") / n)
          .otherwise(lit(0.0))
        val dropReason = when(n < 20, "too_few_tokens")
          .when(n > 5000, "too_many_tokens")
          .when(awl < 3.0 || awl > 10.0, "word_length_out_of_band")
          .when(pr > 0.2, "symbol_ratio")
          .when(dr < 0.3, "repetitive")
        val contaminated = CurationOps.contaminationPairs(docs, "doc_id", "text",
            isBench = col("source") === "src0", shingleN = 3,
            minShared = 2, minBenchFrac = 0.2)
          .filter(col("contaminated"))
          .select(col("train_id").as("c_id")).distinct()
        val staged = docs.filter(col("source") =!= "src0")
          .withColumn("is_keeper",
            col("doc_id") === min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
          .withColumn("q_keep", dropReason.isNull)
          .join(contaminated, col("doc_id") === col("c_id"), "left")
          .withColumn("clean", col("c_id").isNull)
        val surv = staged
          .filter(col("is_keeper") && col("q_keep") && col("clean"))
          .select(col("doc_id"), col("source"))
        val capped = CurationOps.capPerKey(surv, "doc_id", "source", cap = 40)
          .select(col("doc_id").as("k_id"), col("kept"))
        staged.join(capped, col("doc_id") === col("k_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_raw"),
            sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_after_dedup"),
            sum(when(col("is_keeper") && col("q_keep"), 1L).otherwise(0L))
              .as("n_after_quality"),
            sum(when(col("is_keeper") && col("q_keep") && col("clean"), 1L).otherwise(0L))
              .as("n_after_decontam"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_after_cap"),
            sum(when(col("kept"), TextOps.estBpeTokens(col("text"))).otherwise(0L))
              .as("tokens_after_cap"))
      },
      Some(s"""
        WITH $tokSql,
        base AS (
          SELECT doc_id, source, t, text FROM toks WHERE source <> 'src0'
        ),
        ded AS (
          SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
          FROM base
        ),
        feat AS (
          SELECT *,
            CAST(len(t) AS BIGINT) AS n_tokens,
            CASE WHEN len(t) > 0
                 THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t) END AS awl,
            CASE WHEN len(text) > 0 THEN
              (len(text) - len(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0 / len(text)
              ELSE 0.0 END AS pr,
            CASE WHEN len(t) > 0 THEN len(list_distinct(t)) * 1.0 / len(t) ELSE 0.0 END AS dr
          FROM ded
        ),
        ruled AS (
          SELECT *,
            CASE WHEN n_tokens < 20 THEN 'too_few_tokens'
                 WHEN n_tokens > 5000 THEN 'too_many_tokens'
                 WHEN awl < 3.0 OR awl > 10.0 THEN 'word_length_out_of_band'
                 WHEN pr > 0.2 THEN 'symbol_ratio'
                 WHEN dr < 0.3 THEN 'repetitive'
            END IS NULL AS q_keep
          FROM feat
        ),
        sh AS (
          SELECT doc_id, source,
            list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
          FROM toks WHERE len(t) >= 3
        ),
        bex AS (
          SELECT doc_id AS bench_id, CAST(len(s) AS BIGINT) AS bench_ngrams,
                 UNNEST(s) AS g
          FROM sh WHERE source = 'src0'
        ),
        tex AS (
          SELECT doc_id AS train_id, UNNEST(s) AS g
          FROM sh WHERE source <> 'src0'
        ),
        contam AS (
          SELECT DISTINCT train_id FROM (
            SELECT train_id, bench_id, bench_ngrams, COUNT(*) AS n_shared
            FROM tex JOIN bex USING (g)
            GROUP BY 1, 2, 3
          ) WHERE n_shared >= 2 AND CAST(n_shared AS DOUBLE) / bench_ngrams >= 0.2
        ),
        st AS (
          SELECT r.*, c.train_id IS NULL AS clean
          FROM ruled r LEFT JOIN contam c ON r.doc_id = c.train_id
        ),
        surv AS (SELECT doc_id, source FROM st WHERE is_keeper AND q_keep AND clean),
        capped AS (
          SELECT doc_id,
            ROW_NUMBER() OVER (
              PARTITION BY source
              ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) <= 40
              AS kept
          FROM surv
        )
        SELECT st.source,
          CAST(COUNT(*) AS BIGINT) AS n_raw,
          CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
          CAST(SUM(CASE WHEN is_keeper AND q_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
          CAST(SUM(CASE WHEN is_keeper AND q_keep AND clean THEN 1 ELSE 0 END) AS BIGINT)
            AS n_after_decontam,
          CAST(SUM(CASE WHEN k.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_after_cap,
          CAST(SUM(CASE WHEN k.kept
                        THEN GREATEST(len(st.t), CAST(CEIL(len(st.text) / 4.0) AS BIGINT))
                        ELSE 0 END) AS BIGINT) AS tokens_after_cap
        FROM st LEFT JOIN capped k ON st.doc_id = k.doc_id
        GROUP BY 1
      """)
    ),
    // Char-bigram LM perplexity proxy (the CCNet/KenLM-style quality
    // score, self-trained): ONE pass trains the corpus bigram model —
    // a table bounded by charset² regardless of corpus size, so it
    // broadcasts — and one pass scores every document's mean
    // add-one-smoothed conditional surprisal in bits/char. High
    // bits/char = text unlike the corpus (mojibake, wrong language,
    // boilerplate soup) — the standard pretraining quality gate. At
    // 100 TB the model trains on a bounded sample or a reference
    // corpus; the scoring pass is unchanged. ln() outputs go through
    // the DECIMAL(18,6)-snap mean so the per-doc score is summation-
    // order independent (the EXP-SUM-LN discipline).
    QueryDef(
      "q_charlm_perplexity",
      (s, dir) => {
        val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        // persisted: the exploded bigram table feeds BOTH the model
        // build (cb/cp aggregations) and the scoring join — without it
        // the transform+explode pass over every document runs twice
        val bi = docs
          .select(col("doc_id"),
            explode(when(length(col("text")) >= 2,
              expr("transform(sequence(1, char_length(text) - 1), i -> substring(text, i, 2))"))
              .otherwise(array())).as("bg"))
          .persist()
        val cb = bi.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
        val cp = cb.groupBy(substring(col("bg"), 1, 1).as("pc"))
          .agg(sum(col("c_bg")).as("c_pc"))
        // vocab = distinct chars across the corpus. Dedup per-document
        // BEFORE the explode (array_distinct is a narrow map-side pass)
        // so the exchange carries ≤ charset rows per doc instead of
        // every character of the corpus — same distinct set, same
        // count, ~50× fewer exploded rows at any scale.
        val v = docs
          .select(explode(array_distinct(split(col("text"), ""))).as("ch"))
          .filter(length(col("ch")) === 1)
          .agg(countDistinct(col("ch")).as("vsize"))
        val bits = -log(
          (col("c_bg") + lit(1.0)) / (col("c_pc") + col("vsize"))) / log(lit(2.0))
        bi.join(broadcast(cb), Seq("bg"))
          .join(broadcast(cp), substring(col("bg"), 1, 1) === col("pc"))
          .crossJoin(broadcast(v))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            QueryDef.rsnap(
              sum(bits.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
                .cast("double") / count(lit(1)), 4).as("bits_per_char"))
      },
      Some(s"""
        WITH bg AS (
          SELECT doc_id, substring(text, CAST(i AS INTEGER), 2) AS bg
          FROM documents, UNNEST(RANGE(1, length(text))) AS t(i)
          WHERE length(text) >= 2
        ),
        cb AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bg GROUP BY 1),
        cp AS (
          SELECT substring(bg, 1, 1) AS pc, CAST(SUM(c_bg) AS BIGINT) AS c_pc
          FROM cb GROUP BY 1
        ),
        v AS (
          SELECT COUNT(DISTINCT substring(text, CAST(i AS INTEGER), 1)) AS vsize
          FROM documents, UNNEST(RANGE(1, length(text) + 1)) AS t(i)
        ),
        scored AS (
          SELECT b.doc_id,
            -LN((c.c_bg + 1.0) / (p.c_pc + v.vsize)) / LN(2.0) AS bits
          FROM bg b
          JOIN cb c USING (bg)
          JOIN cp p ON substring(b.bg, 1, 1) = p.pc
          CROSS JOIN v
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          ${QueryDef.oSnap("CAST(SUM(CAST(bits AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 4)}
            AS bits_per_char
        FROM scored GROUP BY 1
      """)
    ),
    // Deterministic epoch-shuffle shard manifest: Knuth-multiplicative
    // shuffle key, hash-mod shard, per-shard (key, id) sequence and
    // exact token offsets — the reproducible global shuffle a training
    // run's data loader consumes. No global rank (that would serialize
    // the corpus through one task); the only shuffle is per-shard.
    QueryDef(
      "q_corpus_shard_manifest",
      (s, dir) =>
        CurationOps.epochShardManifest(Tables(s, dir).documents, "doc_id", estBpe,
          numShards = 8),
      Some(s"""
        WITH $tokSql,
        keyed AS (
          SELECT doc_id, tok AS n_tokens,
            (doc_id * 2654435761) % 999983 AS shuffle_key
          FROM per_doc
        ),
        sh AS (
          SELECT doc_id, n_tokens, shuffle_key,
            shuffle_key % 8 AS shard_id
          FROM keyed
        )
        SELECT doc_id, shard_id,
          ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY shuffle_key, doc_id)
            AS seq_in_shard,
          n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id
            ORDER BY shuffle_key, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS tok_offset
        FROM sh
      """)
    )
  )
}
