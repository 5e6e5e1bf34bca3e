package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.BpeOps
import graft.runtime.Tables

/** BPE tokenizer queries: the trained merge table and the per-source
  * subword token accounting it yields (the counts a pretraining-mix
  * planner actually budgets with).
  *
  * Oracles are stored goldens of the deterministic sf0.01 run (the
  * merge loop is not SQL-expressible), independently cross-checked by
  * `tools/check_bpe.py`, a from-scratch pure-python BPE that retrains
  * from the raw parquet and must reproduce both tables exactly —
  * integer counts and a totally-ordered pair selection make the
  * pipeline bit-deterministic, not just statistically stable.
  * Regenerate goldens with the TextMlGolden recipe.
  */
object BpeQueries {

  /** Enough merges to take this corpus to convergence (training also
    * stops at pair-freq < 2, the subword-nmt min_frequency default). */
  private val NumMerges = 60

  // Training is deterministic, so memoizing the merge table per sf
  // dir cannot change results — it stops the three BPE QueryDefs from
  // each re-running the collect + 60-merge training loop (ADVICE r7).
  private val mergeMemo = QueryMemos.register("q_bpe_",
    new java.util.concurrent.ConcurrentHashMap[String, Seq[BpeOps.BpeMerge]]())

  private def trained(s: SparkSession, dir: String): Seq[BpeOps.BpeMerge] =
    mergeMemo.computeIfAbsent(
      dir, _ => BpeOps.train(Tables(s, dir).documents, "text", NumMerges, minCount = 2L))

  val defs: Seq[QueryDef] = Seq(
    // The merge table itself: rank order IS the tokenizer.
    QueryDef(
      "q_bpe_merges",
      (s, dir) => {
        import s.implicits._
        trained(s, dir)
          .toDF()
          .select(
            col("rank").cast("bigint").as("merge_rank"),
            col("lhs"),
            col("rhs"),
            col("pairFreq").as("pair_freq"))
      },
      TextMlGolden.bpeMerges
    ),
    // Per-source subword accounting under the trained tokenizer: doc /
    // word / token / char totals and the derived budget ratios.
    QueryDef(
      "q_bpe_token_stats",
      (s, dir) => {
        val merges = trained(s, dir)
        BpeOps
          .tokenize(Tables(s, dir).documents, "text", merges)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_alnum_chars")).as("n_alnum_chars"))
          .withColumn("avg_tokens_per_doc", round(col("n_tokens") / col("n_docs"), 4))
          .withColumn("chars_per_token", round(col("n_alnum_chars") / col("n_tokens"), 4))
      },
      TextMlGolden.bpeTokenStats
    ),
    // End-to-end tokenize -> pack: the packing manifest computed from
    // the REAL subword counts of the trained tokenizer (the estBpe
    // heuristic of q_sequence_packing replaced by the actual encoder)
    // — per-source shards, 512-token training sequences, exact chunk
    // bookkeeping. Golden oracle; tools/check_bpe.py retrains the
    // tokenizer from scratch AND replays the packing arithmetic.
    QueryDef(
      "q_bpe_packed_sequences",
      (s, dir) => {
        val merges = trained(s, dir)
        graft.operators.CurationOps.sequencePackingManifest(
          BpeOps.tokenize(Tables(s, dir).documents, "text", merges),
          "doc_id", "source", col("n_tokens"), seqLen = 512)
      },
      TextMlGolden.bpePackedSequences
    )
  )
}
