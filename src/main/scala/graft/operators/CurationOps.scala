package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and tokenization: benchmark decontamination,
  * temperature-weighted source mixing, and sequence-packing manifests.
  *
  * Scale posture mirrors [[DedupOps]]: nothing all-pairs, nothing
  * driver-side. Contamination joins the corpus against a BOUNDED
  * held-out suite (broadcast by construction); mixing reduces to a
  * #sources-row rate table joined back broadcast; packing is one
  * windowed cumulative sum per shard.
  *
  * Cross-engine float parity: every ratio that feeds a comparison or
  * an output is a single IEEE operation over exactly-representable
  * integers (or an exactly-rounded sqrt), so Spark and an external SQL
  * oracle compute bit-identical doubles — see the per-op notes.
  */
object CurationOps {

  /** Benchmark-contamination pairs (the published decontamination
    * recipe: drop or flag training documents sharing word n-grams with
    * a held-out evaluation suite — Brown et al. 2020 App. C,
    * Chowdhery et al. 2022 §8).
    *
    * Returns one row per (train doc, bench doc) candidate with the
    * shared-distinct-n-gram count and the fraction of the BENCH doc's
    * n-grams found in the training doc (the conservative direction: a
    * long training doc fully containing a short eval doc scores 1.0).
    *
    * Scale: the eval suite is bounded by design (a fixed benchmark,
    * not a corpus), so its exploded n-gram index is broadcast and the
    * corpus side streams through one hash join + one aggregation —
    * no shuffle of corpus n-grams, no candidate blowup beyond true
    * overlaps. Docs shorter than `shingleN` tokens cannot carry an
    * n-gram and are excluded on both sides.
    */
  def contaminationPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isBench: Column,
      shingleN: Int,
      minShared: Int,
      minBenchFrac: Double): DataFrame = {
    // cache(): the shingle table fans out to the bench and train
    // sides. Without the materialization boundary the optimizer pushes
    // each side's filter through and re-inlines the tokenize+shingle
    // lambda chain into both consumers (interpreted HOFs, O(tokens²)
    // re-expansion — measured 8.7 s -> 0.5 s at sf0.1 when cached).
    // The code that reads a frame twice persists it (QueryDef's caching
    // rule): the returned plan references the cached frame, and
    // Verify/Bench release it with their per-query clearCache.
    val base = docs
      .select(col(idCol).as("__id"), isBench.as("__bench"),
        DedupOps.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= shingleN)
      .select(col("__id"), col("__bench"),
        array_distinct(DedupOps.shinglesFromTokens(col("__t"), shingleN)).as("__sh"))
      .cache()
    val benchEx = base.filter(col("__bench"))
      .select(col("__id").as("bench_id"),
        size(col("__sh")).cast("long").as("bench_ngrams"),
        explode(col("__sh")).as("__g"))
    val trainEx = base.filter(!col("__bench"))
      .select(col("__id").as("train_id"), explode(col("__sh")).as("__g"))
    // shingles are distinct per doc, so COUNT(*) per pair == |intersection|
    val frac = col("n_shared").cast("double") / col("bench_ngrams")
    trainEx.join(broadcast(benchEx), "__g")
      .groupBy(col("train_id"), col("bench_id"), col("bench_ngrams"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_id"), col("bench_id"), col("bench_ngrams"),
        col("n_shared"),
        round(frac, 4).as("bench_frac"),
        (frac >= minBenchFrac).as("contaminated"))
  }

  /** Temperature-weighted training-mix sampling: per-source sampling
    * rates ∝ tokens^0.5 (temperature α = 0.5, the multilingual-mixing
    * idiom of Conneau & Lample 2019 §3.1 / Raffel et al. 2020 §3.4.3),
    * scaled so the expected sample totals `budgetNum/budgetDen` of the
    * corpus tokens. Rates may exceed 1 for rare sources: each document
    * gets `floor(rate)` guaranteed copies plus one more when its
    * deterministic per-doc uniform (a Knuth-multiplicative hash of the
    * id, quantized to 1e-6) falls under the fractional part —
    * reproducible epochs, no RNG state.
    *
    * Parity design: α is fixed at 0.5 because IEEE sqrt is exactly
    * rounded (pow(x, 0.7) is not, and differs across libm builds);
    * weights snap to integer thousandths, so `rate` is ONE double
    * division of two exact integers — bit-identical in any engine.
    * Products stay < 2^53 at fixture scale; a 100 TB run lifts the
    * same plan to DECIMAL(38,0) products.
    *
    * Returns one row per document: its source rate and copy count.
    */
  def temperatureMixSampling(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      tokenCount: Column,
      budgetNum: Int,
      budgetDen: Int): DataFrame = {
    val perDoc = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      tokenCount.as("est_tokens"))
    val perSrc = perDoc.groupBy(col("source"))
      .agg(sum(col("est_tokens")).as("src_tokens"), count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("src_tokens").cast("double")) * 1000).cast("long"))
    val tot = perSrc.agg(sum(col("w")).as("sum_w"),
      sum(col("src_tokens")).as("total_tokens"))
    val rates = perSrc.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"(total_tokens * $budgetNum) div $budgetDen"))
      .withColumn("rate",
        (col("budget") * col("w")).cast("double") /
          (col("sum_w") * col("src_tokens")).cast("double"))
      .select(col("source"), col("rate"))
    val u = pmod(col("doc_id") * lit(2654435761L), lit(1000000L)).cast("double") / 1000000.0
    perDoc.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), col("est_tokens"),
        col("rate").as("sample_rate"),
        (floor(col("rate")).cast("long") +
          when(u < col("rate") - floor(col("rate")), 1L).otherwise(0L)).as("n_copies"))
  }

  /** Sequence-packing manifest (concat-then-chunk, the GPT-style
    * packing that concatenates a shard's documents and slices fixed
    * `seqLen`-token training sequences): for each document, the chunk
    * range it lands in and its offset — the bookkeeping a data loader
    * needs to locate any document inside packed sequences, and the
    * attention-masking layer needs to know where boundaries fall.
    *
    * Packing is per `shardCol` (documents never pack across shards),
    * ordered by id within the shard — one windowed cumulative sum, all
    * integer arithmetic. Zero-token documents are excluded (they
    * occupy no sequence space).
    */
  def sequencePackingManifest(
      docs: DataFrame,
      idCol: String,
      shardCol: String,
      tokenCount: Column,
      seqLen: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol).as("doc_id"), col(shardCol).as("shard"),
        tokenCount.as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_tok", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        pmod(col("end_tok") - col("n_tokens"), lit(seqLen.toLong)).as("chunk_offset"),
        expr(s"(end_tok - n_tokens) div $seqLen").as("first_chunk"),
        expr(s"(end_tok - 1) div $seqLen").as("last_chunk"),
        (expr(s"(end_tok - 1) div $seqLen") -
          expr(s"(end_tok - n_tokens) div $seqLen") + 1).as("chunks_spanned"))
  }

  /** Deterministic per-key document cap (the per-domain cap a web
    * corpus applies so no single domain dominates the mix): rank each
    * key's documents by a salted md5 of (key, id) — uniform,
    * reproducible, independent of input order — and keep the first
    * `cap`. Which documents survive is a fair random-looking draw yet
    * byte-stable across runs and engines.
    *
    * Scale: one hash-partitioned window per key — the same shuffle a
    * per-domain count already pays. A pathologically hot key (one
    * domain with billions of pages) serializes its rank into one
    * task; there, pre-thin with a hash-prefix bound (keep only rows
    * whose md5 sorts under ~cap·safety/|key| quantile) before
    * ranking, or route through [[SkewOps]] — the cap semantics
    * compose, since the kept set is always the md5-smallest `cap`. */
  def capPerKey(docs: DataFrame, idCol: String, keyCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val h = md5(concat(col(keyCol).cast("string"), lit("|"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(keyCol)).orderBy(h.asc, col(idCol).asc)
    docs.select(col(idCol), col(keyCol))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("sample_rank") <= cap)
  }

  /** Deterministic epoch-shuffle shard manifest: the "global shuffle"
    * a training run needs, as a reproducible permutation rather than
    * an RNG pass. Each document's shuffle key is a Knuth-multiplicative
    * hash of its id mod a prime (decorrelated from ingest order); its
    * shard is `key mod numShards`; within a shard, documents are
    * sequenced by (key, id) and annotated with the exact token offset
    * where they begin — everything a distributed data loader needs to
    * map (shard, step) → documents without any coordination.
    *
    * Scale: hash-mod sharding needs NO global rank (a total-order
    * row_number would serialize the corpus through one task); shards
    * are balanced by the hash to ±O(√(n/shards)). The only shuffle is
    * the per-shard window — exactly the write-side shuffle a sharded
    * output pays anyway. Products stay < 2^53 for ids < 2^21; a
    * 100 TB id space lifts the same expression to DECIMAL(38,0).
    */
  def epochShardManifest(
      docs: DataFrame,
      idCol: String,
      tokenCount: Column,
      numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val key = pmod(col("doc_id") * lit(2654435761L), lit(999983L))
    val w = Window.partitionBy(col("shard_id")).orderBy(col("shuffle_key"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"), tokenCount.as("n_tokens"))
      .withColumn("shuffle_key", key)
      .withColumn("shard_id", pmod(col("shuffle_key"), lit(numShards.toLong)))
      .withColumn("seq_in_shard", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        coalesce(
          sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("shard_id"), col("seq_in_shard"),
        col("n_tokens"), col("tok_offset"))
  }
}
