package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-factor upsampler: replicates an existing driver corpus K×
  * with disjoint key spaces, producing an sf1-shaped corpus for the
  * scale-evidence bench runs (VERDICT r8 #1). The driver's generator
  * is not available to us, so scaling is done the way a lake grows in
  * production: more entities, same calendar.
  *
  * Design rules (each exists to keep the 10× run MEANINGFUL, i.e. to
  * make per-operator cost growth attributable to data volume and not
  * to an artifact of naive duplication):
  *
  *  - **Keys get disjoint ranges** (`key + i * stride`, stride =
  *    max(key)+1 of the source, so key spaces stay dense). Foreign
  *    keys use the SAME stride as their dimension, so replica i's
  *    facts reference replica i's dimensions — referential integrity
  *    holds and the customer–supplier trade graph genuinely grows 10×
  *    nodes and ~10× edges (GraphOps loops see real growth, not
  *    multi-edges between the same 16k nodes).
  *  - **The calendar does not grow.** Dates/timestamps are copied
  *    verbatim: a market universe gains ticks, not trading days. This
  *    is exactly the boundedness claim the global-window spec gates
  *    (GlobalWindowSpecs) — at sf1 the date-spine marts stay
  *    ~constant-size while the staging scans below them grow 10×.
  *  - **Generated names follow their keys** (`Customer#%09d` etc.), so
  *    the SymSpell/ER queries — whose typo fixtures derive from
  *    (c_custkey, c_name) in-query — scale to 10× real entities.
  *  - **Document text is re-ciphered per replica**: every word `w` in
  *    replica i>0 becomes `w ⊕ i` via a deterministic per-(word, i)
  *    suffix on ~1/3 of the vocabulary. Within a replica the map is a
  *    substitution cipher, so the sf0.1 near-dup structure (shingle
  *    Jaccard, exact substring spans) is preserved replica-locally;
  *    across replicas nearly every shingle changes, so Jaccard
  *    collapses to ~0. Without this, 10 verbatim copies would turn
  *    every document into a 10-clique and MinHash pair output would
  *    grow 45× instead of 10× — a duplication artifact, not scale.
  *  - **Embeddings get a per-replica circular dimension shift**
  *    (norm- and within-replica-geometry-preserving, cross-replica
  *    decorrelating) for the same reason: SemDeDup/ANN must see 10×
  *    real entities, not 10 copies of the same 2k points.
  *  - Measures (prices, quantities, balances) are copied verbatim —
  *    their distributions are the point, and downstream aggregates
  *    collapse replicas into the same symbol/date cells anyway.
  *
  * Output layout: one DIRECTORY per table named `<t>.parquet` (Spark's
  * native multi-file layout), sized so fact tables land in ~32 files —
  * the scan parallelism a real lake writer would produce, making the
  * `Tables` compaction path moot at this SF.
  *
  * Usage: `runMain graft.GenScale <srcDir> <outDir> [k]`
  */
object GenScale {

  /** Per-replica word cipher: ~1/3 of words (chosen by xxhash64(word,
    * salt=i)) get a replica-tagged suffix. Deterministic, injective
    * per replica (suffixing preserves distinctness), identity at i=0. */
  private def cipherText(textCol: Column, i: Int): Column =
    if (i == 0) textCol
    else array_join(
      transform(split(textCol, " "), w =>
        when(pmod(xxhash64(w, lit(i)), lit(3)) === 0, concat(w, lit("x"), lit(i)))
          .otherwise(w)),
      " ")

  /** Per-replica orthogonal transform: circular dimension shift by i*7
    * (mod dim) composed with a per-replica deterministic ±1 sign-flip
    * pattern. Both preserve norms and all WITHIN-replica inner products
    * exactly (⟨s⊙u, s⊙v⟩ = ⟨u,v⟩ for a fixed sign vector s), while
    * decorrelating replicas. The sign-flip matters above k=dim: a pure
    * shift cycles mod dim, so at k=100 replicas i and i+64 would carry
    * IDENTICAL point sets — an exact-duplicate artifact that would
    * inflate the embedding-family pair counts at the 100× leg. The
    * signs are keyed by xxhash64(i, dim-index), so all k transforms are
    * distinct. Identity at i=0. */
  private def shiftVec(vec: Column, i: Int, dim: Int): Column =
    if (i == 0) vec
    else {
      val k = (i * 7) % dim
      val shifted = if (k == 0) vec else concat(slice(vec, k + 1, dim - k), slice(vec, 1, k))
      transform(shifted, (x, j) =>
        when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(-x).cast("float"))
    }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("testdata_gen/sf1")
    val k   = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Fleet.session()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** stride = max(key)+1 — keeps every replica's key range dense and
      * disjoint (the source corpora are 0-based dense). */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] $t -> $out/$t.parquet ($files files)")
    }

    // replicate: union of k per-replica projections. Column order is
    // re-asserted to the source schema so the output parquet matches
    // the driver corpus column-for-column.
    def replicate(base: DataFrame, files: Int, name: String)(
        per: (DataFrame, Int) => DataFrame): Unit = {
      val cols = base.columns.map(col).toSeq
      val outDf = (0 until k).map(i => per(base, i).select(cols: _*)).reduce(_ unionByName _)
      write(outDf, name, files)
    }

    // dimensions that do not scale: the fixed geography
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val customer = read("customer")
    val custStride = stride(customer, "c_custkey")
    replicate(customer, 4, "customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custStride))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }

    val supplier = read("supplier")
    val suppStride = stride(supplier, "s_suppkey")
    replicate(supplier, 1, "supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppStride))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }

    val part = read("part")
    val partStride = stride(part, "p_partkey")
    replicate(part, 2, "part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partStride))
    }

    val orders = read("orders")
    val orderStride = stride(orders, "o_orderkey")
    replicate(orders, 8, "orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custStride))
    }

    replicate(read("lineitem"), 32, "lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppStride))
    }

    val events = read("events")
    val eventStride = stride(events, "event_id")
    val userStride  = stride(events, "user_id")
    replicate(events, 8, "events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eventStride))
        .withColumn("user_id", col("user_id") + lit(i * userStride))
    }

    val docs = read("documents")
    val docStride = stride(docs, "doc_id")
    replicate(docs, 8, "documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docStride))
        .withColumn("text", cipherText(col("text"), i))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

    val emb = read("embeddings")
    val vecStride = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    replicate(emb, 4, "embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
        .withColumn("embedding", shiftVec(col("embedding"), i, dim))
    }

    println(s"[genscale] done: $k x $src -> $out")
    spark.stop()
  }
}
