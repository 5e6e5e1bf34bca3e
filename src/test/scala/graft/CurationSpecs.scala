package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CurationOps
import graft.runtime.GraftSession

/** Corpus-curation operators: benchmark decontamination semantics,
  * temperature-mix rate math (incl. upsampling), and packing-manifest
  * contiguity invariants. */
class CurationSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  test("contaminationPairs: containment scores 1.0, disjoint docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over dogs", "bench"),
      (2L, "prefix words the quick brown fox jumps over dogs suffix", "train"),
      (3L, "completely different unrelated content here now", "train"),
      (4L, "too short", "train") // < shingleN tokens: excluded
    ).toDF("doc_id", "text", "source")
    val out = CurationOps.contaminationPairs(docs, "doc_id", "text",
      isBench = col("source") === "bench", shingleN = 3,
      minShared = 2, minBenchFrac = 0.2).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("train_id") === 2L)
    assert(r.getAs[Long]("bench_id") === 1L)
    // bench doc has 5 trigrams, all contained in doc 2
    assert(r.getAs[Long]("bench_ngrams") === 5L)
    assert(r.getAs[Long]("n_shared") === 5L)
    assert(r.getAs[Double]("bench_frac") === 1.0)
    assert(r.getAs[Boolean]("contaminated"))
  }

  test("temperatureMixSampling: rates follow sqrt weights, copies are consistent") {
    import spark.implicits._
    // big: 64 docs x 100 tokens; rare: 4 docs x 100 tokens. With
    // alpha=0.5 the rare source's rate is sqrt(4x) larger than
    // proportional sampling would give it.
    val docs = (1 to 64).map(i => (i.toLong, "w " * 99 + "w", "big")) ++
      (65 to 68).map(i => (i.toLong, "w " * 99 + "w", "rare"))
    val df = docs.toDF("doc_id", "text", "source")
    val out = CurationOps.temperatureMixSampling(df, "doc_id", "source",
      graft.operators.TextOps.estBpeTokens(col("text")), budgetNum = 1, budgetDen = 2)
      .collect()
    assert(out.length === 68)
    val bigRate  = out.find(_.getAs[String]("source") == "big").get.getAs[Double]("sample_rate")
    val rareRate = out.find(_.getAs[String]("source") == "rare").get.getAs[Double]("sample_rate")
    // w_big = 4 * w_rare (sqrt of 16x tokens), tokens_big = 16x -> rate
    // ratio rare/big = 4; exact with integer-thousandth weights
    assert(math.abs(rareRate / bigRate - 4.0) < 1e-3)
    // budget=1/2: expected copies ~ half the corpus docs-weighted; every
    // n_copies is floor(rate) or floor(rate)+1
    out.foreach { r =>
      val rate = r.getAs[Double]("sample_rate")
      val c = r.getAs[Long]("n_copies")
      assert(c === math.floor(rate).toLong || c === math.floor(rate).toLong + 1)
    }
    // determinism: a second run is identical
    val again = CurationOps.temperatureMixSampling(df, "doc_id", "source",
      graft.operators.TextOps.estBpeTokens(col("text")), 1, 2).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"))).toSet ===
      again.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"))).toSet)
  }

  test("sequencePackingManifest: contiguous within shard, exact chunk math") {
    import spark.implicits._
    // tokens: 300, 300, 600, 50 in one shard at seqLen=512
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(300), "s0"), (2L, words(300), "s0"),
      (3L, words(600), "s0"), (4L, words(50), "s0"),
      (5L, words(10), "s1")
    ).toDF("doc_id", "text", "source")
    val out = CurationOps.sequencePackingManifest(docs, "doc_id", "source",
      size(split(col("text"), " ")).cast("long"), seqLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("chunk_offset"), r.getAs[Long]("first_chunk"),
          r.getAs[Long]("last_chunk"), r.getAs[Long]("chunks_spanned"))).toMap
    assert(out(1L) === ((0L, 0L, 0L, 1L)))      // [0, 300)
    assert(out(2L) === ((300L, 0L, 1L, 2L)))    // [300, 600) crosses 512
    assert(out(3L) === ((88L, 1L, 2L, 2L)))     // [600, 1200)
    assert(out(4L) === ((176L, 2L, 2L, 1L)))    // [1200, 1250)
    assert(out(5L) === ((0L, 0L, 0L, 1L)))      // own shard restarts
  }
}
