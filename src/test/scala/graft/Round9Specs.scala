package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps
import graft.runtime.GraftSession

/** Round-9 additions: the production-parameter 64-bit SimHash
  * (4×16-bit bands — the scale path the 16-bit fixture variant's
  * scaladoc promises; VERDICT r8 measured the 16-bucket variant's
  * candidate join growing 5.9x over 10x data).
  */
class Round9Specs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  /** Independent in-memory 64-bit SimHash: bit i voted by bit i%4 of
    * hex digit i/4+1 of each token's md5 — the same contract the
    * DuckDB oracle encodes, derived here without any Spark code. */
  private def refSimhash64(text: String): Long = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      for (p <- 0 until 16; k <- 0 until 4) {
        val v = Integer.parseInt(hex.substring(p, p + 1), 16)
        votes(p * 4 + k) += (if (((v >> k) & 1) == 1) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
  }

  test("simhash64 banded pairs: exact recall + no false positives vs brute force") {
    import spark.implicits._
    val rng   = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi")
    for (trial <- 1 to 3) {
      // base docs plus 1–2-token perturbed copies, so low-hamming
      // pairs genuinely occur at 64 bits (random pairs sit near 32)
      val bases = (0 until 8).map(_ => Vector.fill(30)(vocab(rng.nextInt(vocab.size))))
      val docs = bases.zipWithIndex.flatMap { case (b, i) =>
        val near = (1 to 2).map { j =>
          val mut = b.updated(rng.nextInt(b.size), vocab(rng.nextInt(vocab.size)))
          (i * 10L + j, mut.mkString(" "))
        }
        (i * 10L, b.mkString(" ")) +: near
      }
      val expected = (for {
        a <- docs; b <- docs if a._1 < b._1
        h = java.lang.Long.bitCount(refSimhash64(a._2) ^ refSimhash64(b._2))
        if h <= 3
      } yield (a._1, b._1, h.toLong)).toSet
      assert(expected.nonEmpty, s"trial $trial: fixture produced no near pairs — weak test")
      val got = DedupOps
        .simhash64NearDupPairs(docs.toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming")))
        .toSet
      assert(got == expected,
        s"trial $trial: banded=${got.size} brute=${expected.size}; diff=${(got diff expected) ++ (expected diff got)}")
    }
  }

  test("simhash64 band values stay in the 16-bit range and rebuild the reference hash") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three"), (3L, "alpha"))
    val out = docs.toDF("doc_id", "text")
      .select(col("doc_id"), DedupOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), DedupOps.simhashDigests(col("t")).as("d"))
      .select(col("doc_id"), DedupOps.simhash64Votes(col("d")).as("v"))
      .select(col("doc_id"), DedupOps.simhash64BandsFromVotes(col("v")).as("bands"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1))
      .toMap
    docs.foreach { case (id, text) =>
      val bands = out(id)
      assert(bands.size == 4 && bands.forall(b => b >= 0L && b <= 0xFFFFL))
      val packed = bands.zipWithIndex.map { case (b, i) => b << (16 * i) }.reduce(_ | _)
      assert(packed == refSimhash64(text), s"doc $id: packed bands != reference hash")
    }
  }
}
