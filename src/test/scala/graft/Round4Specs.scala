package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps
import graft.runtime.GraftSession

/** Round-4 additions: the inverted-index n-gram Jaccard join. */
class Round4Specs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  // builders and operators cache their intermediates; clear them after
  // each test, as Fleet does after each query, so a later test that
  // builds the same frame does not ask to cache it again
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally spark.catalog.clearCache()

  private def fixture = {
    import spark.implicits._
    def doc(seed: Int, len: Int): Seq[String] =
      (0 until len).map(i => s"w${(seed * 31 + i * 7) % 97}_$seed")
    (0 until 10).flatMap { s =>
      val base = doc(s, 30)
      Seq(
        (s * 3L, base.mkString(" ")),
        (s * 3L + 1, (base.dropRight(3) ++ Seq(s"x${s}a", s"x${s}b", s"x${s}c")).mkString(" ")),
        (s * 3L + 2, doc(s + 50, 30).mkString(" "))
      )
    }.toDF("id", "text")
  }

  test("ngramJaccardPairs recalls exactly the brute-force pairs when no shingle is df-capped") {
    val df = fixture
    val sh  = DedupOps.shingleTable(df, "id", "text", 3)
    val lhs = sh.select(col("id").as("id_a"), col("__sh").as("sh_a"))
    val rhs = sh.select(col("id").as("id_b"), col("__sh").as("sh_b"))
    val truth = lhs.crossJoin(rhs).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), DedupOps.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 10, s"fixture must plant near-dup pairs, got ${truth.size}")

    // maxDf far above any real df on this fixture → candidate
    // generation is complete, so the result equals brute force.
    val got = DedupOps.ngramJaccardPairs(df, "id", "text", shingleN = 3, maxDf = 1000, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("ngramJaccardPairs df cap drops stop-shingle-only candidates") {
    // maxDf = 1 excludes every shared shingle (shared => df >= 2),
    // so no candidates survive. minJaccard is small-but-positive: 0
    // is rejected (it would be an all-pairs join and overflows the
    // single-shared-shingle rescue bound).
    val got = DedupOps.ngramJaccardPairs(fixture, "id", "text", shingleN = 3, maxDf = 1, minJaccard = 0.01)
    assert(got.count() == 0)
  }

  test("ngramJaccardPairs rejects a zero similarity threshold") {
    intercept[IllegalArgumentException] {
      DedupOps.ngramJaccardPairs(fixture, "id", "text", shingleN = 3, maxDf = 1, minJaccard = 0.0)
    }
  }

  // -----------------------------------------------------------------
  // Native vector expressions (vec_dot / vec_cosine via
  // GraftExtensions) — bit-parity with the composable HOF form.
  // -----------------------------------------------------------------

  private def vecFixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(n: Int) = Seq.fill(n)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 200).map { i =>
      val v = if (i == 42) null else vec(16)
      val q = if (i == 43) vec(12) else vec(16) // one length mismatch
      (i.toLong, v, q)
    } :+ (200L, Seq.fill(16)(0f), vec(16)) // zero vector → null cosine
    rows.toDF("id", "a", "b")
  }

  test("vec_cosine / vec_dot are bit-identical to the zip_with/aggregate form, codegen and interpreted") {
    import graft.functions.GraftFunctions.cosineSimilarity
    import graft.operators.SimilarityOps.toDouble
    val df = vecFixture
    assert(spark.catalog.functionExists("vec_cosine"), "extension must be installed")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      val cmp = df.select(
        col("id"),
        call_function("vec_cosine", col("a"), col("b")).as("native_cos"),
        cosineSimilarity(toDouble(col("a")), toDouble(col("b"))).as("hof_cos"),
        call_function("vec_dot", col("a"), col("b")).as("native_dot"),
        aggregate(zip_with(toDouble(col("a")), toDouble(col("b")), (x, y) => x * y),
          lit(0.0), (s, x) => s + x).as("hof_dot")
      ).collect()
      cmp.foreach { r =>
        def eq(i: Int, j: Int) =
          (r.isNullAt(i) && r.isNullAt(j)) ||
            (!r.isNullAt(i) && !r.isNullAt(j) && r.getDouble(i) == r.getDouble(j))
        assert(eq(1, 2), s"cosine mismatch (codegen=$codegen) id=${r.getLong(0)}: $r")
        assert(eq(3, 4), s"dot mismatch (codegen=$codegen) id=${r.getLong(0)}: $r")
      }
      // null propagation spot checks
      val byId = cmp.map(r => r.getLong(0) -> r).toMap
      assert(byId(42L).isNullAt(1) && byId(43L).isNullAt(1) && byId(200L).isNullAt(1))
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_cosine stays inside whole-stage codegen over a parquet scan") {
    // a real file scan — a local-relation fixture constant-folds the
    // whole projection away before any codegen happens
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = e
      .select(call_function("vec_cosine", col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.5)
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    // stage n — both the projection and the filter must carry it
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[vec_cosine.*"),
      s"vec_cosine projection not inside WholeStageCodegen:\n$plan")
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Filter.*vec_cosine.*"),
      s"vec_cosine filter not inside WholeStageCodegen:\n$plan")
  }
}
