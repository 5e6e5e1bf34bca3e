package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, SimilarityOps, TextOps}
import graft.queries.Registry
import graft.runtime.GraftSession

/** Round-5 continuation: repetition signals, per-key caps, int8
  * embedding quantization, cluster-canonical corpus dedup. */
class CurationSpecs2 extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  // builders and operators cache their intermediates; clear them after
  // each test, as Fleet does after each query, so a later test that
  // builds the same frame does not ask to cache it again
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally spark.catalog.clearCache()

  private val sf = "/root/testdata/sf0.001"

  test("repetition gram stats: known char-weighted counts") {
    import spark.implicits._
    // tokens a b a b a b -> 2-grams [a b, b a, a b, b a, a b]:
    // top gram "a b": 3 occ x 3 chars = 9; dup covers both grams = 15;
    // total = 5 x 3 = 15.
    val df = Seq("a b a b a b").toDF("text")
      .select(TextOps.tokens(col("text")).as("t"))
      .select(graft.operators.DedupOps.shinglesFromTokens(col("t"), 2).as("g"))
      .select(
        TextOps.topGramChars(col("g")).as("top"),
        TextOps.dupGramChars(col("g")).as("dup"),
        TextOps.allGramChars(col("g")).as("all"))
    val r = df.collect()(0)
    assert(r.getAs[Long]("top") == 9L)
    assert(r.getAs[Long]("dup") == 15L)
    assert(r.getAs[Long]("all") == 15L)
  }

  test("repetition: unique text has zero dup fractions") {
    import spark.implicits._
    val df = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
      .select(TextOps.tokens(col("text")).as("t"))
      .select(graft.operators.DedupOps.shinglesFromTokens(col("t"), 2).as("g"))
      .select(TextOps.dupGramChars(col("g")).as("dup"),
        TextOps.topGramChars(col("g")).as("top"))
    val r = df.collect()(0)
    assert(r.getAs[Long]("dup") == 0L)
    // every gram unique: top covers exactly one occurrence
    assert(r.getAs[Long]("top") > 0L)
  }

  test("tokenLines: 10 tokens at width 4 -> lines of 4/4/2") {
    import spark.implicits._
    val df = Seq((1 to 10).map(i => s"t$i").mkString(" ")).toDF("text")
      .select(TextOps.tokenLines(TextOps.tokens(col("text")), 4).as("ln"))
    val lines = df.collect()(0).getSeq[String](0)
    assert(lines.toList == List("t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"))
  }

  test("capPerKey: caps hot keys, keeps small keys whole, order-independent") {
    import spark.implicits._
    val rows = (1 to 5).map(i => (i, "small")) ++
      (100 to 119).map(i => (i, "hot")) ++ Seq((999, "single"))
    val df = rows.toDF("id", "domain")
    val capped = CurationOps.capPerKey(df, "id", "domain", cap = 10)
    val kept = capped.filter(col("kept")).groupBy(col("domain"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("small" -> 5L, "hot" -> 10L, "single" -> 1L))
    // deterministic: reversed input produces the same kept id set
    val keptIds = capped.filter(col("kept")).select("id").collect().map(_.getInt(0)).toSet
    val capped2 = CurationOps.capPerKey(
      df.orderBy(col("id").desc).repartition(3), "id", "domain", cap = 10)
    val keptIds2 = capped2.filter(col("kept")).select("id").collect().map(_.getInt(0)).toSet
    assert(keptIds == keptIds2)
  }

  test("int8Quantize: max element pins to +/-127, error bounded by scale/2") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(1.0f, -0.5f, 0.25f, -1.27f)),
      (2, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "embedding")
      .select(col("id"), SimilarityOps.int8Quantize(col("embedding")).as("qz"))
      .select(col("id"), col("qz.scale").as("scale"), col("qz.q").as("q"))
    val rows = df.orderBy("id").collect()
    val q1 = rows(0).getSeq[Int](rows(0).fieldIndex("q"))
    val s1 = rows(0).getAs[Double]("scale")
    assert(q1.toList == List(100, -50, 25, -127), s"got $q1")
    assert(math.abs(s1 - 1.27f.toDouble / 127.0) < 1e-15)
    assert(q1.map(math.abs).max <= 127)
    // all-zero vector: scale 0, q all zero
    assert(rows(1).getAs[Double]("scale") == 0.0)
    assert(rows(1).getSeq[Int](rows(1).fieldIndex("q")).forall(_ == 0))
  }

  test("incrementalNearDupPairs == full nearDupPairs restricted to new-touching pairs") {
    import graft.operators.DedupOps
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = DedupOps.nearDupPairs(docs, "doc_id", "text", 3, 4, 4, 0.2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    spark.catalog.clearCache() // the incremental run re-caches the same shingle table
    val newIds = docs.filter(col("source") === "src1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = full.filter { case (a, b) => newIds(a) || newIds(b) }
      .map { case (a, b) =>
        if (newIds(a) && newIds(b)) (math.min(a, b), math.max(a, b))
        else if (newIds(a)) (a, b) else (b, a)
      }
    val inc = DedupOps.incrementalNearDupPairs(docs, "doc_id", "text",
      col("source") === "src1", 3, 4, 4, 0.2)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"))).toSet
    assert(inc == expected, s"incremental=${inc.size} expected=${expected.size}")
  }

  test("int8Quantize on fixture: reconstruction within half-step everywhere") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val checked = e.select(SimilarityOps.toDouble(col("embedding")).as("xd"),
        SimilarityOps.int8Quantize(col("embedding")).as("qz"))
      .select(col("xd"), col("qz.scale").as("scale"),
        transform(col("qz.q"), v => v.cast("double") * col("scale")).as("deq"))
      .select(aggregate(zip_with(col("xd"), col("deq"), (a, b) => abs(a - b)), lit(0.0),
        (m, x) => greatest(m, x)).as("err"), col("scale"))
      .filter(col("err") > col("scale") * 0.5000001)
    assert(checked.count() == 0L)
  }

  test("q_neardup_dedup_corpus: exactly one kept doc per cluster, best quality wins") {
    val df = Registry.byName("q_neardup_dedup_corpus").query(spark, sf)
    df.persist()
    try {
      val nClusters = df.select(countDistinct(col("cluster_id"))).collect()(0).getLong(0)
      val nKept     = df.filter(col("kept")).count()
      assert(nKept == nClusters, s"kept $nKept of $nClusters clusters")
      // within each cluster the kept row has the max quality (ties -> min id)
      val bad = df.alias("a").join(df.alias("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
            col("a.kept") && !col("b.kept") &&
            (col("b.quality_score") > col("a.quality_score") ||
              (col("b.quality_score") === col("a.quality_score") &&
                col("b.doc_id") < col("a.doc_id"))))
        .count()
      assert(bad == 0L)
    } finally df.unpersist()
  }

  test("q_repetition_signals: fractions in [0,1], flag consistent") {
    val df = Registry.byName("q_repetition_signals").query(spark, sf)
    df.persist()
    try {
      val fracCols = Seq("top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac", "dup_5gram_char_frac", "dup_line_frac",
        "dup_line_char_frac")
      val outOfRange = fracCols.map(c => df.filter(col(c) < 0.0 || col(c) > 1.0).count()).sum
      assert(outOfRange == 0L)
      assert(df.filter(col("is_repetitive").isin(0L, 1L)).count() == df.count())
    } finally df.unpersist()
  }
}
