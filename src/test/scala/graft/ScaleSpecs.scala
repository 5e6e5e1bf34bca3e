package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.SkewOps
import graft.runtime.GraftSession

/** Scale-mechanism specs: salted joins equal plain joins; bucketed
  * tables co-locate joins (no exchange in the plan).
  */
class ScaleSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 90% of rows share one hot key
    val large = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong % 50, s"p$i")).toDF("k", "payload")
    val small = (0 to 60).map(i => (i.toLong, s"dim$i")).toDF("k", "dim")
    val plain  = large.join(small, Seq("k")).select("k", "payload", "dim")
    val salted = SkewOps.saltedJoin(large, small, Seq("k"), buckets = 8).select("k", "payload", "dim")
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
  }

  test("hotKeySplitJoin equals the plain join") {
    val large = (1 to 500).map(i => (if (i <= 400) 7L else i.toLong % 20, i)).toDF("k", "v")
    val small = (0 to 30).map(i => (i.toLong, s"d$i")).toDF("k", "dim")
    val plain = large.join(small, Seq("k")).select("k", "v", "dim")
    val split = SkewOps.hotKeySplitJoin(large, small, Seq("k"), threshold = 100).select("k", "v", "dim")
    assert(plain.exceptAll(split).count() == 0 && split.exceptAll(plain).count() == 0)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val db = spark
    import db.implicits._
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse files persist — clear the physical locations too
    val wh = System.getProperty("java.io.tmpdir") + "/graft-warehouse"
    Seq("b_orders", "b_lines").foreach { t =>
      val p = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("k", "ov")
      .write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("b_orders")
    (1 to 3000).map(i => ((i % 1000 + 1).toLong, s"l$i")).toDF("k", "lv")
      .write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("b_lines")
    // disable broadcast so the co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lines"), Seq("k"))
      val plan   = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(1500)}")
      assert(joined.count() == 3000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("MinHash near-dup pairs are Jaccard-verified: every reported pair is a true pair") {
    import graft.operators.DedupOps
    // 12 base docs of 40 distinct-ish tokens; each gets a near-copy
    // with the last 4 tokens edited (shingle Jaccard ~0.85) plus an
    // unrelated doc — 12 planted pairs, deterministic content.
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    // stride 5 is coprime to |vocab|=14 and the %9 suffix has period 3:
    // combined period 42 > 40, so all 40 tokens per doc are distinct
    def doc(seed: Int, n: Int): Seq[String] =
      (0 until n).map(i => vocab((seed * 31 + i * 5) % vocab.size) + (seed * 13 + i * 3) % 9)
    val rows = (0 until 12).flatMap { s =>
      val base = doc(s, 40)
      Seq(
        (s * 3L, base.mkString(" ")),
        (s * 3L + 1, (base.dropRight(4) ++ Seq(s"edit${s}a", s"edit${s}b", s"edit${s}c", s"edit${s}d")).mkString(" ")),
        (s * 3L + 2, doc(s + 100, 40).mkString(" "))
      )
    }
    val df = rows.toDF("id", "text")
    // ground truth: brute-force all-pairs exact Jaccard at 0.5
    val sh = DedupOps.shingleTable(df, "id", "text", 3)
    val lhs = sh.select(col("id").as("id_a"), col("__sh").as("sh_a"))
    val rhs = sh.select(col("id").as("id_b"), col("__sh").as("sh_b"))
    val scored = lhs.crossJoin(rhs).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), DedupOps.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.5).collect()
    val truth = scored.map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs comfortably above threshold
    val truthHigh = scored.filter(_.getDouble(2) >= 0.7).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truthHigh.size >= 12, s"fixture must plant >=12 high-sim pairs, got ${truthHigh.size}")

    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = pairs(DedupOps.nearDupPairs(df, "id", "text", 3, numSigs = 4, rowsPerBand = 4, minJaccard = 0.5))
    // the Jaccard verify keeps precision exact
    assert(md5Pairs.subsetOf(truth), s"false pairs: ${md5Pairs -- truth}")
  }

  test("distributedRowNumber equals the single-partition global rank, without the single-partition window") {
    import graft.operators.WindowOps
    import org.apache.spark.sql.expressions.Window
    // skewed scores with exact ties — the unique id tie-break must make
    // the distributed rank bit-identical to the global-window rank
    val df = (1 to 500).map(i => (i.toLong, (i % 37).toDouble)).toDF("id", "score")
    val order = Seq(col("score").desc, col("id").asc)
    val want = df.withColumn("rank",
        org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy(order: _*)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = WindowOps.distributedRowNumber(df, order, "rank")
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotMap == want)
    // the scale point: NO unpartitioned window in the optimized plan
    val globals = got.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "distributedRowNumber must not plan a single-partition window")
    spark.catalog.clearCache()
  }

  test("fleet audit: no CartesianProduct in any registry query plan (VERDICT r7 #3)") {
    // The round-7 one-off audit ("zero CartesianProduct across all
    // registry plans", SCALE.md §1) as a STANDING gate: every
    // registry query's physical plan is built at sf0.001 and scanned
    // for CartesianProduct. BroadcastNestedLoopJoin is whitelisted —
    // the fleet's BNLJ occurrences are the documented scalar-
    // broadcast crossJoin(broadcast(<single-row stats>)) pattern,
    // the correct plan for a scalar join at any scale. Queries whose
    // CONSTRUCTION executes jobs (streams, sinks, iterative
    // closures, trainers) still yield a final-plan string, so
    // nothing is exempted; construction failures fail the audit too.
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    var audited = 0
    graft.queries.Registry.all.foreach { q =>
      try {
        val plan = q.query(spark, dir).queryExecution.executedPlan.toString
        audited += 1
        if (plan.contains("CartesianProduct"))
          offenders += s"${q.name}: CartesianProduct in plan"
      } catch {
        case e: Throwable => offenders += s"${q.name}: construction failed: ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    info(s"audited $audited registry query plans")
    assert(audited >= 300, s"registry shrank? audited only $audited plans")
    assert(offenders.isEmpty, s"fleet audit violations:\n${offenders.mkString("\n")}")
  }
}
