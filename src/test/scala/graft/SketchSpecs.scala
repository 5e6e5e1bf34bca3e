package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchOps
import graft.runtime.GraftSession

/** KMV distinct sketch + priority sampling: hash portability, the
  * exact union-merge property, estimator accuracy, determinism under
  * repartitioning. */
class SketchSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  test("hash32 equals an independent JVM md5 fold") {
    import spark.implicits._
    def ref(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val vals = Seq("42", "hello", "", "a b c", "9999999")
    val got = vals.toDF("v").select(col("v"), SketchOps.hash32(col("v")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vals.foreach(v => assert(got(v) == ref(v), s"hash32($v)"))
  }

  test("kmvSketch: below-k group is exact; estimator lands near truth above k") {
    import spark.implicits._
    val rows = (1 to 30).map(i => ("small", s"v$i")) ++
      (1 to 5000).map(i => ("big", s"v${i % 2000}")) // 2000 distinct
    val sk = SketchOps.kmvSketch(rows.toDF("g", "v"), "g", "v", k = 64)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_hashes"), r.getAs[Double]("est_distinct"))).toMap
    assert(sk("small")._1 == 30L && sk("small")._2 == 30.0)
    val est = sk("big")._2
    assert(sk("big")._1 == 64L)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.35, s"est=$est") // k=64 → ~12% σ
  }

  test("kmvMerge over fine sketches == direct sketch of the coarse group") {
    import spark.implicits._
    val rows = for (n <- 1 to 6; i <- 1 to 400)
      yield (s"nation_$n", s"region_${n % 2}", s"cust_${(i * n) % 900}")
    val df = rows.toDF("nation", "region", "cust")
    val fine = SketchOps.kmvSketch(df.select(col("nation"), col("cust")), "nation", "cust", 32)
      .join(df.select("nation", "region").distinct(), "nation")
    val merged = SketchOps.kmvMerge(fine, "region", 32)
      .select(col("region"), col("kmv"), col("est_distinct"))
    val direct = SketchOps.kmvSketch(df.select(col("region"), col("cust")), "region", "cust", 32)
      .select(col("region"), col("kmv").as("kmv_d"), col("est_distinct").as("est_d"))
    val both = merged.join(direct, "region").collect()
    assert(both.length == 2)
    both.foreach { r =>
      assert(r.getSeq[Long](r.fieldIndex("kmv")) == r.getSeq[Long](r.fieldIndex("kmv_d")),
        s"sketch arrays differ for ${r.getAs[String]("region")}")
      assert(r.getAs[Double]("est_distinct") == r.getAs[Double]("est_d"))
    }
  }

  test("intervalOverlapPairs equals the naive quadratic join on dense intervals") {
    import spark.implicits._
    import graft.operators.JoinOps
    // deterministic pseudo-random intervals across several grid cells,
    // including exact-touch boundaries (en_a == st_b counts as overlap)
    val rows = (1 to 300).map { i =>
      val st = (i * 37L) % 1000
      (s"iv$i", st, st + (i * 13L) % 80
      )
    }
    val df = rows.toDF("id", "st", "en")
    val grid = JoinOps.intervalOverlapPairs(df, "id", "st", "en", bucketWidth = 50L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val naive = (for {
      (ia, sa, ea) <- rows; (ib, sb, eb) <- rows
      if ia < ib && sa <= eb && sb <= ea
    } yield (ia, ib)).toSet
    assert(grid == naive, s"grid=${grid.size} naive=${naive.size}")
  }

  test("prioritySample: small group exact, big group unbiased-ish, deterministic") {
    import spark.implicits._
    val rows = (1 to 10).map(i => ("tiny", i.toLong, (i * 10).toLong)) ++
      (1 to 2000).map(i => ("large", (1000 + i).toLong, (i % 97 + 1).toLong))
    val df = rows.toDF("src", "id", "w")
    val out = SketchOps.prioritySample(df, "src", "id", "w", k = 16)
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    val tiny = out("tiny")
    assert(tiny.getAs[Boolean]("is_exact"))
    assert(tiny.getAs[Double]("tau") == 0.0)
    assert(tiny.getAs[Double]("est_total_weight") == (1 to 10).map(_ * 10).sum.toDouble)
    val large    = out("large")
    val exact    = (1 to 2000).map(i => i % 97 + 1).sum.toDouble
    val est      = large.getAs[Double]("est_total_weight")
    assert(!large.getAs[Boolean]("is_exact"))
    assert(large.getAs[Double]("tau") > 0.0)
    assert(math.abs(est - exact) / exact < 0.6, s"est=$est exact=$exact")
    // deterministic under repartition/reorder
    val out2 = SketchOps.prioritySample(df.orderBy(col("id").desc).repartition(7),
      "src", "id", "w", k = 16)
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Double]("est_total_weight")).toMap
    assert(out2("large") == est)
  }

  test("CMS: merge of split sketches == single-pass sketch; estimates bound true counts") {
    import spark.implicits._
    val d = 4
    val w = 64 // small width → collisions guaranteed, bound still holds
    val keys = (0 until 2000).map(i => i % 97) // skewed: each key ~20x
    val df = keys.toDF("k")
    val whole = SketchOps.cmsSketch(df, "k", d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = SketchOps.cmsMerge(
      SketchOps.cmsSketch(df.filter(col("k") % 2 === 0), "k", d, w)
        .unionByName(SketchOps.cmsSketch(df.filter(col("k") % 2 === 1), "k", d, w)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "cell-wise merge must equal the single-pass sketch")

    val est = SketchOps.cmsEstimate(
      SketchOps.cmsSketch(df, "k", d, w), df, "k", d, w)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS estimate must upper-bound the true count (key $k)")
    }
    // the min-of-d bound is not vacuous: total overshoot stays well
    // under the εN worst case for every row
    val overshoot = truth.map { case (k, n) => est(k) - n }.sum
    assert(overshoot < keys.size.toLong * d, s"overshoot=$overshoot")

    // a probe key absent from the data estimates from existing cells
    // (>= 0); an empty-cell key estimates exactly 0
    val probe = SketchOps.cmsEstimate(
      SketchOps.cmsSketch(df, "k", d, w), Seq(424242).toDF("k"), "k", d, w)
      .collect().head.getLong(1)
    assert(probe >= 0L)

    // the narrow-plan lookup column (collected cell vector +
    // min-of-d element_at) returns bit-identical estimates to the
    // broadcast-join estimator, including on an absent key
    val cells = SketchOps.cmsCells(SketchOps.cmsSketch(df, "k", d, w), d, w)
    val inlineEst = df.select(col("k")).distinct()
      .withColumn("est_count", SketchOps.cmsLookupCol(cells, col("k"), d, w))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(inlineEst == est, "cmsLookupCol must equal cmsEstimate on every key")
    val inlineProbe = Seq(424242).toDF("k")
      .withColumn("est_count", SketchOps.cmsLookupCol(cells, col("k"), d, w))
      .collect().head.getLong(1)
    assert(inlineProbe == probe)

    // d=1 degenerates to the single row's element_at (ADVICE r9 #2:
    // least() needs two args and crashed here); estimate still upper-
    // bounds truth (one-row CMS = plain hashing with collisions)
    val cells1 = SketchOps.cmsCells(SketchOps.cmsSketch(df, "k", 1, w), 1, w)
    val est1 = df.select(col("k")).distinct()
      .withColumn("est_count", SketchOps.cmsLookupCol(cells1, col("k"), 1, w))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, n) => assert(est1(k) >= n, s"d=1 CMS must upper-bound key $k") }
  }

  private def ssSummary(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, (Long, Long)] = {
    df.agg(graft.functions.SpaceSavingAggregator.spaceSaving(k, col("key")).as("s"))
      .select(explode(arrays_zip(col("s.items"), col("s.counts"), col("s.errs"))).as("z"))
      .select(col("z.items"), col("z.counts"), col("z.errs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("spaceSaving is exact (err 0) when distinct keys fit in k") {
    import spark.implicits._
    val df = (1 to 300).map(i => s"k${i % 7}").toDF("key")
    val s = ssSummary(df.repartition(5), k = 16)
    assert(s.size == 7)
    val exact = (1 to 300).groupBy(i => s"k${i % 7}").view.mapValues(_.size.toLong).toMap
    exact.foreach { case (key, c) => assert(s(key) == ((c, 0L))) }
  }

  test("spaceSaving guarantees hold under any partitioning on a skewed stream") {
    import spark.implicits._
    // zipf-ish: key j appears ~3000/j times -> a handful of heavy keys
    val rows = (1 to 60).flatMap(j => Seq.fill(3000 / j)(s"z$j"))
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    val k = 12
    for (parts <- Seq(1, 4, 9)) {
      val s = ssSummary(rows.toDF("key").repartition(parts), k)
      assert(s.size <= k)
      // any key with freq > N/k must be tracked
      exact.filter { case (_, c) => c * k > n }.keys.foreach { key =>
        assert(s.contains(key), s"guaranteed heavy hitter $key missing at parts=$parts")
      }
      // every tracked estimate brackets the truth: c - err <= true <= c
      s.foreach { case (key, (c, e)) =>
        val t = exact.getOrElse(key, 0L)
        assert(t <= c && c - e <= t, s"bound violated for $key: est=$c err=$e true=$t")
      }
    }
  }
}
