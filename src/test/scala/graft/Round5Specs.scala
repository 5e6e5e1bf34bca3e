package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AlertOps, FedLexicon}
import graft.runtime.GraftSession

/** Round-5 additions: the alert breach/resolve state machine and the
  * Fed sentiment lexicon scorer. */
class Round5Specs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  private def day(d: Int) = Date.valueOf(f"2024-01-$d%02d")

  test("breachResolveEvents: breach, resolve, re-breach, still-open") {
    import spark.implicits._
    // One alert (gt 3.0): clear, breach(2 obs), clear, breach(open);
    // a second alert that never breaches contributes no events.
    val obs = Seq(
      ("a1", day(1), 2.0), ("a1", day(2), 3.5), ("a1", day(3), 4.0),
      ("a1", day(4), 1.0), ("a1", day(5), 5.0),
      ("a2", day(1), 2.0), ("a2", day(2), 2.5)
    ).toDF("alert_id", "date", "observed_value")
      .withColumn("indicator", col("alert_id"))
      .withColumn("comparator", lit("gt"))
      .withColumn("threshold", lit(3.0))
      .withColumn("severity", lit("warning"))
      .withColumn("title", lit("t"))
      .withColumn("breached",
        AlertOps.breached(col("observed_value"), col("comparator"), col("threshold")).cast("int"))

    val ev = AlertOps.breachResolveEvents(obs)
      .orderBy("event_id").collect()

    assert(ev.length == 2, s"expected 2 episodes, got ${ev.toSeq}")
    val first = ev(0)
    assert(first.getAs[Date]("breached_at") == day(2))
    assert(first.getAs[Date]("resolved_at") == day(4))
    assert(first.getAs[Double]("observed_value") == 3.5) // value AT breach
    assert(first.getAs[String]("status") == "resolved")
    assert(first.getAs[Long]("days_open") == 2L)
    val second = ev(1)
    assert(second.getAs[Date]("breached_at") == day(5))
    assert(second.getAs[Date]("resolved_at") == null)
    assert(second.getAs[String]("status") == "open")
  }

  test("breached dispatches all four comparators") {
    import spark.implicits._
    val rows = Seq(
      ("gt", 3.0, 3.0, false), ("gt", 3.1, 3.0, true),
      ("lt", 3.0, 3.0, false), ("lt", 2.9, 3.0, true),
      ("gte", 3.0, 3.0, true), ("gte", 2.9, 3.0, false),
      ("lte", 3.0, 3.0, true), ("lte", 3.1, 3.0, false)
    ).toDF("cmp", "v", "thr", "want")
    val got = rows.withColumn("got", AlertOps.breached(col("v"), col("cmp"), col("thr")))
      .filter(col("got") =!= col("want")).count()
    assert(got == 0)
  }

  test("FedLexicon phrase counts are word-bounded and independent") {
    import spark.implicits._
    val df = Seq(
      // "ease" must not match "please"; "elevated inflation" must also
      // feed the bare "inflation" count (independent per-keyword loop)
      "please remain seated; elevated inflation and inflation risks",
      "the committee will tighten; tightening continues"
    ).toDF("txt")
    val counts = df.select(
      FedLexicon.phraseCount(col("txt"), "ease").as("ease"),
      FedLexicon.phraseCount(col("txt"), "inflation").as("infl"),
      FedLexicon.phraseCount(col("txt"), "elevated inflation").as("elev"),
      FedLexicon.phraseCount(col("txt"), "tighten").as("tighten"),
      FedLexicon.phraseCount(col("txt"), "tightening").as("tightening")
    ).collect()
    assert(counts(0).getAs[Int]("ease") == 0)
    assert(counts(0).getAs[Int]("infl") == 2)
    assert(counts(0).getAs[Int]("elev") == 1)
    assert(counts(1).getAs[Int]("tighten") == 1)
    assert(counts(1).getAs[Int]("tightening") == 1)
  }

  test("connectedComponents: min-label propagation over chain + separate components") {
    import spark.implicits._
    import graft.operators.DedupOps
    // a 10-node path (diameter 9 forces multiple propagation rounds),
    // a 2-node component, and a triangle with a redundant edge
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (200L, 201L), (201L, 202L), (200L, 202L))).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(got(_) == 1L))
    assert(got(100L) == 100L && got(101L) == 100L)
    assert(Seq(200L, 201L, 202L).forall(got(_) == 200L))
    assert(got.size == 15)
    spark.catalog.clearCache() // operator persists; spec owns cleanup
  }

  test("connectedComponents agrees with union-find on a seeded random graph") {
    import spark.implicits._
    import graft.operators.DedupOps
    val rnd = new scala.util.Random(11)
    val n = 2000
    val edges = Seq.fill(1200)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference labels via driver-side union-find on the same edges
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(v => v -> find(v.toInt).toLong).toMap
    val got = DedupOps.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b", maxIter = 40)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"labels diverge on ${got.keySet.filter(k => got(k) != want(k)).take(5)}")
    spark.catalog.clearCache()
  }

  test("permutation entropy window expressions match the UDF form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.queries.SignalQueries
    import graft.signals.NumericSignals
    // deterministic series with plenty of ties (values in {0.0..0.4})
    // so the stable (value, index) tie-break is actually exercised
    val rows = for (flag <- Seq("A", "B"); i <- 0 until 150) yield
      (flag, Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        ((i * 37 + flag.hashCode.abs) % 5) / 10.0)
    val withRet = rows.toDF("flag", "d", "ret")
    val expr = SignalQueries.permEntropyFrame(withRet)
      .select(col("flag"), col("d"), col("pe"))
    val wp = Window.partitionBy(col("flag")).orderBy(col("d"))
    val udf = withRet
      .withColumn("hist", collect_list(col("ret")).over(wp.rowsBetween(-59, 0)))
      .withColumn("pe_udf", NumericSignals.permutationEntropy(3)(col("hist")))
      .filter(col("pe_udf").isNotNull)
      .select(col("flag"), col("d"), col("pe_udf"))
    val joined = expr.join(udf, Seq("flag", "d"), "full_outer")
    assert(joined.filter(col("pe").isNull || col("pe_udf").isNull).count() == 0,
      "row sets must match")
    val maxDev = joined.select(max(abs(col("pe") - col("pe_udf")))).as[Double].head()
    assert(maxDev < 1e-12, s"maxDev=$maxDev")
  }

  test("TF-IDF vocab cap does not bind on the test corpus") {
    // The q_tfidf_top_terms DuckDB oracle replays vocab membership as
    // the pure df filters; that is only equivalent to CountVectorizer
    // while the corpus vocabulary stays below vocabSize (frequency
    // ties at a binding cap would be engine-dependent).
    val docs = graft.runtime.Tables(spark, "/root/testdata/sf0.001").documents
    val (_, vocab) = graft.textml.TextML.tfidf(docs, "text", vocabSize = 1000)
    assert(vocab.length < 1000, s"vocab ${vocab.length} reached the cap")
  }

  test("FedLexicon dictionaries match the reference inventory") {
    // lexicon.py: 30 hawkish, 36 dovish, weights in [0.1, 0.9] tenths,
    // no phrase in both dictionaries, 5 tracked-only phrases.
    assert(FedLexicon.hawkish.size == 30)
    assert(FedLexicon.dovish.size == 36)
    assert(FedLexicon.trackedExtra.size == 5)
    val all = FedLexicon.hawkish.map(_.phrase) ++ FedLexicon.dovish.map(_.phrase)
    assert(all.distinct.size == all.size)
    assert((FedLexicon.hawkish ++ FedLexicon.dovish).forall(t => t.w10 >= 1 && t.w10 <= 9))
    assert(FedLexicon.maxH10 == FedLexicon.hawkish.map(_.w10).sum.toLong)
  }
}
