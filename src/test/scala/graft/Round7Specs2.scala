package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, DedupOps, SimilarityOps}
import graft.runtime.GraftSession

/** Round-7 phase-4 operators: exact substring-span dedup, epoch-shard
  * manifest, SemDeDup pruning decisions. Hand-derived fixtures plus
  * determinism-under-repartitioning checks.
  */
class Round7Specs2 extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  test("substring spans: cross-doc repeat keeps first occurrence, cuts second") {
    import spark.implicits._
    // "a b c d" repeats (as two overlapping 3-windows) inside doc 2;
    // canonical occurrences are doc 1's, so only doc 2 carries a span.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d q")
    ).toDF("doc_id", "text")
    val spans = DedupOps.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .collect()
    assert(spans.length == 1)
    val r = spans(0)
    assert(r.getAs[Long]("doc_id") == 2L)
    assert(r.getAs[Long]("span_start") == 3L) // "a b c" starts at token 3
    assert(r.getAs[Long]("span_end") == 6L)   // "b c d" ends at token 6
    assert(r.getAs[Long]("span_tokens") == 4L)
    assert(r.getAs[Long]("n_windows") == 2L)
  }

  test("substring spans: within-doc repetition cuts the tail repeat") {
    import spark.implicits._
    val docs = Seq((7L, "p q r s p q r s")).toDF("doc_id", "text")
    // windows: pqr(1) qrs(2) rsp(3) spq(4) pqr(5) qrs(6); dups at 5,6
    val spans = DedupOps.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .collect()
    assert(spans.length == 1)
    val r = spans(0)
    assert(r.getAs[Long]("span_start") == 5L && r.getAs[Long]("span_end") == 8L)
    assert(r.getAs[Long]("n_windows") == 2L)
  }

  test("substring spans: disjoint repeats stay separate islands") {
    import spark.implicits._
    // two repeated 3-grams far apart in doc 2 -> two spans, not one
    val docs = Seq(
      (1L, "a b c m n o p q r s t u v w x d e f"),
      (2L, "a b c z1 z2 z3 z4 z5 z6 z7 d e f")
    ).toDF("doc_id", "text")
    val spans = DedupOps.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .where(col("doc_id") === 2L).orderBy("span_start").collect()
    assert(spans.length == 2)
    assert(spans(0).getAs[Long]("span_start") == 1L)
    assert(spans(0).getAs[Long]("span_end") == 3L)
    assert(spans(1).getAs[Long]("span_start") == 11L)
    assert(spans(1).getAs[Long]("span_end") == 13L)
  }

  test("substring spans: partition-invariant decisions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = DedupOps.exactSubstringSpans(docs, "doc_id", "text", k = 8)
    val b = DedupOps.exactSubstringSpans(docs.repartition(13), "doc_id", "text", k = 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("epoch shard manifest: exact hand-computed keys, offsets, balance") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val m = CurationOps.epochShardManifest(docs, "doc_id", lit(10L), numShards = 8)
      .collect()
    assert(m.length == 64)
    m.foreach { r =>
      val id  = r.getAs[Long]("doc_id")
      val key = java.lang.Math.floorMod(id * 2654435761L, 999983L)
      assert(r.getAs[Long]("shard_id") == key % 8)
      // every doc contributes 10 tokens: offset = (seq-1)*10 exactly
      assert(r.getAs[Long]("tok_offset") == (r.getAs[Long]("seq_in_shard") - 1) * 10)
    }
    // hash-mod balance at n=64: no shard empty, none dominant
    val sizes = m.groupBy(_.getAs[Long]("shard_id")).view.mapValues(_.length)
    assert(sizes.size == 8 && sizes.values.max <= 16)
  }

  test("epoch shard manifest: deterministic under repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tok  = size(DedupOps.tokens(col("text"))).cast("long")
    val a = CurationOps.epochShardManifest(docs, "doc_id", tok, 8)
    val b = CurationOps.epochShardManifest(docs.repartition(17), "doc_id", tok, 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("transition matrix: rows normalize to 1, counts conserve total transitions") {
    val rows = graft.queries.Registry.byName("q_event_transition_matrix")
      .query(spark, "/root/testdata/sf0.001").collect()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val nUsers = events.select("user_id").distinct().count()
    // every user's sequence yields (len - 1) transitions
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == events.count() - nUsers)
    rows.groupBy(_.getAs[String]("prev_type")).values.foreach { grp =>
      val tot = grp.head.getAs[Long]("row_total")
      assert(grp.map(_.getAs[Long]("n_transitions")).sum == tot)
      val psum = grp.map(_.getAs[Double]("p_next")).sum
      assert(math.abs(psum - 1.0) < 5e-4 * grp.size, s"row sums to $psum")
    }
  }

  test("event funnel: monotone steps, ratio math replayed") {
    val rows = graft.queries.Registry.byName("q_event_funnel")
      .query(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getAs[Long]("step"))
    assert(rows.map(_.getAs[String]("step_name")).toSeq ==
      Seq("view", "click_24h", "purchase_24h"))
    val n = rows.map(_.getAs[Long]("n_users"))
    assert(n(0) >= n(1) && n(1) >= n(2), "funnel populations must shrink")
    val top = rows(2).getAs[Double]("conv_from_top")
    assert(math.abs(top - n(2).toDouble / n(0)) < 1e-4)
    assert(rows(0).getAs[Double]("conv_from_top") == 1.0)
  }

  test("retention cohorts: day-0 retention is exactly 1, offsets within range") {
    val rows = graft.queries.Registry.byName("q_retention_cohorts")
      .query(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("day_offset")
      assert(off >= 0 && off <= 7)
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size"))
      if (off == 0) {
        // the signup that defines the cohort IS day-0 activity
        assert(r.getAs[Long]("n_active") == r.getAs[Long]("cohort_size"))
        assert(r.getAs[Double]("retention_pct") == 1.0)
      }
    }
  }

  test("entity resolution: every entity resolves to exactly its three feeds, master survives") {
    val rows = graft.queries.Registry.byName("q_entity_resolution")
      .query(spark, "/root/testdata/sf0.001").collect()
    val nCust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    assert(rows.length == nCust, "one resolved entity per true entity")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_records") == 3L, "master + feed1 + feed2")
      assert(r.getAs[Long]("n_feeds") == 3L)
      val id = r.getAs[String]("entity_id")
      assert(id.startsWith("c"), "min-id survivorship keeps the master")
      // canonical name is the uncorrupted md5 of the entity key
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest(id.drop(1).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getAs[String]("canonical_name") == expected)
    }
  }

  test("benford digits: complete digit grid, counts conserved, chi2 replayed") {
    val rows = graft.queries.Registry.byName("q_dq_benford_digits")
      .query(spark, "/root/testdata/sf0.001").collect()
    val byYear = rows.groupBy(_.getAs[Long]("ship_year"))
    val nLineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
    assert(rows.map(_.getAs[Long]("observed")).sum == nLineitem)
    byYear.values.foreach { yr =>
      val digits = yr.map(_.getAs[String]("leading_digit")).toSet
      assert(digits == (1 to 9).map(_.toString).toSet,
        "digit spine must be complete even for never-observed digits")
      // independent chi-square replay from the observed counts
      val n = yr.map(_.getAs[Long]("observed")).sum.toDouble
      val chi2 = yr.map { r =>
        val p   = math.log10(1 + 1.0 / r.getAs[String]("leading_digit").toInt)
        val obs = r.getAs[Long]("observed").toDouble
        val x   = obs - n * p
        x * x / (n * p)
      }.sum
      val reported = yr.head.getAs[Double]("chi2_year")
      assert(math.abs(chi2 - reported) < 5e-4, s"chi2 $chi2 vs $reported")
      assert(yr.forall(_.getAs[Boolean]("benford_ok") == (reported < 15.507)))
    }
  }

  test("triangle counts: K4 + pendant path, duplicate/reversed edges ignored") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, every node in 3 of them; the
    // pendant path 4-5-6 adds degree but no triangles. Edge list has
    // duplicates and reversed orientations to prove canonicalization.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 3L), (4L, 5L), (5L, 6L)
    ).toDF("pa", "pb")
    val got = graft.operators.GraphOps.triangleCounts(edges, "pa", "pb")
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("triangles"), r.getAs[Long]("degree"))).toMap
    assert(got == Map(
      1L -> (3L, 3L), 2L -> (3L, 3L), 3L -> (3L, 3L), 4L -> (3L, 4L)))
  }

  test("triangle counts: property vs brute force on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 12
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rng.nextDouble() < 0.4
      } yield (a, b)).toVector
      val adj = edges.toSet
      val ref = (for {
        a <- 1L to n; b <- (a + 1) to n; c <- (b + 1) to n
        if adj((a, b)) && adj((b, c)) && adj((a, c))
      } yield Seq(a, b, c)).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = graft.operators.GraphOps
        .triangleCounts(edges.toDF("pa", "pb"), "pa", "pb")
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("triangles")).toMap
      assert(got == ref, s"trial $trial diverged from brute force")
    }
  }

  test("posting stats: impact order, tie-breaks, df floor, k-bound") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x y z"),   // x tf=3
      (2L, "x y y"),       // x tf=1, y tf=2
      (3L, "x x q"),       // x tf=2
      (4L, "x w")          // x tf=1 (ties with doc 2 -> id order)
    ).toDF("doc_id", "text")
    val stats = graft.operators.FtsOps
      .postingStats(graft.operators.FtsOps.postingsIndex(docs, "doc_id", "text"),
        "doc_id", topK = 3, minDf = 2L)
      .collect().map(r => r.getAs[String]("term") -> r).toMap
    val x = stats("x")
    assert(x.getAs[Long]("df") == 4 && x.getAs[Long]("cf") == 7 && x.getAs[Long]("max_tf") == 3)
    assert(x.getAs[String]("top_docs") == "1,3,2") // tf 3,2,1(tie->min id); k=3 bounds out doc 4
    val y = stats("y")
    assert(y.getAs[String]("top_docs") == "2,1")
    assert(!stats.contains("z") && !stats.contains("q") && !stats.contains("w")) // df floor
  }

  test("semantic dedup: duplicate vector dropped, orthogonal kept, cells keep a representative") {
    import spark.implicits._
    val planes = SimilarityOps.hyperplanes(4, 2)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact dup of 1 -> dropped
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f))  // orthogonal -> kept
    ).toDF("vec_id", "embedding")
    val d = SimilarityOps
      .semanticDedupDecisions(vecs, "vec_id", "embedding", planes, minSim = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(d(1L).getAs[Boolean]("kept"))
    assert(!d(2L).getAs[Boolean]("kept"))
    assert(d(2L).getAs[Double]("max_sim_smaller") == 1.0)
    assert(d(3L).getAs[Boolean]("kept"))
    // invariant: smallest id of every cell is always kept
    val byCell = d.values.groupBy(_.getAs[Long]("cell"))
    byCell.values.foreach { rs =>
      val minId = rs.map(_.getAs[Long]("vec_id")).min
      assert(rs.find(_.getAs[Long]("vec_id") == minId).get.getAs[Boolean]("kept"))
    }
  }

  test("substring spans: property vs in-memory reference on random low-vocab docs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def refSpans(docs: Seq[(Long, Vector[String])], k: Int): Set[(Long, Long, Long, Long, Long)] = {
      val wins = for {
        (id, t) <- docs if t.length >= k
        p <- 1 to (t.length - k + 1)
      } yield (id, p.toLong, t.slice(p - 1, p - 1 + k).mkString(" "))
      val rem = wins.groupBy(_._3).values
        .flatMap(occ => occ.toSeq.sortBy(o => (o._1, o._2)).drop(1).map(o => (o._1, o._2)))
        .toSeq
      rem.groupBy(_._1).flatMap { case (id, ps0) =>
        val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        ps0.map(_._2).sorted.foreach { p =>
          if (islands.nonEmpty && p <= islands.last._2 + 1) {
            val (s0, e0, n0) = islands.last
            islands(islands.size - 1) = (s0, math.max(e0, p + k - 1), n0 + 1)
          } else islands += ((p, p + k - 1, 1L))
        }
        islands.map { case (s0, e0, n0) => (id, s0, e0, e0 - s0 + 1, n0) }
      }.toSet
    }
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 4) {
      val docs = (1L to 12L).map { id =>
        id -> Vector.fill(rng.nextInt(26))(vocab(rng.nextInt(vocab.size)))
      }
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = DedupOps.exactSubstringSpans(df, "doc_id", "text", k = 3)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"),
          r.getAs[Long]("n_windows"))).toSet
      assert(got == refSpans(docs, 3), s"trial $trial diverged from the reference")
    }
  }

  test("semantic dedup on fixture: kept + dropped partition the corpus; drops justified") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = SimilarityOps.hyperplanes(64, 4)
    val d = SimilarityOps
      .semanticDedupDecisions(emb, "vec_id", "embedding", planes, minSim = 0.25)
    assert(d.count() == emb.count())
    // every dropped row must carry a justifying similarity >= threshold
    assert(d.filter(!col("kept") &&
      (col("max_sim_smaller").isNull || col("max_sim_smaller") < 0.25)).isEmpty)
    // every kept row carries none
    assert(d.filter(col("kept") && col("n_dups_smaller") =!= 0L).isEmpty)
  }
}
