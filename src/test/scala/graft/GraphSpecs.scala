package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps
import graft.runtime.GraftSession

/** Scaled-integer PageRank: hand-checked fixpoints, mass bounds,
  * determinism under repartitioning. */
class GraphSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  test("symmetric 2-node graph: ranks equal and conserve mass (minus floor dust)") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = GraphOps.pageRankScaled(edges, iterations = 5)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a") == r("b"), "symmetric nodes must tie exactly")
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 999999990000L,
      s"mass $total outside [1 - floor dust, 1]")
  }

  test("star graph: hub outranks leaves; deterministic under repartition") {
    import spark.implicits._
    val spokes = (1 to 20).map(i => ("hub", s"leaf$i")) ++ (1 to 20).map(i => (s"leaf$i", "hub"))
    val edges = spokes.toDF("src", "dst")
    val r1 = GraphOps.pageRankScaled(edges, iterations = 6)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1("hub") > r1("leaf1") * 5, s"hub=${r1("hub")} leaf=${r1("leaf1")}")
    assert((1 to 20).map(i => r1(s"leaf$i")).distinct.size == 1, "leaves must tie exactly")
    val r2 = GraphOps.pageRankScaled(edges.orderBy(col("dst")).repartition(7), iterations = 6)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == r2, "byte-stable under repartitioning")
    // completeInbound skips the re-anchoring join; on a symmetrized
    // graph the result must be bit-identical to the general path
    val r3 = GraphOps.pageRankScaled(edges, iterations = 6, completeInbound = true)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == r3, "completeInbound fast path must not change results")
  }

  test("label propagation: two bridged triangles split into their cliques (hand-replayed)") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12}, bridge 3–10. Synchronous
    // min-tie-break rounds hand-replayed: after 4 rounds the cliques
    // carry labels 1 and 3 respectively (the bridge node 3's own id
    // wins the right clique via round-1 ties, then stabilizes).
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("a", "b")
    val got = GraphOps.labelPropagation(pairs, "a", "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      10L -> (3L, 3L), 11L -> (3L, 3L), 12L -> (3L, 3L))
    assert(got == want, s"got $got")
    // byte-stable under repartitioning (the argmax is a total order)
    val got2 = GraphOps.labelPropagation(pairs.repartition(7), "a", "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == got2, "deterministic under repartition")
  }

  test("bounded BFS: min hop counts on a branched path with a shortcut") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("b", "f"))
      .toDF("src", "dst")
    val got = GraphOps.boundedBfs(edges, "a", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // c is min(direct 1, via-b 2) = 1; e lands at hop 3 via the shortcut
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "f" -> 2L, "e" -> 3L),
      s"got $got")
    val capped = GraphOps.boundedBfs(edges, "a", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!capped.contains("e") && capped("d") == 2L, s"hop bound must cut e: $capped")
  }

  // ------------------------------------------------------------------
  // Randomized cross-checks vs brute-force in-memory references
  // (VERDICT r8 #6) — the discipline triangleCounts already has.
  // ------------------------------------------------------------------

  /** Brute-force synchronous LPA: same semantics as
    * [[GraphOps.labelPropagation]] — undirected deduped edges, labels
    * seeded with node ids, each round every node takes the most
    * frequent neighbor label with ties broken by MIN label. */
  private def lpaRef(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = pairs.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val nodes = adj.keySet
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = nodes.map { n =>
        val counts = adj(n).groupMapReduce(labels)(_ => 1L)(_ + _)
        // max count, then min label — the engine's max(struct(cnt, -label))
        n -> counts.maxBy { case (lab, c) => (c, -lab) }._1
      }.toMap
    }
    labels
  }

  /** Brute-force BFS: min hop distance from `source` within maxHops
    * over the directed deduped edge list. */
  private def bfsRef(edges: Seq[(String, String)], source: String, maxHops: Int): Map[String, Long] = {
    val adj = edges.distinct.groupMap(_._1)(_._2)
    var dist = Map(source -> 0L)
    var frontier = Set(source)
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil)).filterNot(dist.contains)
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    dist
  }

  test("label propagation matches a brute-force reference on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 8) {
      val n = 6 + rnd.nextInt(15)
      val p = 0.10 + rnd.nextDouble() * 0.20
      val pairs = (for {
        a <- 1L to n.toLong; b <- 1L to n.toLong
        if a < b && rnd.nextDouble() < p
      } yield (a, b)) ++ Seq((1L, 2L)) // never empty
      val iters = 1 + rnd.nextInt(4)
      val want = lpaRef(pairs, iters)
      val got = GraphOps.labelPropagation(pairs.toDF("a", "b"), "a", "b", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"trial $trial (n=$n, |E|=${pairs.size}, iters=$iters): engine ${got.toSeq.sorted} vs ref ${want.toSeq.sorted}")
      spark.catalog.clearCache()
    }
  }

  test("bounded BFS matches a brute-force reference on random digraphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 8) {
      val n = 6 + rnd.nextInt(15)
      val p = 0.08 + rnd.nextDouble() * 0.20
      val edges = (for {
        a <- 1 to n; b <- 1 to n
        if a != b && rnd.nextDouble() < p
      } yield (s"v$a", s"v$b")) ++ Seq(("v1", "v2")) // source always has an out-edge
      val hops = 1 + rnd.nextInt(5)
      val want = bfsRef(edges, "v1", hops)
      val got = GraphOps.boundedBfs(edges.toDF("src", "dst"), "v1", hops)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"trial $trial (n=$n, |E|=${edges.size}, hops=$hops): engine ${got.toSeq.sorted} vs ref ${want.toSeq.sorted}")
      spark.catalog.clearCache()
    }
  }
}
