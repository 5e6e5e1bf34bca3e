package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.runtime.Loop

/** Iterative graph analytics beyond the pair/cluster layer
  * ([[DedupOps.connectedComponents]]): PageRank in SCALED-INTEGER
  * arithmetic.
  *
  * Why integers: the textbook update
  * `r'(v) = (1-d)/N + d * Σ r(u)/deg(u)` sums doubles in shuffle
  * order — nondeterministic last bits across runs, partitionings, and
  * engines. Scaling ranks to units of 10⁻¹² and replacing every
  * division with integer floor-div makes each iteration EXACT: sums
  * are associative-commutative BIGINT adds, so the result is
  * byte-stable anywhere (the same discipline as [[SketchOps]]). The
  * floor losses (< 1 unit per edge per iteration) drain a negligible
  * amount of total mass and never affect comparability.
  *
  * Scale: ONE shuffle per iteration — the groupBy(dst) transpose.
  * The edge list is degree-annotated once and hash-partitioned by
  * `src` up front; each round's contribution join is hinted
  * shuffle-hash (the rank side is |V| ≪ |E|), so the big edge side
  * neither re-exchanges nor re-sorts. The loops (edge cache, width,
  * per-round checkpoints and their release) run on [[Loop]]. Only N
  * (node count) lives on the driver.
  */
object GraphOps {

  private val Unit12 = 1000000000000L // 10^12 rank units

  /** PageRank over a directed edge list (`src`, `dst` string columns)
    * with damping `dampNum/dampDen` (default 85/100) for a FIXED
    * iteration count. Every node must appear as a source (symmetrize
    * the edge list for undirected graphs — dangling nodes would
    * otherwise leak their mass). Set `completeInbound` ONLY when every
    * node is also some edge's dst (always true for a symmetrized
    * list): the per-round zero-inbound re-anchoring join is then
    * skipped — results identical, one join per iteration saved.
    *
    * Returns (node, rank_u12): rank in 10⁻¹² units, exact. */
  def pageRankScaled(
      edges: DataFrame,
      iterations: Int,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      completeInbound: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen, s"damping $dampNum/$dampDen out of (0,1)")
    val e = edges.select(col("src"), col("dst")).distinct()
    // Degree-annotated edges keyed by src: every round's contribution
    // join then lines up against node-keyed ranks with no exchange on
    // the (large) edge side. Degree via a count window over the
    // src-partitioned frame — one exchange where the groupBy-then-join
    // shape paid two plus a join (the planner drops keyed's own src
    // re-key above it as redundant).
    val (e2, p) = Loop.keyed(
      e.repartition(col("src")).withColumn("__deg", count(lit(1)).over(Window.partitionBy(col("src")))),
      "src")
    val nodes = e2.select(col("src").as("node")).distinct().repartition(p, col("node")).cache()
    val n = nodes.count() // the one driver-side scalar
    require(n > 0, "empty graph")
    val basePart = (Unit12 * (dampDen - dampNum) / dampDen) / n // exact long
    val seed = Loop.checkpoint(nodes.withColumn("rank_u12", lit(Unit12 / n)))
    val (ranks, _) = Loop.rounds(seed, p, iterations) { rk =>
      val contribs = e2
        .join(rk.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"), expr("rank_u12 div __deg").as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).as("__in"))
      // `completeInbound` (callers whose edge list is symmetrized —
      // then every node is some neighbor's dst, so contribs already
      // carries every node): skip the per-round re-anchoring join
      // against `nodes` that exists only to resurrect zero-inbound
      // nodes. 8 iterations → 8 joins saved.
      if (completeInbound)
        contribs.select(col("node"),
          (lit(basePart) + expr(s"(__in * $dampNum) div $dampDen")).as("rank_u12"))
      else
        nodes
          .join(contribs.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"),
            (lit(basePart) +
              expr(s"(coalesce(__in, 0L) * $dampNum) div $dampDen"))
              .as("rank_u12"))
    }
    e2.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks
  }

  /** Exact triangle counting by degree-ordered orientation (the
    * Schank/Wagner forward algorithm, the standard distributed form —
    * Suri & Vassilvitskii 2011): orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges
    * u→y, u→z with (deg,id)(y) < (deg,id)(z), and close each wedge
    * against the oriented edge set. Orientation bounds a node's
    * out-degree by O(√m) on any graph (and by arboricity generally),
    * so wedge volume — the only super-linear intermediate — is
    * O(m^1.5) worst-case instead of Σ deg² ; every join is an equi
    * join on node keys, no broadcast of anything node-sized assumed.
    *
    * Returns one row per triangle-participating node:
    * (node, triangles, degree). Deterministic: counts are exact
    * integers; the (degree, id) order is total.
    */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    // persisted: the oriented edge list feeds the wedge self-join
    // twice plus the closure probe; all three consume every column,
    // so the materialization loses nothing to pruning. Cache
    // ownership per the QueryDef contract (callers clearCache).
    val ori = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persist()
    val wed = ori.select(col("u"), col("v").as("y"), col("dv").as("dy"))
      .join(ori.select(col("u"), col("v").as("z"), col("dv").as("dz")), Seq("u"))
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
    wed
      .join(ori.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      .select(explode(array(col("u"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .join(deg.select(col("n").as("node"), col("d").as("degree")), Seq("node"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected pair list, made DETERMINISTIC: every node starts
    * labeled with its own (numeric) id; each round every node adopts
    * the most frequent label among its neighbors, ties broken by the
    * SMALLEST label; all nodes update simultaneously for a FIXED
    * iteration count. Classic LPA randomizes update order precisely
    * to break oscillations — fixing synchronous order + min-label
    * ties trades a little community quality for a replayable
    * fixpoint any SQL engine reproduces row-for-row (the same
    * determinism discipline as [[pageRankScaled]]).
    *
    * Scale, per iteration: the neighbor-label join lines up against
    * the dst-partitioned edge cache (no exchange on the |E| side; the
    * |V|-sized label frame is the one that moves, shuffle-hash
    * hinted), then ONE |E|-wide shuffle for the (node, label) counts
    * — map-side partial aggregation collapses it to the distinct
    * (node, label) pairs — and a |distinct-labels|-wide regroup for
    * the argmax. The argmax is `max(struct(cnt, -label))`: exact
    * integers, no window sort. Labels must be positive longs (the
    * negation is the tie-break). Rounds run on [[Loop]], exactly as
    * PageRank.
    *
    * Returns (node, community, community_size). */
  def labelPropagation(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val (edges, p) = Loop.keyed(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst"))),
      "dst")
    val seed = Loop.checkpoint(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node").cast("long")))
    // Node ids must CAST to longs — a non-numeric id (e.g. the
    // 'c:1'-style string ids elsewhere in this file) casts to NULL,
    // which the label join then silently drops, corrupting every round
    // (ADVICE r8). Fail loudly instead; the probe rides the already-
    // eager seed checkpoint, so it costs one |V| scan. Any numeric
    // value is fine: negation is order-reversing over the whole long
    // range, so the max(struct(cnt, -label)) tie-break picks the
    // minimum label for 0/negative ids too.
    val badIds = seed.filter(col("label").isNull).limit(1).count()
    require(badIds == 0,
      "labelPropagation: node ids must cast to longs; found NULL after cast — " +
        "map string ids to longs (e.g. dense rank or xxhash64) first")
    val (labels, _) = Loop.rounds(seed, p, iterations)(lpaRound(edges, _))
    edges.unpersist(blocking = false)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes.hint("shuffle_hash"), Seq("label"))
      .select(col("node"), col("label").as("community"), col("community_size"))
  }

  /** One synchronous LPA round. Exactly THREE hash exchanges when
    * `edges` is cached pre-partitioned by `dst` ([[labelPropagation]]
    * guarantees it; PlanSpecs gates it): the |V|-sized label frame
    * moving to the join, the (node,label) count shuffle (partial
    * aggregation collapses it to distinct pairs map-side), and the
    * argmax regroup. The |E| edge side never re-exchanges. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("node", "dst").hint("shuffle_hash"), Seq("dst"))
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("src"))
      .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__m"))
      .select(col("src").as("node"), (-col("__m.__nl")).as("label"))

  /** Bounded-hop single-source BFS over a directed edge list
    * (`src`, `dst`): minimum hop count from `source` to every node
    * reachable within `maxHops`. The recurrence is the relational
    * Bellman-Ford specialization for unit weights —
    * `d_i = min-by-node(d_{i-1} ∪ {(dst, h+1) : (src,dst) ∈ E, (src,h) ∈ d_{i-1}})`
    * — which a SQL engine replays verbatim, so the oracle is the
    * same unrolled CTE. Exact integers throughout.
    *
    * Scale, per hop: one join of the (≤|V|)-row distance frame
    * against the src-partitioned edge cache (edge side never
    * re-exchanges; the distance side is the small mover,
    * shuffle-hash hinted) and one |V|-keyed min regroup. Rounds run
    * on [[Loop]]. The frame re-aggregates already-settled nodes each
    * round — the frontier-only variant saves that |V| pass but needs
    * an anti join per round; at |V| ≪ |E| the full re-min is cheaper. */
  def boundedBfs(edges: DataFrame, source: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val (e, p) = Loop.keyed(edges.select(col("src"), col("dst")).distinct(), "src")
    val seed = Loop.checkpoint(edges.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("hops")))
    val (dist, _) = Loop.rounds(seed, p, maxHops)(bfsRound(e, _))
    e.unpersist(blocking = false)
    dist
  }

  /** One BFS relaxation round. Exactly TWO hash exchanges when
    * `edges` is cached pre-partitioned by `src` ([[boundedBfs]]
    * guarantees it; PlanSpecs gates it): the ≤|V| distance frame
    * moving to the join, and the node-keyed min regroup above the
    * union (ONE exchange — partial min runs per branch first). */
  private[graft] def bfsRound(edges: DataFrame, dist: DataFrame): DataFrame =
    dist
      .unionAll(
        edges.join(dist.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
          .select(col("dst").as("node"), (col("hops") + 1L).as("hops")))
      .groupBy(col("node"))
      .agg(min(col("hops")).as("hops"))

  /** Customer–supplier trade graph from the TPC-H-ish fixtures:
    * symmetric edges `c:<custkey> <-> s:<suppkey>` for every distinct
    * (customer, supplier) pair that shares an order. */
  def tradeGraphEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders
      .select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        concat(lit("c:"), col("o_custkey")).as("c"),
        concat(lit("s:"), col("l_suppkey")).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
  }
}
