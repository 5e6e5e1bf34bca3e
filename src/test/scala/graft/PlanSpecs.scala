package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.runtime.GraftSession

/** Physical-plan quality gates: these are the properties that keep the
  * engine fast at 100 TB, asserted so a regression is a test failure,
  * not a silent slowdown.
  */
class PlanSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  private val dir              = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  // builders and operators cache their intermediates; clear them after
  // each test, as Fleet does after each query, so a later test that
  // builds the same frame does not ask to cache it again
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally spark.catalog.clearCache()

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Formatted explain — full (untruncated) scan details. */
  private def formattedPlan(name: String): String =
    SparkEntry
      .queries(name)(spark, dir)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("selective scan pushes every predicate into the parquet reader") {
    val plan = formattedPlan("q_filter_project_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "filters must reach the scan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), "range predicate must push down")
  }

  test("scan prunes to referenced columns only") {
    val plan = formattedPlan("q_filter_project_revenue")
    // ReadSchema must not include unreferenced wide columns
    assert(!plan.contains("l_returnflag"), "unused column must be pruned from the scan")
  }

  test("star join broadcasts the dimension tables") {
    val plan = executedPlan("q_join_star_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "nation/region joins must be broadcast, not shuffled")
    assert(!plan.contains("SortMergeJoin"), "no sort-merge join for broadcast-sized dims")
  }

  test("stacked TA windows share one instrument exchange (no shuffle per indicator)") {
    val plan = executedPlan("q_ta_indicator_daily")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"TA suite must not shuffle per window family; saw $exchanges hash exchanges")
  }

  test("aggregations plan partial (map-side) combines") {
    val plan = executedPlan("q_agg_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "group-by must use partial aggregation before the exchange")
  }

  test("minhash LSH band join is a hash join on the bucket key, never a cross join") {
    val plan = executedPlan("q_minhash_neardup_pairs")
    assert(!plan.contains("CartesianProduct"), "LSH candidate join degenerated to cross join")
    // A BroadcastNestedLoopJoin is just as quadratic as a cross join:
    // it means the bucket equality was NOT extracted as an equi key
    // (round-1 failure mode: struct-typed key + id inequality residual).
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "LSH candidate join degenerated to nested-loop join")
  }

  test("semantic layer prunes unused window columns through the shared analysis_return") {
    // asset_daily_returns consumes 3 of the 20 horizon measures; the
    // optimized plan must not compute the other 17 window expressions
    // (std_diff_1mo etc. would show up as window aliases).
    val optimized = SparkEntry.queries("q_asset_daily_returns")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("std_diff_1mo"),
      "unused horizon columns must be pruned from the shared window family")
    assert(!optimized.contains("high_9mo"),
      "unused horizon columns must be pruned from the shared window family")
  }

  test("analysis_return is a single-pass window family (no lookback join)") {
    // round-5 rewrite: the five exact-calendar lookbacks are
    // single-point RANGE frames riding the rolling-stats sort, not an
    // explode→pivot→self-join. A Join reappearing here means the
    // lookbacks regressed to the shuffling shape; the only exchanges
    // are the universe groupBy and the window repartition.
    val plan = executedPlan("q_us_sector_analysis_return")
    assert(!plan.contains("Join"), "analysis_return must not join for lookbacks")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"analysis_return should shuffle only groupBy + window partition; saw $exchanges")
  }

  test("data tests keep the single-scan shape (no join in the generic tests)") {
    val plan = executedPlan("q_test_ohlc_consistency")
    assert(!plan.contains("Join"), "a generic dbt test is one scan + filter")
    val agg = executedPlan("q_test_unique_combination")
    assert(agg.contains("partial_count") || agg.contains("partial"),
      "grain-duplicate test must use partial aggregation")
  }

  test("leading-econ snapshot's shared cache is narrow (RANGE windows pruned)") {
    // the persisted base_historical projection must not drag the
    // 1yr RANGE-window family into the cache it never reads
    val plan = SparkEntry.queries("q_leading_econ_return_indicator_snapshot")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("std_diff_1yr"),
      "cached base_historical slice must prune the RANGE-window columns")
    assert(!plan.contains("high_1yr"),
      "cached base_historical slice must prune the RANGE-window columns")
    spark.catalog.clearCache()
  }

  test("weekly coverage check broadcasts the calendar spine side") {
    val plan = executedPlan("q_check_weekly_coverage")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "spine × partitions must broadcast, not shuffle the observed side twice")
  }

  test("snapshot templates never window or persist the spine-amplified frame") {
    // boundary picks are struct MIN/MAX inside the aggregation; a
    // Window here would mean the ×snapshots frame is being sorted at
    // full width again (the pre-round-4 row_number shape). The OHLC
    // template has no window at all; the commodity template keeps
    // exactly one (the global lag, gated separately below).
    val ohlc = executedPlan("q_us_sector_summary_snapshot")
    assert("Window ".r.findAllIn(ohlc).isEmpty,
      "OHLC snapshot: no window over the spine-amplified frame")
    for (q <- Seq("q_us_sector_summary_snapshot", "q_energy_commodities_summary_snapshot")) {
      val plan = executedPlan(q)
      assert(!plan.contains("InMemoryTableScan"),
        s"$q: the amplified frame must not be persisted")
      assert(plan.contains("partial"), s"$q: amplified rows must partial-aggregate map-side")
    }
  }

  test("summaries pick boundary prices in the aggregate: no row_number window, no re-join") {
    // The period-summary kernel takes the start/end prices as struct
    // MIN/MAX inside its one aggregation. A hash or sort-merge join
    // here would be the aggregate re-joined to its own input (the
    // pre-kernel start/end picks); the only join left is the 1-row
    // max-date anchor, a BroadcastNestedLoopJoin.
    val plans = Seq("q_us_sector_summary", "q_energy_commodities_summary").map(q => q -> executedPlan(q))
    for ((q, plan) <- plans) {
      assert(!plan.contains("row_number"), s"$q: boundary picks must not rank rows")
      assert(Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin").forall(!plan.contains(_)),
        s"$q: the aggregate must not be joined back to its input")
    }
    assert(!plans(0)._2.contains("Window"), "q_us_sector_summary: no window at all")
    // the commodity summary keeps exactly its full-history LAG
    val windows = "Window ".r.findAllIn(plans(1)._2).size
    assert(windows == 1, s"q_energy_commodities_summary: one LAG window expected, saw $windows")
  }

  test("commodity snapshot's LAG runs over the raw staging, not the amplified frame") {
    // exactly one window family (the global per-commodity lag) and it
    // must sit BELOW the broadcast spine join in the plan text
    val plan = executedPlan("q_energy_commodities_summary_snapshot")
    val windows = "Window ".r.findAllIn(plan).size
    assert(windows <= 1, s"one global lag window expected, saw $windows")
  }

  test("ngram jaccard candidate join stays an equi hash join") {
    val plan = executedPlan("q_ngram_jaccard_pairs")
    assert(!plan.contains("CartesianProduct"), "shingle join degenerated to cross join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "shingle join degenerated to nested-loop join")
  }

  test("ngram jaccard carries no explicit broadcast hint (round-5 fix)") {
    // the c-filter sizes ride the exploded rows: an EXPLICIT broadcast
    // of a per-document frame would OOM at corpus scale. The planner
    // may still choose broadcasts from tiny test-SF statistics — that
    // adapts away at scale; a hard-coded hint does not, so the gate is
    // on the logical plan's hints, not the physical join choice.
    val analyzed = SparkEntry.queries("q_ngram_jaccard_pairs")(spark, dir)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "per-document frames must not be broadcast-hinted")
  }

  test("FRED signal models pivot their series in one aggregate: no full-outer join chain") {
    for (q <- Seq("q_sentiment_signals", "q_labor_signals")) {
      val plan = executedPlan(q)
      assert(!plan.contains("FullOuter"), s"$q fans in per-series aggregates:\n${plan.take(3000)}")
    }
  }

  test("fred snapshot runs without any window over the spine-amplified frame") {
    // the round-5 single-pass rewrite replaced grain groupBy + lag
    // window + latest self-join with one sorted-cell-array
    // aggregation — a Window reappearing here means the amplified
    // frame is being sorted again
    val plan = executedPlan("q_fred_series_latest_aggregates_snapshot")
    assert(!plan.contains("Window"), "snapshot must not window the amplified frame")
  }

  test("alert evaluation broadcasts the definitions, state machine stays keyed") {
    // (the one BroadcastNestedLoopJoin inside alertInputs is the
    // 1-row max-date anchor cross join — the repo's standard scalar
    // broadcast pattern — so only CartesianProduct is banned here)
    val plan = executedPlan("q_alert_events")
    assert(plan.contains("BroadcastHashJoin"),
      "5-row alert definitions must join via broadcast")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cross join")
  }

  test("lexicon scoring is a single meeting-grain aggregation (no extra shuffles)") {
    // all 71 regexp counts and the score arithmetic are projections
    // over the meetings frame: one hash aggregate for the monthly
    // meetings, one window for the per-speaker lag — nothing that
    // scales with transcript size shuffles
    val plan = executedPlan("q_stg_fomc_sentiment_scores")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"lexicon scoring should shuffle only meeting aggregation + lag window; saw $exchanges")
  }

  test("contamination keeps the shingle-table cache boundary (no HOF re-inline)") {
    // Without the cache() the optimizer pushes each side's filter
    // through the fan-out and re-inlines the interpreted tokenize+
    // shingle lambda chain into BOTH consumers (O(tokens^2) per doc —
    // measured 11.9 s vs 2.6 s at sf0.1). The InMemoryTableScan is
    // the materialization boundary that prevents it.
    val plan = executedPlan("q_benchmark_contamination")
    assert(plan.contains("InMemoryTableScan"),
      "shingle table must be cached before the bench/train fan-out")
    spark.catalog.clearCache()
  }

  test("zorder audit is agg + broadcast-bounds + agg (no sort, no window)") {
    val plan = executedPlan("q_zorder_layout_audit")
    assert(!plan.contains("WindowExec") && !plan.contains("SortExec"),
      "equal-width z binning must not global-sort")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "min/max bounds must broadcast back onto the rows")
  }

  test("interval overlap join is a grid-cell hash join, never BNLJ") {
    val plan = executedPlan("q_session_overlap_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the grid decomposition must keep the overlap join an equi join")
  }

  test("kmv rollup never re-shuffles raw keys for the coarse level") {
    // The yearly estimate must derive from the monthly sketches: the
    // only scans are orders (sketch build + exact check), and the
    // merge level's explode input is the k-hash arrays, bounded per
    // fine group.
    val plan = executedPlan("q_kmv_distinct_rollup")
    assert("Generate explode".r.findAllIn(plan).size == 1,
      "exactly one explode: the sketch-array merge")
  }

  test("asofJoin is one exchange + two sorts (the union-spine claim)") {
    // The operator's whole point: merge_asof without a banded join —
    // L+R shuffle ONCE on the key, then two ordered window passes
    // re-sort in place. A second Exchange appearing here means the
    // spine union or the window partitioning regressed.
    val plan = executedPlan("q_asof_purchase_attribution")
    assert("Exchange ".r.findAllIn(plan).size == 1,
      "as-of spine must shuffle exactly once")
    assert("\\bSort \\[".r.findAllIn(plan).size == 2,
      "exactly the two direction-ordered window sorts")
  }

  /** Count "Exchange hashpartitioning" lines OUTSIDE InMemoryRelation
    * subtrees: a cached relation prints its own build plan (twice,
    * under AQE — final + initial), whose exchanges ran once at cache
    * fill and are not per-iteration cost. Skips every line indented
    * deeper than an InMemoryRelation line until indentation returns. */
  private def exchangesOutsideCache(plan: String): Int = {
    var skipDepth = -1
    var n = 0
    for (line <- plan.linesIterator) {
      val depth = line.indexWhere(c => c.isLetter || c == '=')
      val d = if (depth < 0) Int.MaxValue else depth
      if (skipDepth >= 0 && d <= skipDepth) skipDepth = -1
      if (skipDepth < 0) {
        if (line.contains("InMemoryRelation")) skipDepth = d
        else if (line.contains("Exchange hashpartitioning")) n += 1
      }
    }
    n
  }

  test("LPA round: three hash exchanges, edge cache never re-exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, least, greatest}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val und = pairs.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b")).distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst")).persist()
    val labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node").cast("long")).localCheckpoint(true)
    val plan = graft.operators.GraphOps.lpaRound(edges, labels)
      .queryExecution.executedPlan.toString
    edges.unpersist(blocking = false)
    // the label mover + the (node,label) count shuffle + the argmax
    // regroup — a 4th hash exchange means the dst-partitioned edge
    // cache stopped lining up with the join
    assert(exchangesOutsideCache(plan) == 3,
      s"LPA round must be exactly 3 hash exchanges outside the edge cache:\n$plan")
    assert(plan.contains("partial_count"), "neighbor-label counts must partial-aggregate map-side")
  }

  test("BFS round: two hash exchanges, edge cache never re-exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      .repartition(col("src")).persist()
    // materialized first, as boundedBfs does — an unexecuted AQE
    // cache plan hides its partitioning from the round-1 planner
    edges.count()
    val dist = spark.range(1).select(lit("a").as("node"), lit(0L).as("hops"))
      .localCheckpoint(true)
    val plan = graft.operators.GraphOps.bfsRound(edges, dist)
      .queryExecution.executedPlan.toString
    edges.unpersist(blocking = false)
    // the distance mover to the join + ONE min regroup above the
    // union (partial min per branch first)
    assert(exchangesOutsideCache(plan) == 2,
      s"BFS round must be exactly 2 hash exchanges outside the edge cache:\n$plan")
    assert(plan.contains("partial_min"), "hop minima must partial-aggregate before the exchange")
  }

  test("CC round: the dst-keyed edge cache never re-exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    // the edge cache and width connectedComponentsWithRounds runs with
    val (edges, width) = graft.runtime.Loop.keyed(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"))), "dst")
    val labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    // at scale the joins shuffle; a toy graph would broadcast them
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bcPrior = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    val plan = try graft.runtime.Loop.withWidth(spark, width) {
      graft.operators.DedupOps.ccRound(edges, labels).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    } finally spark.conf.set(bcKey, bcPrior)
    edges.unpersist(blocking = false)
    assert(plan.exists(_.isInstanceOf[InMemoryTableScanExec]), s"CC round must read the edge cache:\n$plan")
    assert(plan.exists(_.isInstanceOf[ShuffleExchangeExec]), s"expected a shuffled join:\n$plan")
    // an exchange fed by the cache scan through row-level operators only
    def scansCache(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true
      case _: ProjectExec | _: FilterExec | _: InputAdapter | _: WholeStageCodegenExec =>
        scansCache(p.children.head)
      case _ => false
    }
    val overCache = plan.collect { case x: Exchange if scansCache(x.child) => x }
    assert(overCache.isEmpty, s"the |E| edge cache must line up with the neighbor-label join:\n$plan")
  }

  test("embedding mean-pool is a single (group, dim)-keyed shuffle") {
    val plan = executedPlan("q_embedding_mean_pool")
    assert("Exchange ".r.findAllIn(plan).size == 1,
      "pooling must be one keyed aggregation — no vector-holding tree reduce")
  }

  test("TopK aggregator runs as one partial-aggregated object-hash exchange") {
    val plan = executedPlan("q_topk_aggregator")
    assert("Exchange ".r.findAllIn(plan).size == 1, "one shuffle of k-bounded buffers")
    assert(plan.contains("ObjectHashAggregate"),
      "bounded-buffer UDAF must stay on the ObjectHashAggregate path (no sort-agg fallback)")
  }

  test("runtime bloom filter injects might_contain for a selective-dim shuffle join") {
    // The cluster-scale counterpart of SkewOps.bloomPrunedJoin: with
    // the optimizer's runtime row-level bloom filter enabled, a
    // shuffle join against a selectively-filtered dim gets a
    // bloom-probe predicate injected on the fact side — fact rows are
    // dropped BEFORE the exchange. Gated here so a Spark upgrade or a
    // session-default change that silently stops the injection fails
    // a test instead of doubling shuffle bytes at scale. (The
    // application-side size threshold defaults to 10 GB, so the
    // injection needs the conf below on test-sized data; production
    // sessions keep the default and get it exactly where it matters.)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val j = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").count()
      val phys = j.queryExecution.executedPlan.toString
      assert(phys.contains("might_contain"),
        "runtime bloom filter must inject a might_contain probe on the fact side")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("BPE word counting is one map-side-combined shuffle") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.BpeOps.wordCounts(docs, "text")
      .queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).size == 1,
      "the only corpus-scale BPE stage must shuffle exactly once")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "word counts must partial-aggregate before the exchange")
    assert(!plan.contains("Sort "), "no sort in the counting path")
  }

  test("image dHash candidate generation is a band-bucket equi join, never BNLJ") {
    val plan = executedPlan("q_image_dhash_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "dHash pairs must come from the (band, value) hash join")
  }

  test("symspell fuzzy join is a variant equi join, never BNLJ") {
    val plan = executedPlan("q_symspell_linkage")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "deletion-neighborhood candidates must come from the variant hash join")
  }

  test("substring-span dedup is exactly two exchanges (gram, then doc)") {
    val plan = executedPlan("q_substring_span_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      "one gram-keyed shuffle + one doc-keyed shuffle; the island " +
        "aggregation must reuse the doc_id window partitioning")
    assert(!plan.contains("SinglePartition"), "no global window allowed")
  }

  test("epoch shard manifest is one per-shard exchange, no global rank") {
    val plan = executedPlan("q_corpus_shard_manifest")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "hash-mod sharding must not add shuffles beyond the per-shard window")
    assert(!plan.contains("SinglePartition"),
      "a total-order row_number would serialize the corpus through one task")
  }

  test("triangle counting is equi joins only; wedge join keyed on the pivot node") {
    val plan = executedPlan("q_triangle_copurchase")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "wedge enumeration and closure must both be node-keyed equi joins")
  }

  test("posting stats is two exchanges: (term,doc) tf agg, then term window+agg") {
    val plan = executedPlan("q_fts_posting_stats")
    // (term, doc) keeps the tf aggregation skew-safe (a hot term like
    // "the" spreads over doc hashes); only the k-bounded window pays
    // the term-keyed shuffle, and the stats agg reuses its partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      "tf agg on (term,doc) + ONE term-keyed exchange shared by the " +
        "top-k window and the stats agg")
  }

  test("semantic dedup is cell-local pairs + id-keyed verdict join, never BNLJ") {
    val plan = executedPlan("q_semantic_dedup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "pair candidates must come from the cell equi-join")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      "pair stats + verdict join only; the redundant pair-distinct " +
        "shuffle must stay gone")
  }
}
