package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{JoinOps, SkewOps}
import graft.queries.QueryDef.{r4, rsnap}
import graft.runtime.Tables

/** Scale-mechanism joins and sketch rollups added in round 7:
  * generalized as-of join (union-spine, single shuffle), bloom-pruned
  * star join (pre-shuffle fact pruning), and a DataSketches-HLL
  * distinct rollup graded by a verified error envelope (the library
  * counterpart of the byte-stable KMV sketch in SketchQueries — HLL's
  * estimate is implementation-defined, so like percentile_approx it
  * is gated on the GUARANTEE, not the raw estimate).
  */
object ScaleJoinQueries {

  /** ±2 h attribution tolerance, in microseconds. */
  private val TolUs = 2L * 3600 * 1000000

  val defs: Seq[QueryDef] = Seq(
    // As-of purchase attribution: for every purchase event, the most
    // recent prior 'view' of the same user within 2h (backward), the
    // next 'view' within 2h (forward), and the nearest of the two
    // (pandas merge_asof tie rule: backward wins). Spark side is
    // JoinOps.asofJoin — ONE shuffle of purchases+views on user_id,
    // two ordered window passes, no join, no band fan-out; the oracle
    // replays the semantics as banded joins + QUALIFY row_number.
    QueryDef(
      "q_asof_purchase_attribution",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
        val j = JoinOps.asofJoin(
          purchases, views, Seq("user_id"), "ts", "ts",
          rTieCol = "view_id", payload = Seq("view_id"), toleranceUs = TolUs)
        j.select(
          col("purchase_id"), col("user_id"),
          col("bw_view_id"), col("bw_delta_us"),
          col("fw_view_id"), col("fw_delta_us"),
          when(col("bw_delta_us").isNotNull &&
            (col("fw_delta_us").isNull || col("bw_delta_us") <= col("fw_delta_us")),
            col("bw_view_id"))
            .otherwise(col("fw_view_id")).as("nearest_view_id"))
      },
      Some(s"""
        WITH p AS (
          SELECT event_id AS purchase_id, user_id, ts FROM events
          WHERE event_type = 'purchase'
        ),
        v AS (
          SELECT event_id AS view_id, user_id, ts FROM events
          WHERE event_type = 'view'
        ),
        bw AS (
          SELECT p.purchase_id, v.view_id,
            epoch_us(p.ts) - epoch_us(v.ts) AS delta_us
          FROM p JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
            AND epoch_us(p.ts) - epoch_us(v.ts) <= $TolUs
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY p.purchase_id ORDER BY v.ts DESC, v.view_id DESC) = 1
        ),
        fw AS (
          SELECT p.purchase_id, v.view_id,
            epoch_us(v.ts) - epoch_us(p.ts) AS delta_us
          FROM p JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
            AND epoch_us(v.ts) - epoch_us(p.ts) <= $TolUs
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY p.purchase_id ORDER BY v.ts ASC, v.view_id ASC) = 1
        )
        SELECT p.purchase_id, p.user_id,
          bw.view_id AS bw_view_id, bw.delta_us AS bw_delta_us,
          fw.view_id AS fw_view_id, fw.delta_us AS fw_delta_us,
          CASE WHEN bw.delta_us IS NOT NULL
                AND (fw.delta_us IS NULL OR bw.delta_us <= fw.delta_us)
               THEN bw.view_id ELSE fw.view_id END AS nearest_view_id
        FROM p
        LEFT JOIN bw ON p.purchase_id = bw.purchase_id
        LEFT JOIN fw ON p.purchase_id = fw.purchase_id
      """)
    ),
    // Bloom-pruned star join: orders rows are dropped BEFORE the
    // shuffle by a broadcast Bloom filter built from the filtered
    // customer dim (SkewOps.bloomPrunedJoin); the closing exact join
    // clears false positives so the aggregate is bit-identical to the
    // plain join the oracle runs. The pruning effect itself (rows cut
    // pre-shuffle, fpp bound) is asserted in ScaleSpecs.
    QueryDef(
      "q_bloom_pruned_join",
      (s, dir) => {
        val t   = Tables(s, dir)
        val dim = t.customer
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val joined = SkewOps.bloomPrunedJoin(
          t.orders, dim, "o_custkey", "c_custkey",
          expectedDimKeys = 4096L, fpp = 0.01)
        joined.groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            QueryDef.dsum(col("o_totalprice")).as("tp"))
          .select(col("o_orderpriority"), col("n_orders"), col("n_customers"),
            r4(col("tp")).as("total_price"))
      },
      Some("""
        SELECT o_orderpriority,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
          ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0
            AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority
      """)
    ),
    // DataSketches HLL distinct rollup: monthly hll_sketch_agg
    // sketches of ordering customers union-merged to years (raw keys
    // shuffled once, every coarser answer derived from the bounded
    // sketches — the same posture as q_kmv_distinct_rollup, but with
    // Spark's production HLL). The estimate is implementation-defined,
    // so the driver-hash-gated output is (a) the exact distinct both
    // engines recompute independently and (b) a boolean asserting the
    // estimate landed inside the 3-sigma relative-standard-error
    // envelope for lgK=12 (1.04/sqrt(2^12) = 1.63% per sigma -> 4.9%;
    // gate uses 5%). A Spark upgrade that broke sketch merging would
    // flip (b) and go red; the oracle expects TRUE unconditionally.
    QueryDef(
      "q_hll_distinct_rollup",
      (s, dir) => {
        val orders = Tables(s, dir).orders
        val monthly = orders
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"))
        val yearly = monthly
          .groupBy(year(col("m")).cast("long").as("order_year"))
          .agg(
            hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
              .as("est"),
            count(lit(1)).as("n_months"))
        val exact = orders
          .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
          .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        yearly.join(exact, Seq("order_year"))
          .select(
            col("order_year"), col("n_months"), col("exact_distinct"),
            (abs(col("est").cast("double") - col("exact_distinct").cast("double"))
              <= col("exact_distinct").cast("double") * 0.05).as("est_within_bound"))
      },
      Some("""
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
          CAST(COUNT(DISTINCT DATE_TRUNC('month', o_orderdate)) AS BIGINT) AS n_months,
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
          TRUE AS est_within_bound
        FROM orders
        GROUP BY 1
      """)
    ),
    // Typed-Aggregator top-k (functions/TopKAggregator.scala): top-5
    // lineitem rows by exact price-micros per return flag, computed
    // with a k-bounded mergeable buffer instead of a per-group full
    // sort — map-side combine ships <= k pairs per group per task.
    // Scores are exact DECIMAL-derived micros longs so the cut is
    // bit-deterministic under any merge order; the oracle replays it
    // as the window form the aggregator replaces.
    QueryDef(
      "q_topk_aggregator",
      (s, dir) => {
        val li = Tables(s, dir).lineitem.select(
          col("l_returnflag").as("grp"),
          (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
            .cast("long").as("score"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
        li.groupBy(col("grp"))
          .agg(graft.functions.TopKAggregator.topK(5, col("score"), col("id")).as("top"))
          .select(col("grp"), posexplode(arrays_zip(col("top.scores"), col("top.ids"))))
          .select(
            col("grp"), (col("pos") + 1).cast("long").as("rank"),
            col("col.ids").as("row_id"), col("col.scores").as("price_micros"))
      },
      Some("""
        WITH li AS (
          SELECT l_returnflag AS grp,
            CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS score,
            l_orderkey * 10 + l_linenumber AS id
          FROM lineitem
        )
        SELECT grp, CAST(rk AS BIGINT) AS rank, id AS row_id, score AS price_micros
        FROM (
          SELECT grp, score, id,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, id ASC) AS rk
          FROM li
        )
        WHERE rk <= 5
      """)
    )
  )
}
