package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryDef.dsum
import graft.runtime.Tables

/** Native OLAP operators not exercised elsewhere: session windows
  * (Catalyst `SessionWindow` — Spark's built-in gaps-and-islands) and
  * hierarchical ROLLUP grouping sets. Both are single-shuffle
  * aggregations at any scale: sessionization shuffles by user key,
  * rollup expands grouping sets inside the aggregate (partial
  * aggregation still applies), so neither adds a join or a second
  * exchange at 100 TB.
  */
object OlapQueries {

  val defs: Seq[QueryDef] = Seq(
    // Clickstream sessionization via the NATIVE session_window
    // operator (30-minute inactivity gap, per user). Semantics pinned
    // cross-engine (LayoutSpecs boundary test): Spark merges event
    // windows [ts, ts+gap) that overlap OR TOUCH, so an event landing
    // EXACTLY gap after the previous one CONTINUES the session — the
    // oracle replays `diff > gap` gaps-and-islands on the same
    // micro-floored timestamps. Session bounds
    // are reported as min/max event time (window.start == min ts;
    // window.end pads the gap, so it is not emitted). total_value
    // folds in exact decimal (order-independent).
    QueryDef(
      "q_sessionize_events",
      (s, dir) => {
        val e = Tables(s, dir).events
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_event_types"),
            dsum(col("value")).as("total_value"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .select(
            col("user_id"),
            col("session_start"),
            col("session_end"),
            expr("(unix_micros(session_end) - unix_micros(session_start)) div 1000000")
              .as("duration_sec"),
            col("n_events"),
            col("n_event_types"),
            col("total_value"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, epoch_ns(ts) // 1000 AS us, event_type, value FROM events
        ),
        marked AS (
          SELECT *,
            CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_type)
                      > 1800000000 OR
                 LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_type) IS NULL
                 THEN 1 ELSE 0 END AS is_new
          FROM e
        ),
        sess AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM marked
        )
        SELECT user_id,
          make_timestamp(MIN(us)) AS session_start,
          make_timestamp(MAX(us)) AS session_end,
          (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
          COUNT(*) AS n_events,
          CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM sess
        GROUP BY user_id, session_idx
      """)
    ),
    // Concurrent-session pairs across users via the grid-bucketed
    // interval overlap join ([[graft.operators.JoinOps
    // .intervalOverlapPairs]]): sessions from the native session
    // window, 10-minute grid cells, exact inclusive-overlap verify.
    // The naive form of this predicate is a BroadcastNestedLoopJoin;
    // the grid keeps it a hash equi-join at any scale.
    QueryDef(
      "q_session_overlap_pairs",
      (s, dir) => {
        val sess = Tables(s, dir).events
          .select(col("user_id"), col("ts"))
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
          .select(
            concat_ws(":", col("user_id"), unix_micros(col("st"))).as("sid"),
            unix_micros(col("st")).as("st_us"),
            unix_micros(col("en")).as("en_us"))
        graft.operators.JoinOps
          .intervalOverlapPairs(sess, "sid", "st_us", "en_us", bucketWidth = 600000000L)
          .select(col("id_a"), col("id_b"), col("overlap_start"),
            expr("(overlap_end - overlap_start) div 1000000").as("overlap_sec"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
        ),
        marked AS (
          SELECT *,
            CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                      > 1800000000 OR
                 LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                 THEN 1 ELSE 0 END AS is_new
          FROM e
        ),
        sess AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
          FROM marked
        ),
        agg AS (
          SELECT user_id, si, MIN(us) AS st, MAX(us) AS en
          FROM sess GROUP BY user_id, si
        ),
        ids AS (
          SELECT CAST(user_id AS VARCHAR) || ':' || CAST(st AS VARCHAR) AS sid, st, en
          FROM agg
        )
        SELECT a.sid AS id_a, b.sid AS id_b,
          GREATEST(a.st, b.st) AS overlap_start,
          (LEAST(a.en, b.en) - GREATEST(a.st, b.st)) // 1000000 AS overlap_sec
        FROM ids a JOIN ids b
          ON a.sid < b.sid AND a.st <= b.en AND b.st <= a.en
      """)
    ),
    // Hierarchical revenue rollup region -> nation -> grand total via
    // ROLLUP grouping sets with grouping_id. Dims broadcast onto the
    // orders->customer shuffle join; the grouping-set expansion rides
    // the single aggregation (partial agg applies per set).
    QueryDef(
      "q_rollup_region_nation",
      (s, dir) => {
        val t = Tables(s, dir)
        val joined = t.orders
          .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
        joined
          .rollup(col("r_name"), col("n_name"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
          .select(col("r_name").as("region_name"), col("n_name").as("nation_name"),
            col("gid"), col("n_orders"), col("revenue"))
      },
      Some("""
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
          CAST(GROUPING(r.r_name, n.n_name) AS BIGINT) AS gid,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r.r_name, n.n_name)
      """)
    ),
    // Native CUBE grouping sets (completes the rollup/cube/grouping-
    // sets family): all four aggregation levels of (returnflag,
    // linestatus) in ONE pass — Spark expands the cube map-side, so
    // the shuffle carries each level's partial aggregates, never 4x
    // the fact rows. grouping_id disambiguates rolled-up NULLs.
    QueryDef(
      "q_cube_flag_status",
      (s, dir) =>
        Tables(s, dir).lineitem
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
            col("n_rows"), col("sum_qty"), col("sum_price")),
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
      """)
    ),
    // Explicit GROUPING SETS (the third member of the rollup/cube
    // family): a mixed set skipping the nation-only level — via
    // spark.sql, the idiomatic route (the DataFrame API exposes only
    // rollup/cube). Per-column grouping() flags instead of the packed
    // id keep the oracle engine-neutral.
    QueryDef(
      "q_grouping_sets_mixed",
      (s, dir) => {
        val t = Tables(s, dir)
        t.orders
          .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), col("o_totalprice"))
          .createOrReplaceTempView("gs_base")
        s.sql("""
          SELECT r_name AS region_name, n_name AS nation_name,
            CAST(grouping(r_name) AS BIGINT) AS g_region,
            CAST(grouping(n_name) AS BIGINT) AS g_nation,
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          FROM gs_base
          GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """)
      },
      Some("""
        WITH gs_base AS (
          SELECT r.r_name, n.n_name, o.o_totalprice
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        )
        SELECT r_name AS region_name, n_name AS nation_name,
          CAST(GROUPING(r_name) AS BIGINT) AS g_region,
          CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM gs_base
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      """)
    ),
    // Wide -> long reshape via the NATIVE DataFrame.unpivot (Catalyst
    // Expand — the melt half of the pivot/unpivot pair; pivot's
    // MAX(CASE) form is covered by q_conditional_pivot_status). The
    // Expand multiplies rows AFTER the aggregation, so the reshape
    // cost is metric-count x group-count, independent of fact size.
    QueryDef(
      "q_unpivot_metrics",
      (s, dir) => {
        val wide = Tables(s, dir).lineitem
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"),
            dsum(col("l_discount")).as("sum_disc"))
        wide.unpivot(
          Array(col("l_returnflag"), col("l_linestatus")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "metric", "value")
      },
      Some("""
        WITH w AS (
          SELECT l_returnflag, l_linestatus,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
          FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM w
        UNION ALL
        SELECT l_returnflag, l_linestatus, 'sum_price', sum_price FROM w
        UNION ALL
        SELECT l_returnflag, l_linestatus, 'sum_disc', sum_disc FROM w
      """)
    ),
    // Z-order layout audit ([[graft.operators.LayoutOps]]): Morton-
    // interleave (customer, order-day) into 64 equal-width z bins and
    // report the per-bin min/max spans a reader's file pruning would
    // see — the write-side data-clustering half of predicate pushdown.
    // All exact integer math (fixed-point ranks, bit interleave,
    // floor-div binning), so the oracle replays it to the last bit.
    QueryDef(
      "q_zorder_layout_audit",
      (s, dir) => {
        import graft.functions.GraftFunctions.epochDay
        val base = Tables(s, dir).orders
          .select(col("o_custkey"), epochDay(col("o_orderdate")).as("order_day"))
        graft.operators.LayoutOps.zorderAudit(base, "o_custkey", "order_day", 64)
      },
      Some {
        def rank(x: String, lo: String, hi: String) =
          s"CASE WHEN $hi > $lo THEN (($x - $lo) * 65535) // ($hi - $lo) ELSE 0 END"
        val inter = (0 until 16).map { i =>
          s"((ra >> $i) & 1) * ${1L << (2 * i + 1)} + ((rb >> $i) & 1) * ${1L << (2 * i)}"
        }.mkString(" + ")
        s"""
        WITH src AS (
          SELECT CAST(o_custkey AS BIGINT) AS a,
            CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS b
          FROM orders
        ),
        bounds AS (
          SELECT MIN(a) AS amin, MAX(a) AS amax, MIN(b) AS bmin, MAX(b) AS bmax FROM src
        ),
        ranked AS (
          SELECT a, b,
            ${rank("a", "amin", "amax")} AS ra,
            ${rank("b", "bmin", "bmax")} AS rb
          FROM src, bounds
        ),
        z AS (SELECT a, b, CAST($inter AS BIGINT) AS zv FROM ranked)
        SELECT (zv * 64) // 4294967296 AS bucket,
          COUNT(*) AS n_rows,
          MIN(a) AS o_custkey_min, MAX(a) AS o_custkey_max,
          MIN(b) AS order_day_min, MAX(b) AS order_day_max,
          MIN(zv) AS z_min, MAX(zv) AS z_max
        FROM z GROUP BY 1
      """
      }
    ),
    // Native relational PIVOT: Spark's groupBy().pivot(col, values)
    // — with the value list supplied explicitly so the plan is a
    // single partial-aggregated pass (omitting it adds a distinct-
    // values collect job before planning; never do that at 100 TB).
    // Complements the MAX(CASE) hand-pivot (q_conditional_pivot_
    // status) and the unpivot/melt reshape (q_unpivot_metrics).
    QueryDef(
      "q_pivot_native",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        li.select(col("l_returnflag").as("flag"), col("l_linestatus"),
            col("l_quantity").cast(DecimalType(18, 0)).as("q"))
          .groupBy(col("flag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(col("q")).cast("long"))
          .select(col("flag"),
            coalesce(col("F"), lit(0L)).as("qty_f"),
            coalesce(col("O"), lit(0L)).as("qty_o"))
      },
      Some("""
        SELECT l_returnflag AS flag,
          CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
            THEN CAST(l_quantity AS DECIMAL(18,0)) END), 0) AS BIGINT) AS qty_f,
          CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
            THEN CAST(l_quantity AS DECIMAL(18,0)) END), 0) AS BIGINT) AS qty_o
        FROM lineitem GROUP BY 1
      """)
    )
  )
}
