package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runtime.Tables
import graft.queries.QueryDef.{davg, dsum, r4}

/** Core relational surface (SURVEY.md §2.B scalar fns, §2.C joins,
  * §2.D aggregations, §2.G set ops) expressed over the TPC-H-ish
  * testdata corpus.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // §2.D group-by stats over the fact table (reference market summary
    // shape: 21 aggregates per group — calculate_market_summary.sql:96-132)
    QueryDef(
      "q_agg_pricing_summary",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        li.filter(col("l_shipdate") <= to_date(lit("2001-09-01")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            r4(dsum(col("l_quantity"))).as("sum_qty"),
            r4(dsum(col("l_extendedprice"))).as("sum_base_price"),
            r4(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
            r4(davg(col("l_quantity"))).as("avg_qty"),
            r4(davg(col("l_extendedprice"))).as("avg_price"),
            r4(davg(col("l_discount"))).as("avg_disc"),
            count(lit(1)).as("count_order")
          )
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS sum_qty,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS sum_base_price,
          ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS sum_disc_price,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity), 4) + 0.0 AS avg_qty,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice), 4) + 0.0 AS avg_price,
          ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount), 4) + 0.0 AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
      """)
    ),
    // §2.B filter + projection pushdown (Q6 shape: predicate reaches the scan)
    QueryDef(
      "q_filter_project_revenue",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        li.filter(
          col("l_shipdate") >= to_date(lit("1996-01-01")) &&
            col("l_shipdate") < to_date(lit("1997-01-01")) &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24
        ).agg(
          r4(dsum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_rows")
        )
      },
      Some("""
        SELECT
          ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS revenue,
          COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
      """)
    ),
    // §2.C multi-hop equi joins with broadcast dims (star enrichment)
    QueryDef(
      "q_join_star_region_revenue",
      (s, dir) => {
        val t = Tables(s, dir)
        t.lineitem
          .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            r4(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
            count(lit(1)).as("n_items")
          )
      },
      Some("""
        SELECT r_name, n_name,
          ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
      """)
    ),
    // §2.C date-aligned join + §2.D conditional aggregation
    QueryDef(
      "q_join_segment_orders",
      (s, dir) => {
        val t = Tables(s, dir)
        t.orders
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_orders"),
            r4(dsum(col("o_totalprice"))).as("total_value"),
            sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("n_urgent"),
            r4(davg(col("o_totalprice"))).as("avg_value")
          )
      },
      Some("""
        SELECT c_mktsegment,
          COUNT(*) AS n_orders,
          ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_value,
          CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
          ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(o_totalprice), 4) + 0.0 AS avg_value
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
      """)
    ),
    // §2.C anti join (NOT EXISTS) — customers with no orders in 2001
    QueryDef(
      "q_anti_join_idle_customers",
      (s, dir) => {
        val t = Tables(s, dir)
        t.customer
          .join(
            t.orders.filter(col("o_orderdate") >= to_date(lit("2001-01-01"))),
            col("c_custkey") === col("o_custkey"),
            "left_anti"
          )
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_idle_customers"), r4(dsum(col("c_acctbal"))).as("idle_acctbal"))
      },
      Some("""
        SELECT n_name, COUNT(*) AS n_idle_customers,
          ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS idle_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY n_name
      """)
    ),
    // §2.C semi join (EXISTS/IN)
    QueryDef(
      "q_semi_join_urgent_customers",
      (s, dir) => {
        val t = Tables(s, dir)
        t.customer
          .join(
            t.orders.filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"),
            "left_semi"
          )
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
      """)
    ),
    // §2.D pivot via MAX/SUM(CASE WHEN) — deterministic column set
    // (economic_regime_classification.sql:15-27 idiom)
    QueryDef(
      "q_conditional_pivot_status",
      (s, dir) => {
        val o = Tables(s, dir).orders
        o.groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
          .agg(
            sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
            sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
            sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
            r4(dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))))
              .as("value_f"),
            count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("n_high_priority")
          )
      },
      Some("""
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
          CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
          CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
          ROUND(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS value_f,
          COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS n_high_priority
        FROM orders
        GROUP BY 1
      """)
    ),
    // §2.D COUNT(DISTINCT) + HAVING
    QueryDef(
      "q_count_distinct_having",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        li.groupBy(col("l_partkey"))
          .agg(
            countDistinct(col("l_suppkey")).as("n_suppliers"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            r4(dsum(col("l_quantity"))).as("total_qty")
          )
          .filter(col("n_suppliers") >= 3 && col("n_orders") >= 10)
      },
      Some("""
        SELECT l_partkey,
          COUNT(DISTINCT l_suppkey) AS n_suppliers,
          COUNT(DISTINCT l_orderkey) AS n_orders,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_qty
        FROM lineitem
        GROUP BY l_partkey
        HAVING COUNT(DISTINCT l_suppkey) >= 3 AND COUNT(DISTINCT l_orderkey) >= 10
      """)
    ),
    // §2.D "latest value per group" via max_by (ARRAY_AGG ORDER BY LIMIT 1
    // idiom — calculate_market_summary.sql:99-102); o_orderkey is unique
    // so the choice is deterministic.
    QueryDef(
      "q_latest_order_per_customer",
      (s, dir) => {
        val o = Tables(s, dir).orders
        o.groupBy(col("o_custkey"))
          .agg(
            max_by(col("o_totalprice"), col("o_orderkey")).as("latest_price"),
            max(col("o_orderkey")).as("latest_orderkey"),
            max(to_date(col("o_orderdate"))).as("last_order_date"),
            count(lit(1)).as("n_orders")
          )
          .withColumn("latest_price", r4(col("latest_price")))
      },
      Some("""
        SELECT o_custkey,
          ROUND(MAX_BY(o_totalprice, o_orderkey), 4) + 0.0 AS latest_price,
          MAX(o_orderkey) AS latest_orderkey,
          MAX(CAST(o_orderdate AS DATE)) AS last_order_date,
          COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
      """)
    ),
    // §2.D exact percentiles (APPROX_QUANTILES → exact for oracle parity)
    QueryDef(
      "q_percentile_priority",
      (s, dir) => {
        val o = Tables(s, dir).orders
        o.groupBy(col("o_orderpriority"))
          .agg(
            r4(expr("percentile(o_totalprice, 0.5)")).as("median_price"),
            r4(expr("percentile(o_totalprice, 0.9)")).as("p90_price"),
            r4(min(col("o_totalprice"))).as("min_price"),
            r4(max(col("o_totalprice"))).as("max_price")
          )
      },
      Some("""
        SELECT o_orderpriority,
          ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) + 0.0 AS median_price,
          ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) + 0.0 AS p90_price,
          ROUND(MIN(o_totalprice), 4) + 0.0 AS min_price,
          ROUND(MAX(o_totalprice), 4) + 0.0 AS max_price
        FROM orders
        GROUP BY o_orderpriority
      """)
    ),
    // §2.D CORR / STDDEV_SAMP aggregates
    QueryDef(
      "q_corr_stats_by_flag",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        li.groupBy(col("l_returnflag"))
          .agg(
            r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
            r4(stddev_samp(col("l_quantity"))).as("stddev_qty"),
            r4(stddev_samp(col("l_extendedprice"))).as("stddev_price"),
            count(lit(1)).as("n_rows")
          )
      },
      Some("""
        SELECT l_returnflag,
          ROUND(CORR(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
          ROUND(STDDEV_SAMP(l_quantity), 4) + 0.0 AS stddev_qty,
          ROUND(STDDEV_SAMP(l_extendedprice), 4) + 0.0 AS stddev_price,
          COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
      """)
    ),
    // §2.D ordered STRING_AGG (ticker_sector_sensitivity.sql:89-90 idiom)
    QueryDef(
      "q_string_agg_nations",
      (s, dir) => {
        val t = Tables(s, dir)
        t.nation
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
            count(lit(1)).as("n_nations")
          )
      },
      Some("""
        SELECT r_name,
          STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
          COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
      """)
    ),
    // §2.G heterogeneous-branch UNION ALL with NULL padding
    // (leading_econ_return_indicator.sql:156-199 idiom)
    QueryDef(
      "q_union_padded_activity",
      (s, dir) => {
        val t = Tables(s, dir)
        val ordersSide = t.orders.select(
          lit("order").as("activity_type"),
          to_date(col("o_orderdate")).as("activity_date"),
          col("o_totalprice").as("amount"),
          col("o_orderpriority").as("detail")
        )
        val eventsSide = t.events.select(
          lit("event").as("activity_type"),
          to_date(col("ts")).as("activity_date"),
          col("value").as("amount"),
          col("event_type").as("detail")
        )
        ordersSide
          .unionByName(eventsSide)
          .groupBy(col("activity_type"), col("detail"))
          .agg(
            count(lit(1)).as("n"),
            r4(dsum(col("amount"))).as("total_amount"),
            min(col("activity_date")).as("first_date"),
            max(col("activity_date")).as("last_date")
          )
      },
      Some("""
        WITH unioned AS (
          SELECT 'order' AS activity_type, CAST(o_orderdate AS DATE) AS activity_date,
                 o_totalprice AS amount, o_orderpriority AS detail FROM orders
          UNION ALL
          SELECT 'event', CAST(ts AS DATE), value, event_type FROM events
        )
        SELECT activity_type, detail, COUNT(*) AS n,
          ROUND(CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_amount,
          MIN(activity_date) AS first_date,
          MAX(activity_date) AS last_date
        FROM unioned
        GROUP BY activity_type, detail
      """)
    ),
    // §2.B scalar-function suite: mortgage amortization math
    // (housing_mortgage_rates.sql:40-53), quarter-string parsing
    // (government/housing_inventory.sql:12-24), regex validation,
    // sign/ln/sqrt/greatest census
    QueryDef(
      "q_scalar_function_suite",
      (s, dir) => {
        val o = Tables(s, dir).orders
        val p    = col("o_totalprice")
        val rate = lit(3.0) + (col("o_orderkey") % 5).cast("double")
        val m    = rate / 12.0 / 100.0
        val pow360 = pow(lit(1.0) + m, 360.0)
        val qstr = concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
          quarter(col("o_orderdate")).cast("string"))
        val qStart = to_date(concat(
          substring(qstr, 1, 4),
          when(substring(qstr, 6, 2) === "Q1", "-01-01")
            .when(substring(qstr, 6, 2) === "Q2", "-04-01")
            .when(substring(qstr, 6, 2) === "Q3", "-07-01")
            .otherwise("-10-01")
        ))
        o.select(
          col("o_orderkey"),
          r4(p * (m * pow360) / (pow360 - 1.0)).as("monthly_payment"),
          qstr.as("quarter_str"),
          qStart.as("quarter_start"),
          col("o_orderpriority").rlike("^[0-9]-[A-Z]+$").as("priority_valid"),
          signum(p - 100000.0).as("sign_vs_100k"),
          r4(log(p)).as("ln_price"),
          r4(sqrt(p)).as("sqrt_price"),
          r4(greatest(log(p), rate)).as("greatest_val")
        )
      },
      Some("""
        SELECT o_orderkey,
          ROUND(o_totalprice * ((3.0 + CAST(o_orderkey % 5 AS DOUBLE)) / 12.0 / 100.0
                * POW(1.0 + (3.0 + CAST(o_orderkey % 5 AS DOUBLE)) / 12.0 / 100.0, 360.0))
              / (POW(1.0 + (3.0 + CAST(o_orderkey % 5 AS DOUBLE)) / 12.0 / 100.0, 360.0) - 1.0), 4)
            AS monthly_payment,
          CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) || '-Q' ||
            CAST(EXTRACT(QUARTER FROM o_orderdate) AS VARCHAR) AS quarter_str,
          CAST(CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) ||
            (CASE EXTRACT(QUARTER FROM o_orderdate) WHEN 1 THEN '-01-01' WHEN 2 THEN '-04-01'
                  WHEN 3 THEN '-07-01' ELSE '-10-01' END) AS DATE) AS quarter_start,
          regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$') AS priority_valid,
          CASE WHEN o_totalprice - 100000.0 > 0 THEN 1.0
               WHEN o_totalprice - 100000.0 < 0 THEN -1.0 ELSE 0.0 END AS sign_vs_100k,
          ROUND(LN(o_totalprice), 4) + 0.0 AS ln_price,
          ROUND(SQRT(o_totalprice), 4) + 0.0 AS sqrt_price,
          ROUND(GREATEST(LN(o_totalprice), 3.0 + CAST(o_orderkey % 5 AS DOUBLE)), 4) + 0.0 AS greatest_val
        FROM orders
      """)
    ),
    // §2.C cross join of scalar boundaries + period-bucket stats
    // (calculate_market_summary.sql:32-132 shape, anchored to max date)
    QueryDef(
      "q_period_bucket_summary",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        import s.implicits._
        val periods = Seq(("1m", 30), ("3m", 90), ("1y", 365)).toDF("period", "days")
        val anchor  = li.agg(max(to_date(col("l_shipdate"))).as("anchor"))
        li.select(to_date(col("l_shipdate")).as("ship_date"), col("l_extendedprice"), col("l_quantity"))
          .crossJoin(broadcast(anchor))
          .crossJoin(broadcast(periods))
          .filter(col("ship_date") > date_sub(date_sub(col("anchor"), 1), col("days")))
          .groupBy(col("period"))
          .agg(
            count(lit(1)).as("n_rows"),
            r4(dsum(col("l_extendedprice"))).as("total_price"),
            r4(davg(col("l_quantity"))).as("avg_qty"),
            min(col("ship_date")).as("first_day"),
            max(col("ship_date")).as("last_day")
          )
      },
      Some("""
        WITH anchor AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS anchor FROM lineitem),
        periods AS (SELECT * FROM (VALUES ('1m', 30), ('3m', 90), ('1y', 365)) AS t(period, days))
        SELECT period, COUNT(*) AS n_rows,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_price,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity), 4) + 0.0 AS avg_qty,
          MIN(CAST(l_shipdate AS DATE)) AS first_day,
          MAX(CAST(l_shipdate AS DATE)) AS last_day
        FROM lineitem, anchor, periods
        WHERE CAST(l_shipdate AS DATE) > anchor - 1 - days
        GROUP BY period
      """)
    )
  )
}
