package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators.{JoinOps, TimeSeriesOps}
import graft.runtime.Tables
import graft.queries.QueryDef.{dsum, r4}

/** Time-series surface (SURVEY.md §2.C lookback joins, §2.H spines /
  * interpolation / grain, §2.K expanding percentile rank).
  */
object TimeSeriesQueries {

  private def series(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"), to_date(col("l_shipdate")).as("d"))
      .agg(
        r4(dsum(col("l_extendedprice"))).as("v"),
        r4(dsum(col("l_quantity"))).as("q")
      )

  private val seriesSql = """
    series AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v,
             ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS q
      FROM lineitem GROUP BY 1, 2
    )"""

  val defs: Seq[QueryDef] = Seq(
    // Date spine + gap coverage per month (time_spine_daily.sql:3-10 +
    // completeness checks, markets/checks.py:45-85)
    QueryDef(
      "q_date_spine_coverage",
      (s, dir) => {
        val a = series(s, dir).filter(col("flag") === "A")
        val spine = TimeSeriesOps
          .keyedDateSpine(a.withColumn("k", lit(1)), Seq("k"), "d")
          .drop("k")
        spine
          .join(a.select(col("d"), col("v")), Seq("d"), "left")
          .groupBy(date_trunc("month", col("d")).cast("date").as("month"))
          .agg(
            count(lit(1)).as("n_days"),
            count(when(col("v").isNull, 1)).as("n_missing"),
            r4(dsum(col("v"))).as("month_revenue")
          )
      },
      Some(s"""
        WITH $seriesSql,
        a AS (SELECT d, v FROM series WHERE flag = 'A'),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM a),
        spine AS (SELECT CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds)
        SELECT CAST(DATE_TRUNC('month', spine.d) AS DATE) AS month,
          COUNT(*) AS n_days,
          COUNT(CASE WHEN a.v IS NULL THEN 1 END) AS n_missing,
          ROUND(CAST(SUM(CAST(a.v AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS month_revenue
        FROM spine LEFT JOIN a ON spine.d = a.d
        GROUP BY 1
      """)
    ),
    // Reference-faithful single-neighbor gap interpolation
    // (fred_monthly_diff.sql:56-105)
    QueryDef(
      "q_gap_fill_interpolate",
      (s, dir) => {
        val actuals = series(s, dir).filter(col("q") > 220).select(col("flag"), col("d"), col("v"))
        val spine   = TimeSeriesOps.keyedDateSpine(actuals, Seq("flag"), "d")
        TimeSeriesOps
          .gapFillInterpolate(spine, actuals, Seq("flag"), "d", "v")
          .select(
            col("flag"), col("d"), col("v"),
            r4(col("imputed_value")).as("imputed_value"),
            col("data_source")
          )
      },
      Some(s"""
        WITH $seriesSql,
        actuals AS (SELECT flag, d, v FROM series WHERE q > 220),
        bounds AS (SELECT flag, MIN(d) AS lo, MAX(d) AS hi FROM actuals GROUP BY flag),
        spine AS (SELECT flag, CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
        joined AS (
          SELECT spine.flag, spine.d, actuals.v,
            LAG(actuals.v) OVER (PARTITION BY spine.flag ORDER BY spine.d) AS pv,
            LEAD(actuals.v) OVER (PARTITION BY spine.flag ORDER BY spine.d) AS nv
          FROM spine LEFT JOIN actuals ON spine.flag = actuals.flag AND spine.d = actuals.d
        )
        SELECT flag, d, v,
          ROUND(CASE WHEN v IS NOT NULL THEN v
               WHEN pv IS NOT NULL AND nv IS NOT NULL THEN (pv + nv) / 2.0
               WHEN pv IS NOT NULL THEN pv
               WHEN nv IS NOT NULL THEN nv END, 4) + 0.0 AS imputed_value,
          CASE WHEN v IS NOT NULL THEN 'Actual'
               WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'Interpolated'
               WHEN pv IS NOT NULL THEN 'Forward Filled'
               WHEN nv IS NOT NULL THEN 'Backward Filled'
               ELSE 'Missing' END AS data_source
        FROM joined
      """)
    ),
    // Grain auto-classification ladder (fred_series_grain.sql:26-44)
    QueryDef(
      "q_grain_classify",
      (s, dir) => {
        val li     = Tables(s, dir).lineitem
        val anchor = li.agg(max(to_date(col("l_shipdate"))).as("anchor"))
        li.select(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
          .crossJoin(broadcast(anchor))
          .filter(col("d") > date_sub(col("anchor"), 365))
          .groupBy(col("l_suppkey"))
          .agg(countDistinct(col("d")).as("n_obs_1y"))
          .select(
            col("l_suppkey"),
            col("n_obs_1y"),
            TimeSeriesOps.classifyGrain(col("n_obs_1y")).as("grain")
          )
      },
      Some("""
        WITH anchor AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS anchor FROM lineitem)
        SELECT l_suppkey, COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS n_obs_1y,
          CASE WHEN COUNT(DISTINCT CAST(l_shipdate AS DATE)) >= 200 THEN 'Daily'
               WHEN COUNT(DISTINCT CAST(l_shipdate AS DATE)) >= 50 THEN 'Weekly'
               WHEN COUNT(DISTINCT CAST(l_shipdate AS DATE)) >= 9 THEN 'Monthly'
               WHEN COUNT(DISTINCT CAST(l_shipdate AS DATE)) >= 2 THEN 'Quarterly'
               ELSE 'Annually' END AS grain
        FROM lineitem, anchor
        WHERE CAST(l_shipdate AS DATE) > anchor - 365
        GROUP BY l_suppkey
      """)
    ),
    // Exact-offset calendar lookback self-join — NULL when that exact
    // date is missing (calculate_market_analysis_return.sql:56-76)
    QueryDef(
      "q_asof_exact_lookback",
      (s, dir) => {
        val base = series(s, dir).select(col("flag"), col("d"), col("v"))
        JoinOps
          .lookbackExact(base, Seq("flag"), "d", "v", Seq(30, 90, 365))
          .select(
            col("flag"), col("d"), col("v"),
            col("v_30d_ago"), col("v_90d_ago"), col("v_365d_ago"),
            r4(safeDivide(col("v") - col("v_30d_ago"), col("v_30d_ago"))).as("ret_30d"),
            r4(safeDivide(col("v") - col("v_365d_ago"), col("v_365d_ago"))).as("ret_365d")
          )
      },
      Some(s"""
        WITH $seriesSql
        SELECT s.flag, s.d, s.v,
          p30.v AS v_30d_ago, p90.v AS v_90d_ago, p365.v AS v_365d_ago,
          ROUND((s.v - p30.v) / NULLIF(p30.v, 0), 4) + 0.0 AS ret_30d,
          ROUND((s.v - p365.v) / NULLIF(p365.v, 0), 4) + 0.0 AS ret_365d
        FROM series s
        LEFT JOIN series p30 ON p30.flag = s.flag AND p30.d = s.d - 30
        LEFT JOIN series p90 ON p90.flag = s.flag AND p90.d = s.d - 90
        LEFT JOIN series p365 ON p365.flag = s.flag AND p365.d = s.d - 365
      """)
    ),
    // Banded ±k-day anti-join dedup (stg_corporate_actions.sql:178-205)
    QueryDef(
      "q_banded_anti_dedup",
      (s, dir) => {
        val ev = Tables(s, dir).events
          .select(
            col("event_id"), col("user_id"), col("event_type"),
            to_date(col("ts")).as("d"), col("value")
          )
        JoinOps
          .bandedAntiJoin(
            ev, Seq("user_id", "event_type"), "d", 2,
            col("r.value") > col("l.value") ||
              (col("r.value") === col("l.value") && col("r.event_id") < col("l.event_id"))
          )
          .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
            col("l.event_type").as("event_type"), col("l.d").as("d"),
            r4(col("l.value")).as("value"))
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS d, value FROM events
        )
        SELECT event_id, user_id, event_type, d, ROUND(value, 4) + 0.0 AS value
        FROM ev l
        WHERE NOT EXISTS (
          SELECT 1 FROM ev r
          WHERE r.user_id = l.user_id AND r.event_type = l.event_type
            AND ABS(DATE_DIFF('day', l.d, r.d)) <= 2
            AND (r.value > l.value OR (r.value = l.value AND r.event_id < l.event_id))
        )
      """)
    ),
    // Prior-row lookup per key (latest-before idiom via lag;
    // stg_corporate_actions.sql:71-82)
    QueryDef(
      "q_prior_order_lookup",
      (s, dir) => {
        val o = Tables(s, dir).orders
          .select(
            col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("d"), col("o_totalprice")
          )
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
        o.select(
          col("o_orderkey"), col("o_custkey"), col("d"),
          r4(col("o_totalprice")).as("o_totalprice"),
          lag(col("d"), 1).over(w).as("prev_order_date"),
          r4(lag(col("o_totalprice"), 1).over(w)).as("prev_totalprice"),
          datediff(col("d"), lag(col("d"), 1).over(w)).cast("long").as("days_since_prev")
        )
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
        )
        SELECT o_orderkey, o_custkey, d,
          ROUND(o_totalprice, 4) + 0.0 AS o_totalprice,
          LAG(d, 1) OVER w AS prev_order_date,
          ROUND(LAG(o_totalprice, 1) OVER w, 4) + 0.0 AS prev_totalprice,
          CAST(d - LAG(d, 1) OVER w AS BIGINT) AS days_since_prev
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
      """)
    ),
    // Last-of-month downsample + monthly stats (weekly-downsample /
    // last-of-month idioms, sector_breadth_timeseries.sql:104-115)
    QueryDef(
      "q_month_downsample",
      (s, dir) => {
        val monthly = series(s, dir)
          .groupBy(col("flag"), date_trunc("month", col("d")).cast("date").as("month"))
          .agg(
            max_by(col("v"), col("d")).as("v_last"),
            (sum(col("v").cast(DecimalType(18, 4))).cast("double") / count(lit(1)))
              .as("month_avg"),
            count(lit(1)).as("n_days")
          )
        monthly
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, CAST(DATE_TRUNC('month', d) AS DATE) AS month,
          MAX_BY(v, d) AS v_last,
          CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS month_avg,
          COUNT(*) AS n_days
        FROM series
        GROUP BY 1, 2
      """)
    ),
    // Expanding/trailing percentile rank
    // (credit_market_signals.sql:81-97; turbulence_index.py:124-130).
    // Window-range form, NOT a range self-join: the join amplifies every
    // row ×365 through a shuffle before re-aggregating — at 100 TB that
    // is the dominant cost. Here each row folds its trailing-365d value
    // array inside one per-key window sort (O(365) work per row, no
    // join, no row blowup); the oracle keeps the equivalent join form.
    QueryDef(
      "q_trailing_percentile_rank",
      (s, dir) => {
        val wr = Window.partitionBy(col("flag"))
          .orderBy(epochDay(col("d")))
          .rangeBetween(-364, 0)
        val arr = collect_list(col("v")).over(wr)
        series(s, dir)
          .select(col("flag"), col("d"), col("v"),
            (size(filter(arr, x => x <= col("v"))).cast("double") /
              size(arr)).as("pct_rank_1y"),
            size(arr).cast("long").as("n_hist"))
      },
      Some(s"""
        WITH $seriesSql
        SELECT s.flag, s.d, s.v,
          CAST(SUM(CASE WHEN h.v <= s.v THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pct_rank_1y,
          COUNT(*) AS n_hist
        FROM series s
        JOIN series h ON h.flag = s.flag AND h.d <= s.d AND h.d > s.d - 365
        GROUP BY s.flag, s.d, s.v
      """)
    )
  )
}
