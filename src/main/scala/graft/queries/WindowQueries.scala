package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators.{TimeSeriesOps, WindowOps}
import graft.runtime.Tables
import graft.queries.QueryDef.{dsum, r4}

/** Window-function surface (SURVEY.md §2.E — the reference's dominant
  * operator class): lag/lead, rolling ROWS frames, calendar RANGE
  * frames, cumulative/forward frames, QUALIFY dedup, ranking, windowed
  * CORR, rolling OLS, finite-window EWM and the sequential recursive
  * EMA.
  *
  * All queries run over a shared daily revenue series derived from
  * lineitem: (flag, d, v=sum(extendedprice), q=sum(quantity)) — the
  * exact shape of the reference's per-instrument OHLCV panels.
  */
object WindowQueries {

  /** Daily per-flag series; values rounded so both engines window over
    * bit-identical inputs. */
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

  private def flagWindow = Window.partitionBy(col("flag")).orderBy(col("d"))

  val defs: Seq[QueryDef] = Seq(
    // LAG/LEAD + pct change (ta_primitives.sql:42-57 idiom)
    QueryDef(
      "q_window_lag_returns",
      (s, dir) => {
        val w    = flagWindow
        val prev = lag(col("v"), 1).over(w)
        val next = lead(col("v"), 1).over(w)
        series(s, dir)
          .select(
            col("flag"), col("d"), col("v"),
            prev.as("prev_v"),
            next.as("next_v"),
            r4(safeDivide(col("v") - prev, prev)).as("pct_change"),
            r4(safeDivide(next - col("v"), col("v"))).as("fwd_return")
          )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v,
          LAG(v, 1) OVER w AS prev_v,
          LEAD(v, 1) OVER w AS next_v,
          ROUND((v - LAG(v, 1) OVER w) / NULLIF(LAG(v, 1) OVER w, 0), 4) + 0.0 AS pct_change,
          ROUND((LEAD(v, 1) OVER w - v) / NULLIF(v, 0), 4) + 0.0 AS fwd_return
        FROM series
        WINDOW w AS (PARTITION BY flag ORDER BY d)
      """)
    ),
    // Rolling ROWS frames incl. prior-exclusive Donchian frame
    // (ta_rolling / ta_rolling_prior, ta_primitives.sql:18-39)
    QueryDef(
      "q_window_rolling_stats",
      (s, dir) => {
        val w  = flagWindow
        val f7 = w.rowsBetween(-6, 0)
        val p7 = w.rowsBetween(-7, -1)
        val sma7 = sum(col("v").cast(DecimalType(18, 4))).over(f7).cast("double") /
          count(col("v")).over(f7)
        series(s, dir).select(
          col("flag"), col("d"), col("v"),
          sma7.as("sma7"),
          r4(stddev_samp(col("v")).over(f7)).as("std7"),
          r4(min(col("v")).over(f7)).as("min7"),
          r4(max(col("v")).over(f7)).as("max7"),
          count(col("v")).over(f7).as("n7"),
          r4(max(col("v")).over(p7)).as("donchian_high_prior7")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v,
          CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER f7 AS DOUBLE) / COUNT(v) OVER f7 AS sma7,
          ROUND(STDDEV_SAMP(v) OVER f7, 4) + 0.0 AS std7,
          ROUND(MIN(v) OVER f7, 4) + 0.0 AS min7,
          ROUND(MAX(v) OVER f7, 4) + 0.0 AS max7,
          COUNT(v) OVER f7 AS n7,
          ROUND(MAX(v) OVER p7, 4) + 0.0 AS donchian_high_prior7
        FROM series
        WINDOW f7 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               p7 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      """)
    ),
    // Calendar-day RANGE frame over day ordinal — gap-aware
    // (calculate_market_analysis_return.sql:89-197)
    QueryDef(
      "q_window_range_days",
      (s, dir) => {
        val w30 = Window
          .partitionBy(col("flag"))
          .orderBy(epochDay(col("d")))
          .rangeBetween(-30, 0)
        // Exact decimal window sum -> double is bit-identical across
        // engines; the IEEE division then matches without rounding.
        val decSum = sum(col("v").cast(DecimalType(18, 4))).over(w30).cast("double")
        val n      = count(col("v")).over(w30)
        series(s, dir).select(
          col("flag"), col("d"), col("v"),
          decSum.as("sum_30cd"),
          n.as("n_30cd"),
          (decSum / n).as("avg_30cd")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v,
          CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w30 AS DOUBLE) AS sum_30cd,
          COUNT(v) OVER w30 AS n_30cd,
          CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w30 AS DOUBLE) / COUNT(v) OVER w30 AS avg_30cd
        FROM series
        WINDOW w30 AS (PARTITION BY flag ORDER BY (d - DATE '1970-01-01')
                       RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      """)
    ),
    // Cumulative frame + conditional running extreme (OBV /
    // last-trigger state machine — technical_signal_events.sql:201-224)
    QueryDef(
      "q_window_cumulative_state",
      (s, dir) => {
        val cum = flagWindow.rowsBetween(Window.unboundedPreceding, 0)
        series(s, dir).select(
          col("flag"), col("d"), col("v"), col("q"),
          sum(col("v").cast(DecimalType(18, 4))).over(cum).cast("double").as("cum_v"),
          max(when(col("q") > 250, col("d"))).over(cum).as("last_high_vol_day"),
          count(when(col("q") > 250, lit(1))).over(cum).as("n_high_vol_days")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v, q,
          CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER cum AS DOUBLE) AS cum_v,
          MAX(CASE WHEN q > 250 THEN d END) OVER cum AS last_high_vol_day,
          COUNT(CASE WHEN q > 250 THEN 1 END) OVER cum AS n_high_vol_days
        FROM series
        WINDOW cum AS (PARTITION BY flag ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      """)
    ),
    // Forward-unbounded frame: cumulative FUTURE product via EXP(SUM(LN))
    // (stg_split_adjusted_prices.sql:59-68)
    QueryDef(
      "q_window_forward_product",
      (s, dir) => {
        val fut = flagWindow.rowsBetween(1, Window.unboundedFollowing)
        series(s, dir)
          .withColumn("factor", lit(1.0) + col("q") / 10000000.0)
          .select(
            col("flag"), col("d"),
            r4(col("factor")).as("factor"),
            r4(coalesce(exp(sum(log(col("factor"))).over(fut)), lit(1.0)))
              .as("future_cum_factor")
          )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d,
          ROUND(1.0 + q / 10000000.0, 4) + 0.0 AS factor,
          ROUND(COALESCE(EXP(SUM(LN(1.0 + q / 10000000.0))
            OVER (PARTITION BY flag ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)), 1.0), 4)
            AS future_cum_factor
        FROM series
      """)
    ),
    // QUALIFY-style dedup: keep the max-quantity line per order
    // (technical_price_universe.sql:79-82)
    QueryDef(
      "q_qualify_dedup_max_qty",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val w = Window
          .partitionBy(col("l_orderkey"))
          .orderBy(
            col("l_quantity").desc, col("l_linenumber").asc,
            col("l_partkey").asc, col("l_suppkey").asc
          )
        qualifyRowNumber(li, w)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_partkey"),
            r4(col("l_quantity")).as("l_quantity")
          )
      },
      Some("""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               l_partkey, ROUND(l_quantity, 4) + 0.0 AS l_quantity
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_quantity DESC, l_linenumber ASC,
                             l_partkey ASC, l_suppkey ASC) AS rn
          FROM lineitem
        ) WHERE rn = 1
      """)
    ),
    // Ranking family: ROW_NUMBER / RANK / PERCENT_RANK / NTILE
    // (portfolio_macro_factors.sql:188, sector_sensitivity_summary.sql:19,
    //  leading_econ_return_indicator.sql:139-141)
    QueryDef(
      "q_rank_ntile_orders",
      (s, dir) => {
        val o     = Tables(s, dir).orders
        val byVal = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
        val det = Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.select(
          col("o_orderpriority"), col("o_orderkey"),
          r4(col("o_totalprice")).as("o_totalprice"),
          row_number().over(det).cast("long").as("rn"),
          rank().over(byVal).cast("long").as("rnk"),
          r4(percent_rank().over(byVal)).as("pct_rank"),
          ntile(5).over(det).cast("long").as("quintile")
        )
      },
      Some("""
        SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 4) + 0.0 AS o_totalprice,
          CAST(ROW_NUMBER() OVER det AS BIGINT) AS rn,
          CAST(RANK() OVER byval AS BIGINT) AS rnk,
          ROUND(PERCENT_RANK() OVER byval, 4) + 0.0 AS pct_rank,
          CAST(NTILE(5) OVER det AS BIGINT) AS quintile
        FROM orders
        WINDOW byval AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC),
               det AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
      """)
    ),
    // FIRST_VALUE / LAST_VALUE with explicit full frame
    // (correlation_analysis_enhanced.sql:15-19)
    QueryDef(
      "q_first_last_window",
      (s, dir) => {
        val w    = flagWindow
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        series(s, dir).select(
          col("flag"), col("d"), col("v"),
          r4(first(col("v")).over(full)).as("first_v"),
          r4(last(col("v")).over(full)).as("last_v"),
          r4(safeDivide(col("v") - first(col("v")).over(full), first(col("v")).over(full)))
            .as("since_inception_return")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v,
          ROUND(FIRST_VALUE(v) OVER wf, 4) + 0.0 AS first_v,
          ROUND(LAST_VALUE(v) OVER wf, 4) + 0.0 AS last_v,
          ROUND((v - FIRST_VALUE(v) OVER wf) / NULLIF(FIRST_VALUE(v) OVER wf, 0), 4)
            AS since_inception_return
        FROM series
        WINDOW wf AS (PARTITION BY flag ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      """)
    ),
    // Windowed CORR over trailing frame (market_breadth_signals.sql:353-357)
    QueryDef(
      "q_window_corr_rolling",
      (s, dir) => {
        val f20 = flagWindow.rowsBetween(-19, 0)
        series(s, dir).select(
          col("flag"), col("d"),
          r4(corr(col("v"), col("q")).over(f20)).as("corr_vq_20"),
          count(lit(1)).over(f20).as("n_20")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d,
          ROUND(CORR(v, q) OVER f20, 4) + 0.0 AS corr_vq_20,
          COUNT(*) OVER f20 AS n_20
        FROM series
        WINDOW f20 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      """)
    ),
    // Rolling OLS from windowed moments -> beta/alpha/residual z-score
    // (int_cross_asset_commodity_signals.sql:14-80)
    QueryDef(
      "q_rolling_ols_beta",
      (s, dir) => {
        val wide = series(s, dir)
          .groupBy(col("d"))
          .agg(
            max(when(col("flag") === "A", col("v"))).as("x"),
            max(when(col("flag") === "R", col("v"))).as("y")
          )
          .filter(col("x").isNotNull && col("y").isNotNull)
        val w   = Window.orderBy(col("d"))
        val f20 = w.rowsBetween(-19, 0)
        val mx  = avg(col("x")).over(f20)
        val my  = avg(col("y")).over(f20)
        val mxy = avg(col("x") * col("y")).over(f20)
        val mxx = avg(col("x") * col("x")).over(f20)
        val beta = safeDivide(mxy - mx * my, mxx - mx * mx)
        val a    = my - beta * mx
        val res  = col("y") - (a + beta * col("x"))
        wide
          .withColumn("beta", beta)
          .withColumn("alpha", a)
          .withColumn("resid", res)
          .withColumn("n", count(lit(1)).over(f20))
          .filter(col("n") >= 20)
          .select(
            col("d"), r4(col("beta")).as("beta"), r4(col("alpha")).as("alpha"),
            r4(col("resid")).as("resid")
          )
      },
      Some(s"""
        WITH $seriesSql,
        wide AS (
          SELECT d,
            MAX(CASE WHEN flag = 'A' THEN v END) AS x,
            MAX(CASE WHEN flag = 'R' THEN v END) AS y
          FROM series GROUP BY d
          HAVING MAX(CASE WHEN flag = 'A' THEN v END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'R' THEN v END) IS NOT NULL
        ),
        moments AS (
          SELECT d, x, y,
            AVG(x) OVER f20 AS mx, AVG(y) OVER f20 AS my,
            AVG(x*y) OVER f20 AS mxy, AVG(x*x) OVER f20 AS mxx,
            COUNT(*) OVER f20 AS n
          FROM wide
          WINDOW f20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT d,
          ROUND((mxy - mx*my) / NULLIF(mxx - mx*mx, 0), 4) + 0.0 AS beta,
          ROUND(my - ((mxy - mx*my) / NULLIF(mxx - mx*mx, 0)) * mx, 4) + 0.0 AS alpha,
          ROUND(y - ((my - ((mxy - mx*my) / NULLIF(mxx - mx*mx, 0)) * mx)
                     + ((mxy - mx*my) / NULLIF(mxx - mx*mx, 0)) * x), 4) + 0.0 AS resid
        FROM moments WHERE n >= 20
      """)
    ),
    // Finite-window weight-normalized EWM (ta_primitives.sql:84-126) —
    // Spark side uses the reference's trailing-array formulation via
    // collect_list + aggregate HOF; oracle uses the algebraically equal
    // ratio-of-geometric-sums form.
    QueryDef(
      "q_ewm_finite_window",
      (s, dir) => {
        val w     = flagWindow
        val alpha = 2.0 / 13.0 // span-12 EMA
        val withPos = series(s, dir).withColumn(
          "pos",
          row_number().over(w).cast("double")
        )
        withPos
          .withColumn("ema12", r4(WindowOps.ewm(col("v"), col("pos"), flagWindow, 30, alpha)))
          .select(col("flag"), col("d"), col("v"), col("ema12"))
      },
      Some(s"""
        WITH $seriesSql,
        pos AS (
          SELECT flag, d, v,
                 CAST(ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS DOUBLE) AS rn
          FROM series
        )
        SELECT flag, d, v,
          ROUND(SUM(v * POW(1.0 - 2.0/13.0, -rn)) OVER w
                / SUM(POW(1.0 - 2.0/13.0, -rn)) OVER w, 4) + 0.0 AS ema12
        FROM pos
        WINDOW w AS (PARTITION BY flag ORDER BY rn ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
      """)
    ),
    // Recursive (infinite-history) EMA — the one true sequential
    // operator (market_breadth_signals.sql:168-192, McClellan EMA).
    // Spark: per-key sorted mapPartitions fold; oracle: WITH RECURSIVE.
    QueryDef(
      "q_recursive_ema",
      (s, dir) => {
        val base = series(s, dir).withColumn("ord", epochDay(col("d")))
        TimeSeriesOps
          .recursiveEma(base, "flag", "ord", "v", 0.1, "ema")
          .select(col("flag"), col("d"), col("v"), r4(col("ema")).as("ema"))
      },
      Some(s"""
        WITH RECURSIVE $seriesSql,
        pos AS (
          SELECT flag, d, v, ROW_NUMBER() OVER (PARTITION BY flag ORDER BY d) AS rn
          FROM series
        ),
        rec AS (
          SELECT flag, d, v, rn, v AS ema FROM pos WHERE rn = 1
          UNION ALL
          SELECT p.flag, p.d, p.v, p.rn, 0.1 * p.v + 0.9 * r.ema
          FROM pos p JOIN rec r ON p.flag = r.flag AND p.rn = r.rn + 1
        )
        SELECT flag, d, v, ROUND(ema, 4) + 0.0 AS ema FROM rec
      """)
    ),
    // Rolling z-score + range position (ta_zscore / ta_range_position)
    QueryDef(
      "q_zscore_range_position",
      (s, dir) => {
        val w = flagWindow
        series(s, dir).select(
          col("flag"), col("d"), col("v"),
          r4(WindowOps.zscore(col("v"), w, 20)).as("zscore20"),
          r4(WindowOps.rangePosition(col("v"), w, 20)).as("range_pos20")
        )
      },
      Some(s"""
        WITH $seriesSql
        SELECT flag, d, v,
          ROUND((v - AVG(v) OVER f20) / NULLIF(STDDEV_SAMP(v) OVER f20, 0), 4) + 0.0 AS zscore20,
          ROUND((v - MIN(v) OVER f20) / NULLIF(MAX(v) OVER f20 - MIN(v) OVER f20, 0), 4) + 0.0 AS range_pos20
        FROM series
        WINDOW f20 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      """)
    )
  )
}
