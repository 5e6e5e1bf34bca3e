package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators.TimeSeriesOps
import graft.queries.QueryDef.{dsum, oDivRound, r4, rdiv}
import graft.runtime.Tables

/** McClellan Oscillator / Summation Index and Zweig Breadth Thrust —
  * the recursive-EMA composition the reference layers onto its market
  * breadth model (ref dbt_project/models/signals/market_breadth_signals
  * .sql:115-210): ratio-adjusted net advances (RANA), 19/39-day
  * recursive EMAs with the reference's LITERAL coefficient pairs
  * ((0.1,0.9), (0.05,0.95), and the non-complementary
  * (0.1818181818, 0.8181818182) for the Zweig 10-day), oscillator =
  * EMA19 - EMA39, summation index = running oscillator sum + 1000, and
  * the Zweig thrust flag (10d EMA of advance ratio >= 0.615 with a
  * sub-0.40 reading in the trailing 10 rows).
  *
  * Spark side: the daily breadth aggregate is one shuffle; the three
  * recursive EMAs fold sequentially per key via
  * [[TimeSeriesOps.recursiveEmaCoef]] (single-key here — the reference
  * series is one market-wide line, inherently small after the daily
  * aggregate however large the stock universe). RANA/advance-ratio are
  * int-ratio ROUNDs → exact-decimal division pair.
  */
object BreadthQueries {

  private def series(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy((col("l_suppkey") % 32).cast("long").as("asset"),
        to_date(col("l_shipdate")).as("d"))
      .agg(r4(dsum(col("l_extendedprice"))).as("v"))

  private val seriesSql = """
    series AS (
      SELECT CAST(l_suppkey % 32 AS BIGINT) AS asset, CAST(l_shipdate AS DATE) AS d,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
      FROM lineitem GROUP BY 1, 2
    )"""

  private def mcclellanBreadth(s: SparkSession, dir: String): DataFrame = {
    val wAsset = Window.partitionBy(col("asset")).orderBy(col("d"))
    val marked = series(s, dir)
      .withColumn("prev_v", lag(col("v"), 1).over(wAsset))
      .filter(col("prev_v").isNotNull)
      .withColumn("is_adv", when(col("v") > col("prev_v"), 1).otherwise(0))
      .withColumn("is_dec", when(col("v") < col("prev_v"), 1).otherwise(0))

    val daily = marked
      .groupBy(col("d"))
      .agg(
        sum(col("is_adv")).cast("long").as("advancing_stocks"),
        sum(col("is_dec")).cast("long").as("declining_stocks"))

    val ad = col("advancing_stocks") + col("declining_stocks")
    val base = daily
      .withColumn("net_advances", col("advancing_stocks") - col("declining_stocks"))
      .withColumn("rana",
        coalesce(
          when(ad =!= 0,
            rdiv((col("net_advances") * 1000).cast(DecimalType(18, 0)), ad, 2)),
          lit(0.0)))
      .withColumn("adv_ratio",
        coalesce(
          when(ad =!= 0, rdiv(col("advancing_stocks").cast(DecimalType(18, 0)), ad, 6)),
          lit(0.5)))
      .withColumn("rn", epochDay(col("d")).cast("long"))
      .withColumn("k", lit("mkt"))

    val e1 = TimeSeriesOps.recursiveEmaCoef(base, "k", "rn", "rana", 0.1, 0.9, "ema_rana_19")
    val e2 = TimeSeriesOps.recursiveEmaCoef(e1, "k", "rn", "rana", 0.05, 0.95, "ema_rana_39")
    val e3 = TimeSeriesOps.recursiveEmaCoef(e2, "k", "rn", "adv_ratio",
      0.1818181818, 0.8181818182, "ema_adv_10")

    val wd   = Window.orderBy(col("d"))
    val cum  = wd.rowsBetween(Window.unboundedPreceding, 0)
    val f10  = wd.rowsBetween(-9, 0)
    e3
      .withColumn("mcclellan_oscillator", col("ema_rana_19") - col("ema_rana_39"))
      .withColumn("mcclellan_summation_index",
        sum(col("mcclellan_oscillator")).over(cum) + 1000)
      .withColumn("zweig_thrust_signal",
        when(col("ema_adv_10") >= 0.615 && min(col("ema_adv_10")).over(f10) < 0.40, 1)
          .otherwise(0).cast("long"))
      .select(
        col("d"), col("advancing_stocks"), col("declining_stocks"),
        col("net_advances").cast("long").as("net_advances"),
        col("rana").as("ratio_adjusted_net_advances"),
        round(col("ema_rana_19"), 2).as("rana_ema_19"),
        round(col("ema_rana_39"), 2).as("rana_ema_39"),
        round(col("mcclellan_oscillator"), 2).as("mcclellan_oscillator"),
        round(col("mcclellan_summation_index"), 2).as("mcclellan_summation_index"),
        round(col("ema_adv_10"), 4).as("zweig_ema_10d"),
        col("zweig_thrust_signal"))
  }

  private val mcclellanSql: String = s"""
    WITH RECURSIVE $seriesSql,
    marked AS (
      SELECT d, asset, v, LAG(v, 1) OVER (PARTITION BY asset ORDER BY d) AS prev_v
      FROM series
    ),
    daily AS (
      SELECT d,
        CAST(SUM(CASE WHEN v > prev_v THEN 1 ELSE 0 END) AS BIGINT) AS advancing_stocks,
        CAST(SUM(CASE WHEN v < prev_v THEN 1 ELSE 0 END) AS BIGINT) AS declining_stocks
      FROM marked WHERE prev_v IS NOT NULL
      GROUP BY d
    ),
    breadth_base AS (
      SELECT *,
        advancing_stocks - declining_stocks AS net_advances,
        COALESCE(CASE WHEN advancing_stocks + declining_stocks != 0 THEN
          ${oDivRound(
    "CAST((advancing_stocks - declining_stocks) * 1000 AS HUGEINT) * 1000000",
    "advancing_stocks + declining_stocks", 2)} END, 0.0) AS rana,
        COALESCE(CASE WHEN advancing_stocks + declining_stocks != 0 THEN
          ${oDivRound("advancing_stocks * 1000000",
    "advancing_stocks + declining_stocks", 6)} END, 0.5) AS adv_ratio
      FROM daily
    ),
    ema_inputs AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, d, advancing_stocks, declining_stocks,
        net_advances, rana, adv_ratio
      FROM breadth_base
    ),
    ema_calc AS (
      SELECT rn, d, advancing_stocks, declining_stocks, net_advances, rana, adv_ratio,
        rana AS ema_rana_19, rana AS ema_rana_39, adv_ratio AS ema_adv_10
      FROM ema_inputs WHERE rn = 1
      UNION ALL
      SELECT i.rn, i.d, i.advancing_stocks, i.declining_stocks, i.net_advances,
        i.rana, i.adv_ratio,
        (0.1 * i.rana) + (0.9 * e.ema_rana_19) AS ema_rana_19,
        (0.05 * i.rana) + (0.95 * e.ema_rana_39) AS ema_rana_39,
        (0.1818181818 * i.adv_ratio) + (0.8181818182 * e.ema_adv_10) AS ema_adv_10
      FROM ema_inputs i
      INNER JOIN ema_calc e ON i.rn = e.rn + 1
    )
    SELECT d, advancing_stocks, declining_stocks,
      CAST(net_advances AS BIGINT) AS net_advances,
      rana AS ratio_adjusted_net_advances,
      ROUND(ema_rana_19, 2) + 0.0 AS rana_ema_19,
      ROUND(ema_rana_39, 2) + 0.0 AS rana_ema_39,
      ROUND(ema_rana_19 - ema_rana_39, 2) + 0.0 AS mcclellan_oscillator,
      ROUND(SUM(ema_rana_19 - ema_rana_39) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1000, 2) + 0.0
        AS mcclellan_summation_index,
      ROUND(ema_adv_10, 4) + 0.0 AS zweig_ema_10d,
      CAST(CASE WHEN ema_adv_10 >= 0.615
                 AND MIN(ema_adv_10) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) < 0.40
            THEN 1 ELSE 0 END AS BIGINT) AS zweig_thrust_signal
    FROM ema_calc
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_mcclellan_breadth", mcclellanBreadth, Some(mcclellanSql))
  )
}
