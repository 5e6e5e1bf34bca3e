package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.queries.QueryDef.{davgOver, r4}
import graft.runtime.{Materialized, Tables}
import graft.queries.CrossAssetQueries._
import graft.queries.FredSignalQueries.{stgFred, stgFredSql}

/** The cross-asset signal family part 2 (refs dbt_project/models/
  * signals/int_cross_asset_{credit,commodity}_signals.sql and
  * cross_asset_divergences.sql): HY-vs-equity divergence flags,
  * rolling 252-day stock/bond correlation regime, the gold-vs-real-
  * yield rolling-OLS residual z-score, copper/gold vs 10y-yield
  * correlation, and the final divergences fan-in (credit LEFT JOIN the
  * other four int models on date), with the dbt `as_of_date` var
  * threaded through every entry point.
  *
  * Extra staging: commodities (gold/copper daily price slices of
  * lineitem by orderkey parity) and a treasury-yield table from orders
  * (bc_10year daily mean) mirroring stg_input_commodities /
  * stg_treasury_yields.
  *
  * Parity: OLS moments are sums of products of two round-4 values —
  * exact in DECIMAL(24,4)x(10,4) products, and the residual, z-score and
  * CORR columns (whose decimal->double conversions and window sums are
  * engine-sensitive at the last ulp) ship round-4 on both sides.
  */
object CrossAssetQueries2 {

  /** Commodity staging: (commodity_name, date, price) — exact-decimal
    * rounded mean (these values ship raw; see stgPrices). */
  def stgCommodities(s: SparkSession, dir: String): DataFrame =
    Materialized(s, dir, "stg_cross_asset_commodities") {
      Tables(s, dir).lineitem
        .groupBy(
          when(col("l_orderkey") % 2 === 0, "gold").otherwise("copper").as("commodity_name"),
          to_date(col("l_shipdate")).as("date"))
        .agg(QueryDef.rdiv(
          sum(col("l_extendedprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("price"))
    }

  val stgCommoditiesSql: String = s"""
    comm AS (
      SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'gold' ELSE 'copper' END AS commodity_name,
             CAST(l_shipdate AS DATE) AS date,
             ${QueryDef.oDivRound(
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS price
      FROM lineitem GROUP BY 1, 2
    )"""

  /** Treasury staging: (date, bc_10year) — exact-decimal rounded mean. */
  def stgTreasury(s: SparkSession, dir: String): DataFrame =
    Materialized(s, dir, "stg_cross_asset_treasury") {
      Tables(s, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("date"))
        .agg(QueryDef.rdiv(
          sum(col("o_totalprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("bc_10year"))
    }

  val stgTreasurySql: String = s"""
    treas AS (
      SELECT CAST(o_orderdate AS DATE) AS date,
             ${QueryDef.oDivRound(
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS bc_10year
      FROM orders GROUP BY 1
    )"""

  // ------------------------------------------------------------------
  // int_cross_asset_credit_signals (ref, 108 LoC)
  // ------------------------------------------------------------------

  def creditSignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val wsp = Window.orderBy(col("spy_d"))
    val spy = symPrices(s, dir, asOf, "SPY", "spy_d", "spy_close")
      .select(col("spy_d"), col("spy_close"),
        davgOver(col("spy_close"), wsp.rowsBetween(-49, 0)).as("spy_sma_50"),
        davgOver(col("spy_close"), wsp.rowsBetween(-199, 0)).as("spy_sma_200"),
        max(col("spy_close")).over(wsp.rowsBetween(-251, 0)).as("spy_high_252d"))

    val whg = Window.orderBy(col("hyg_d"))
    val hyg = symPrices(s, dir, asOf, "HYG", "hyg_d", "hyg_close")
      .select(col("hyg_d"), col("hyg_close"),
        davgOver(col("hyg_close"), whg.rowsBetween(-49, 0)).as("hyg_sma_50"))

    val whs = Window.orderBy(col("hs_d"))
    val hySpread = stgFred(s, dir, Seq("BAMLH0A0HYM2"))
      .filter(col("series_code") === "BAMLH0A0HYM2" && col("value").isNotNull)
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(col("date").as("hs_d"), col("value").as("hy_spread"))
      .withColumn("hy_spread_20d_change",
        col("hy_spread") - lag(col("hy_spread"), 20).over(whs))

    val hyEq = spy
      .join(broadcast(hyg), col("spy_d") === col("hyg_d"), "left")
      .join(broadcast(hySpread), col("spy_d") === col("hs_d"), "left")
      .select(col("spy_d").as("h_d"), col("spy_close"), col("spy_sma_50"),
        col("spy_sma_200"), col("spy_high_252d"), col("hyg_close"), col("hyg_sma_50"),
        col("hy_spread"), col("hy_spread_20d_change"),
        when(col("hyg_close") < col("hyg_sma_50") && col("spy_close") > col("spy_sma_50"), 1)
          .otherwise(0).cast("long").as("hy_equity_divergence_flag"),
        when(col("hy_spread_20d_change") > 0 && col("spy_close") >= col("spy_high_252d"), 1)
          .otherwise(0).cast("long").as("hy_spread_divergence_flag"))

    val wr = Window.orderBy(col("sr_d"))
    val spyRet = symPrices(s, dir, asOf, "SPY", "sr_d", "sr_close")
      .select(col("sr_d"),
        (col("sr_close") / lag(col("sr_close"), 1).over(wr) - 1.0).as("spy_return"))
    val wg = Window.orderBy(col("gr_d"))
    val govtRet = symPrices(s, dir, asOf, "GOVT", "gr_d", "gr_close")
      .select(col("gr_d"),
        (col("gr_close") / lag(col("gr_close"), 1).over(wg) - 1.0).as("govt_return"))
    val wcorr = Window.orderBy(col("sb_d")).rowsBetween(-251, 0)
    val sbCorr = spyRet.join(broadcast(govtRet), col("sr_d") === col("gr_d"))
      .filter(col("spy_return").isNotNull && col("govt_return").isNotNull)
      .select(col("sr_d").as("sb_d"), col("spy_return"), col("govt_return"))
      .select(col("sb_d"),
        corr(col("spy_return"), col("govt_return")).over(wcorr).as("__corr_raw"))

    hyEq.join(broadcast(sbCorr), col("h_d") === col("sb_d"), "left")
      .select(
        col("h_d").as("date"), col("spy_close"), col("spy_sma_50"), col("spy_sma_200"),
        col("spy_high_252d"), col("hyg_close"), col("hyg_sma_50"), col("hy_spread"),
        col("hy_spread_20d_change"), col("hy_equity_divergence_flag"),
        col("hy_spread_divergence_flag"),
        r4(col("__corr_raw")).as("stock_bond_corr_252d"),
        when(col("__corr_raw") > 0, "positive")
          .when(col("__corr_raw").isNull, lit(null).cast("string"))
          .otherwise("negative").as("stock_bond_corr_regime"))
  }

  def creditCtesSql(asOf: Option[String]): String = s"""
    spy_credit AS (
      SELECT date, adj_close AS spy_close,
        ${exSmaSql("adj_close", "date", 50)} AS spy_sma_50,
        ${exSmaSql("adj_close", "date", 200)} AS spy_sma_200,
        MAX(adj_close) OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
          AS spy_high_252d
      FROM prices WHERE symbol = 'SPY' AND adj_close IS NOT NULL
        AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
    ),
    hyg_indicators AS (
      SELECT date, hyg_close,
        ${exSmaSql("hyg_close", "date", 50)} AS hyg_sma_50
      FROM (${symPricesSql(asOf, "HYG", "hyg_close")})
    ),
    hy_spread_indicators AS (
      SELECT date, value AS hy_spread,
        value - LAG(value, 20) OVER (ORDER BY date) AS hy_spread_20d_change
      FROM stg WHERE series_code = 'BAMLH0A0HYM2' AND value IS NOT NULL
        AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
    ),
    hy_equity_divergence AS (
      SELECT s.date, s.spy_close, s.spy_sma_50, s.spy_sma_200, s.spy_high_252d,
        h.hyg_close, h.hyg_sma_50, hs.hy_spread, hs.hy_spread_20d_change,
        CAST(CASE WHEN h.hyg_close < h.hyg_sma_50 AND s.spy_close > s.spy_sma_50
              THEN 1 ELSE 0 END AS BIGINT) AS hy_equity_divergence_flag,
        CAST(CASE WHEN hs.hy_spread_20d_change > 0 AND s.spy_close >= s.spy_high_252d
              THEN 1 ELSE 0 END AS BIGINT) AS hy_spread_divergence_flag
      FROM spy_credit AS s
      LEFT JOIN hyg_indicators AS h ON s.date = h.date
      LEFT JOIN hy_spread_indicators AS hs ON s.date = hs.date
    ),
    spy_returns AS (
      SELECT date, spy_close / LAG(spy_close) OVER (ORDER BY date) - 1.0 AS spy_return
      FROM (${symPricesSql(asOf, "SPY", "spy_close")})
    ),
    govt_returns AS (
      SELECT date, govt_close / LAG(govt_close) OVER (ORDER BY date) - 1.0 AS govt_return
      FROM (${symPricesSql(asOf, "GOVT", "govt_close")})
    ),
    stock_bond_corr AS (
      SELECT s.date,
        CORR(s.spy_return, g.govt_return) OVER (
          ORDER BY s.date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW) AS corr_raw
      FROM spy_returns AS s
      INNER JOIN govt_returns AS g ON s.date = g.date
      WHERE s.spy_return IS NOT NULL AND g.govt_return IS NOT NULL
    ),
    credit AS (
      SELECT h.date, h.spy_close, h.spy_sma_50, h.spy_sma_200, h.spy_high_252d,
        h.hyg_close, h.hyg_sma_50, h.hy_spread, h.hy_spread_20d_change,
        h.hy_equity_divergence_flag, h.hy_spread_divergence_flag,
        ROUND(sb.corr_raw, 4) + 0.0 AS stock_bond_corr_252d,
        CASE WHEN sb.corr_raw > 0 THEN 'positive'
             WHEN sb.corr_raw IS NULL THEN NULL
             ELSE 'negative' END AS stock_bond_corr_regime
      FROM hy_equity_divergence AS h
      LEFT JOIN stock_bond_corr AS sb ON h.date = sb.date
    )"""

  def creditSql(asOf: Option[String]): String = s"""
    WITH ${stgFredSql(Seq("BAMLH0A0HYM2"))},
    $stgPricesSql,
    ${creditCtesSql(asOf)}
    SELECT * FROM credit
  """

  // ------------------------------------------------------------------
  // int_cross_asset_commodity_signals (ref, 116 LoC)
  // ------------------------------------------------------------------

  def commoditySignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val gold = stgCommodities(s, dir)
      .filter(col("commodity_name") === "gold" && col("price").isNotNull && col("price") > 0)
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(col("date").as("g_d"), col("price").as("gold_price"))

    val dfii = stgFred(s, dir, Seq("DFII10"))
      .filter(col("series_code") === "DFII10" && col("value").isNotNull)
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(col("date").as("r_d"), col("value").as("real_yield_10y"))

    val wg   = Window.orderBy(col("g_d"))
    val f252 = wg.rowsBetween(-251, 0)
    // moments: cast the round-4 factors to DECIMAL(24,4)x(10,4) BEFORE the
    // multiply — the 8-decimal product stays exact integer arithmetic
    // on both engines, where a double product cast to decimal would
    // re-round engine-dependently at this magnitude. (10,4) factors
    // keep the product inside DuckDB's width-p1+p2 multiply.
    def d4(c: Column): Column  = c.cast(DecimalType(24, 4))
    def d4b(c: Column): Column = c.cast(DecimalType(10, 4))
    def exAvgOf(prod: Column, cnt: Column): Column =
      sum(prod).over(f252).cast("double") / count(cnt).over(f252)
    val reg = gold.join(broadcast(dfii), col("g_d") === col("r_d"))
      .select(col("g_d"), col("gold_price"), col("real_yield_10y"))
      .select(col("g_d"), col("gold_price"), col("real_yield_10y"),
        exAvgOf(d4(col("real_yield_10y")), col("real_yield_10y")).as("avg_real_yield"),
        exAvgOf(d4(col("gold_price")), col("gold_price")).as("avg_gold_price"),
        exAvgOf(d4(col("real_yield_10y")) * d4b(col("gold_price")), col("real_yield_10y"))
          .as("avg_xy"),
        exAvgOf(d4(col("real_yield_10y")) * d4b(col("real_yield_10y")), col("real_yield_10y"))
          .as("avg_x2"))

    val denom = col("avg_x2") - col("avg_real_yield") * col("avg_real_yield")
    val betaE = (col("avg_xy") - col("avg_real_yield") * col("avg_gold_price")) / denom
    val res = reg
      .select(col("g_d"), col("gold_price"), col("real_yield_10y"),
        when(denom =!= 0, betaE).as("beta"),
        when(denom =!= 0, col("avg_gold_price") - betaE * col("avg_real_yield")).as("alpha"))
      .withColumn("gold_real_residual",
        when(col("beta").isNotNull && col("alpha").isNotNull,
          col("gold_price") - (col("alpha") + col("beta") * col("real_yield_10y"))))

    val wr2 = Window.orderBy(col("g_d")).rowsBetween(-251, 0)
    val gz = res
      .withColumn("residual_avg", avg(col("gold_real_residual")).over(wr2))
      .withColumn("residual_std", stddev_samp(col("gold_real_residual")).over(wr2))
      .select(col("g_d"), col("gold_price"), col("real_yield_10y"),
        r4(col("gold_real_residual")).as("gold_real_residual"),
        when(col("residual_std") > 0,
          r4((col("gold_real_residual") - col("residual_avg")) / col("residual_std")))
          .as("gold_real_residual_zscore"))

    val copper = stgCommodities(s, dir)
      .filter(col("commodity_name") === "copper" && col("price").isNotNull && col("price") > 0)
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(col("date").as("c_d"), col("price").as("copper_price"))
    val treas = stgTreasury(s, dir)
      .filter(col("bc_10year").isNotNull)
      .select(col("date").as("t_d"), col("bc_10year"))
    val wcg = Window.orderBy(col("cg_d")).rowsBetween(-251, 0)
    val cg = gold.join(broadcast(copper), col("g_d") === col("c_d"))
      .select(col("g_d").as("cg_d"),
        when(col("gold_price") =!= 0, col("copper_price") / col("gold_price") * 1000)
          .as("copper_gold_ratio"))
      .join(broadcast(treas), col("cg_d") === col("t_d"))
      .select(col("cg_d"), col("copper_gold_ratio"), col("bc_10year").as("treasury_10y_yield"),
        r4(corr(col("copper_gold_ratio"), col("bc_10year")).over(wcg))
          .as("copper_gold_yield_corr_252d"))

    gz.join(broadcast(cg), col("g_d") === col("cg_d"), "left")
      .select(col("g_d").as("date"), col("gold_price"), col("real_yield_10y"),
        col("gold_real_residual"), col("gold_real_residual_zscore"),
        col("copper_gold_ratio"), col("treasury_10y_yield"),
        col("copper_gold_yield_corr_252d"))
  }

  def commodityCtesSql(asOf: Option[String]): String = s"""
    gold_prices AS (
      SELECT date AS g_d, price AS gold_price FROM comm
      WHERE commodity_name = 'gold' AND price IS NOT NULL AND price > 0
        AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
    ),
    gold_real_regression AS (
      SELECT g.g_d, g.gold_price, r.value AS real_yield_10y,
        CAST(SUM(CAST(r.value AS DECIMAL(10,4))) OVER w AS DOUBLE) / COUNT(r.value) OVER w AS avg_real_yield,
        CAST(SUM(CAST(g.gold_price AS DECIMAL(10,4))) OVER w AS DOUBLE) / COUNT(g.gold_price) OVER w AS avg_gold_price,
        CAST(SUM(CAST(r.value AS DECIMAL(24,4)) * CAST(g.gold_price AS DECIMAL(10,4))) OVER w AS DOUBLE) / COUNT(r.value) OVER w AS avg_xy,
        CAST(SUM(CAST(r.value AS DECIMAL(24,4)) * CAST(r.value AS DECIMAL(10,4))) OVER w AS DOUBLE) / COUNT(r.value) OVER w AS avg_x2
      FROM gold_prices AS g
      INNER JOIN stg AS r ON g.g_d = r.date
      WHERE r.series_code = 'DFII10' AND r.value IS NOT NULL
        AND r.date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
      WINDOW w AS (ORDER BY g.g_d ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
    ),
    gold_real_residual AS (
      SELECT g_d, gold_price, real_yield_10y,
        CASE WHEN (avg_x2 - (avg_real_yield * avg_real_yield)) <> 0 THEN
          (avg_xy - (avg_real_yield * avg_gold_price))
            / (avg_x2 - (avg_real_yield * avg_real_yield)) END AS beta,
        CASE WHEN (avg_x2 - (avg_real_yield * avg_real_yield)) <> 0 THEN
          avg_gold_price
            - (avg_xy - (avg_real_yield * avg_gold_price))
              / (avg_x2 - (avg_real_yield * avg_real_yield)) * avg_real_yield END AS alpha
      FROM gold_real_regression
    ),
    gold_real_zscore AS (
      SELECT g_d, gold_price, real_yield_10y,
        ROUND(gold_real_residual, 4) + 0.0 AS gold_real_residual,
        CASE WHEN residual_std > 0
          THEN ROUND((gold_real_residual - residual_avg) / residual_std, 4) + 0.0
        END AS gold_real_residual_zscore
      FROM (
        SELECT g_d, gold_price, real_yield_10y,
          CASE WHEN beta IS NOT NULL AND alpha IS NOT NULL
            THEN gold_price - (alpha + beta * real_yield_10y) END AS gold_real_residual,
          AVG(CASE WHEN beta IS NOT NULL AND alpha IS NOT NULL
            THEN gold_price - (alpha + beta * real_yield_10y) END) OVER w AS residual_avg,
          STDDEV_SAMP(CASE WHEN beta IS NOT NULL AND alpha IS NOT NULL
            THEN gold_price - (alpha + beta * real_yield_10y) END) OVER w AS residual_std
        FROM gold_real_residual
        WINDOW w AS (ORDER BY g_d ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
      ) AS rolling_residuals
    ),
    copper_gold_yield_corr AS (
      SELECT c.cg_d, c.copper_gold_ratio, t.bc_10year AS treasury_10y_yield,
        ROUND(CORR(c.copper_gold_ratio, t.bc_10year) OVER (
          ORDER BY c.cg_d ROWS BETWEEN 251 PRECEDING AND CURRENT ROW), 4) + 0.0
          AS copper_gold_yield_corr_252d
      FROM (
        SELECT g.g_d AS cg_d,
          CASE WHEN g.gold_price != 0 THEN c.price / g.gold_price * 1000 END AS copper_gold_ratio
        FROM gold_prices AS g
        INNER JOIN comm AS c ON g.g_d = c.date
        WHERE c.commodity_name = 'copper' AND c.price IS NOT NULL AND c.price > 0
          AND c.date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
      ) AS c
      INNER JOIN treas AS t ON c.cg_d = t.date
      WHERE t.bc_10year IS NOT NULL
    ),
    commodities AS (
      SELECT g.g_d AS date, g.gold_price, g.real_yield_10y, g.gold_real_residual,
        g.gold_real_residual_zscore, c.copper_gold_ratio, c.treasury_10y_yield,
        c.copper_gold_yield_corr_252d
      FROM gold_real_zscore AS g
      LEFT JOIN copper_gold_yield_corr AS c ON g.g_d = c.cg_d
    )"""

  def commoditySql(asOf: Option[String]): String = s"""
    WITH ${stgFredSql(Seq("DFII10"))},
    $stgCommoditiesSql,
    $stgTreasurySql,
    ${commodityCtesSql(asOf)}
    SELECT * FROM commodities
  """

  // ------------------------------------------------------------------
  // cross_asset_divergences (ref, 61 LoC) — the fan-in
  // ------------------------------------------------------------------

  /** The fan-in over its five branch signals taken as FRAMES
    * (declared in [[SharedMarts]]): the isolated query builds them
    * inline, sharing stagings via the session-tier `Materialized`
    * memo; the DAG lane hands in Table-tier materializations so this
    * consumer is five date-keyed joins over mart scans. */
  private[queries] def divergencesFrom(
      s: SparkSession,
      dir: String,
      asOf: Option[String],
      creditIn: DataFrame,
      riskIn: DataFrame,
      commIn: DataFrame,
      breadthIn: DataFrame,
      confIn: DataFrame): DataFrame = {
    val credit = creditIn
    val risk = riskIn.withColumnRenamed("date", "r_date")
    val comm = commIn.withColumnRenamed("date", "cm_date")
    val breadth = breadthIn.withColumnRenamed("date", "b_date")
    val conf = confIn
      .select(col("date").as("cf_date"), col("dia_close"), col("iyt_close"),
        col("dia_high_252d"), col("iyt_high_252d"), col("dow_non_confirmation_flag"),
        col("soxx_spy_ratio"), col("soxx_spy_sma_200"), col("semis_divergence_flag"))

    credit
      .join(broadcast(risk), col("date") === col("r_date"), "left")
      .join(broadcast(comm), col("date") === col("cm_date"), "left")
      .join(broadcast(breadth), col("date") === col("b_date"), "left")
      .join(broadcast(conf), col("date") === col("cf_date"), "left")
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(
        col("date"), col("spy_close"), col("spy_sma_50"), col("spy_sma_200"),
        col("spy_high_252d"), col("hyg_close"), col("hyg_sma_50"), col("hy_spread"),
        col("hy_spread_20d_change"), col("hy_equity_divergence_flag"),
        col("hy_spread_divergence_flag"), col("stock_bond_corr_252d"),
        col("stock_bond_corr_regime"), col("xlp_xly_ratio"), col("xlp_xly_sma_50"),
        col("xlp_xly_sma_200"), col("defensive_ratio_uptrend_flag"), col("gold_price"),
        col("real_yield_10y"), col("gold_real_residual"), col("gold_real_residual_zscore"),
        col("iwm_spy_ratio"), col("iwm_spy_sma_50"), col("iwm_spy_sma_200"),
        col("rsp_spy_ratio"), col("rsp_spy_sma_50"), col("rsp_spy_sma_200"),
        col("copper_gold_ratio"), col("treasury_10y_yield"),
        col("copper_gold_yield_corr_252d"), col("fxa_spy_ratio"), col("fxa_spy_sma_50"),
        col("aud_risk_divergence_flag"), col("dia_close"), col("iyt_close"),
        col("dia_high_252d"), col("iyt_high_252d"), col("dow_non_confirmation_flag"),
        col("soxx_spy_ratio"), col("soxx_spy_sma_200"), col("semis_divergence_flag"))
  }

  def divergencesSql(asOf: Option[String]): String = s"""
    WITH ${stgFredSql(Seq("BAMLH0A0HYM2", "DFII10"))},
    $stgPricesSql,
    $stgCommoditiesSql,
    $stgTreasurySql,
    ${creditCtesSql(asOf)},
    ${CrossAssetQueries.riskCtesSql(asOf)},
    ${commodityCtesSql(asOf)},
    ${CrossAssetQueries.breadthCtesSql(asOf)},
    ${CrossAssetQueries.confirmationCtesSql(asOf)}
    SELECT credit.date, credit.spy_close, credit.spy_sma_50, credit.spy_sma_200,
      credit.spy_high_252d, credit.hyg_close, credit.hyg_sma_50, credit.hy_spread,
      credit.hy_spread_20d_change, credit.hy_equity_divergence_flag,
      credit.hy_spread_divergence_flag, credit.stock_bond_corr_252d,
      credit.stock_bond_corr_regime, risk.xlp_xly_ratio, risk.xlp_xly_sma_50,
      risk.xlp_xly_sma_200, risk.defensive_ratio_uptrend_flag, commodities.gold_price,
      commodities.real_yield_10y, commodities.gold_real_residual,
      commodities.gold_real_residual_zscore, breadth.iwm_spy_ratio,
      breadth.iwm_spy_sma_50, breadth.iwm_spy_sma_200, breadth.rsp_spy_ratio,
      breadth.rsp_spy_sma_50, breadth.rsp_spy_sma_200, commodities.copper_gold_ratio,
      commodities.treasury_10y_yield, commodities.copper_gold_yield_corr_252d,
      risk.fxa_spy_ratio, risk.fxa_spy_sma_50, risk.aud_risk_divergence_flag,
      confirmation.dia_close, confirmation.iyt_close, confirmation.dia_high_252d,
      confirmation.iyt_high_252d, confirmation.dow_non_confirmation_flag,
      confirmation.soxx_spy_ratio, confirmation.soxx_spy_sma_200,
      confirmation.semis_divergence_flag
    FROM credit
    LEFT JOIN risk ON credit.date = risk.date
    LEFT JOIN commodities ON credit.date = commodities.date
    LEFT JOIN breadth ON credit.date = breadth.date
    LEFT JOIN confirmation ON credit.date = confirmation.date
    WHERE credit.date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_cross_asset_credit_signals",
      (s, d) => creditSignals(s, d, None), Some(creditSql(None))),
    QueryDef("q_cross_asset_commodity_signals",
      (s, d) => commoditySignals(s, d, None), Some(commoditySql(None))),
    SharedMarts.query("q_cross_asset_divergences", Some(divergencesSql(None)))
  )
}
