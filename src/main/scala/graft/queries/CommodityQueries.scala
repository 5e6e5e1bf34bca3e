package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.models.{MarketAnalysisReturn, MarketSummary, PriceBars}
import graft.queries.QueryDef.{oDivRound, oSnap}

/** The commodity model family 1:1 (SURVEY.md §2.M; ref dbt_project/
  * macros/calculate_commodity_summary.sql and
  * calculate_commodity_analysis_return.sql, instantiated by the six
  * models in dbt_project/models/commodities/ plus the
  * agent_commodity_performance view).
  *
  * Unlike the equity/index models (calculate_market_summary), the
  * commodity macros run on a single price column keyed by
  * (commodity_name, commodity_unit): day-over-day LAG changes instead
  * of intraday open→close, boundary prices from the same price column,
  * and no volume/adjusted series. The macro's CURRENT_DATE anchor maps
  * to max(date) (deterministic, same convention as MarketSummary).
  *
  * calculate_commodity_analysis_return is the market analysis_return
  * template over (price, price, price) in place of
  * (adj_close, adj_high, adj_low) with no volume — so it reuses
  * [[MarketAnalysisReturn.analysisReturn]] (single persisted daily
  * frame, one exploded-offset lookback join, shared RANGE window
  * family) under renamed keys. Prices stay RAW 2-decimal aggregates so
  * daily diffs are exact and the DECIMAL(18,3) moment snap is
  * lossless.
  *
  * Scale: one fact-table aggregation per universe; all windows keyed
  * by (commodity_name, commodity_unit); the bounds frame broadcasts.
  */
object CommodityQueries {

  /** stg_*_commodities staging over commodity bars ([[PriceBars.commodity]]
    * or the fan-out [[PriceBars.commodities]]): (commodity_name, date,
    * price, commodity_unit), the price the RAW close (2-decimal exact). */
  def staging(bars: DataFrame): DataFrame =
    bars.select(col("commodity_name"), col("date"), col("close").as("price"), col("commodity_unit"))

  def stagingCte(c: PriceBars.Commodity): String = s"""
    cstg AS (
      SELECT ${c.universe.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS date,
        ${PriceBars.closeSql} AS price,
        '${c.unit}' AS commodity_unit
      FROM lineitem GROUP BY 1, 2
    )"""

  // ------------------------------------------------------------------
  // calculate_commodity_summary
  // ------------------------------------------------------------------

  /** Filtered daily rows of a single-price staging with their
    * day-over-day LAG changes over FULL history per commodity, and the
    * previous bar's date (the snapshot variant trims the LAG to each
    * snapshot's window with it). */
  def dailyChanges(stg: DataFrame, date: String): DataFrame = {
    val w = Window.partitionBy(col("commodity_name")).orderBy(col(date))
    stg
      .filter(col("price").isNotNull && col(date).isNotNull && col("price") > 0)
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("prev_date", lag(col(date), 1).over(w))
      .withColumn("price_change", col("price") - col("prev_price"))
      .withColumn("pct_change",
        when(col("prev_price") > 0, (col("price") - col("prev_price")) / col("prev_price") * 100))
  }

  /** The summary macro over the period-summary kernel: LAG changes
    * over FULL history (the first bar inside the 5y window keeps its
    * change from the bar before it — unlike the snapshot variant, whose
    * LAG lives inside each window); boundary prices from the one price
    * column. */
  def commoditySummary(stg: DataFrame): DataFrame = {
    val fd = MarketSummary.latest(dailyChanges(stg, "date"), "date")
      .filter(col("price_change").isNotNull)
    val keys = Seq("commodity_name", "commodity_unit", "time_period")
    MarketSummary.periodSummary(fd, keys, extras = Nil, lead = keys,
      date = col("date"), open = col("price"), close = col("price"),
      change = col("price_change"), pct = col("pct_change"))
  }

  def commoditySummaryOracleSql(cte: String): String = s"""
    WITH $cte,
    based AS (
      SELECT *,
        price - LAG(price) OVER w AS price_change,
        CASE WHEN LAG(price) OVER w > 0
             THEN (price - LAG(price) OVER w) / (LAG(price) OVER w) * 100 END AS pct_change
      FROM cstg
      WHERE price IS NOT NULL AND date IS NOT NULL AND price > 0
      WINDOW w AS (PARTITION BY commodity_name ORDER BY date)
    ),
    db AS (
      SELECT MAX(date) AS today,
        CAST(MAX(date) - INTERVAL 84 DAY AS DATE) AS w12,
        CAST(MAX(date) - INTERVAL 6 MONTH AS DATE) AS m6,
        CAST(MAX(date) - INTERVAL 1 YEAR AS DATE) AS y1,
        CAST(MAX(date) - INTERVAL 5 YEAR AS DATE) AS y5
      FROM based
    ),
    fd AS (
      SELECT b.*,
        CASE WHEN date >= w12 THEN '12_weeks'
             WHEN date >= m6 THEN '6_months'
             WHEN date >= y1 THEN '1_year'
             ELSE '5_years' END AS time_period
      FROM based b, db
      WHERE b.date >= db.y5 AND b.price_change IS NOT NULL
    ),
    sp2 AS (
      SELECT commodity_name, time_period, price AS period_start_price FROM (
        SELECT commodity_name, time_period, price,
          ROW_NUMBER() OVER (PARTITION BY commodity_name, commodity_unit, time_period
            ORDER BY date ASC, price ASC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ep2 AS (
      SELECT commodity_name, time_period, price AS period_end_price FROM (
        SELECT commodity_name, time_period, price,
          ROW_NUMBER() OVER (PARTITION BY commodity_name, commodity_unit, time_period
            ORDER BY date DESC, price DESC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ar AS (
      SELECT commodity_name, commodity_unit, time_period,
        MIN(date) AS period_start_date,
        MAX(date) AS period_end_date,
        CAST(COUNT(*) AS BIGINT) AS trading_days,
        SUM(CAST(price_change AS DECIMAL(18,6))) AS sum_chg_dec,
        MIN(price_change) AS min_chg, MAX(price_change) AS max_chg,
        SUM(CAST(pct_change AS DECIMAL(18,6))) AS sx_dec,
        CAST(SUM(CAST(pct_change AS DECIMAL(18,3))) AS DOUBLE) AS sxv,
        CAST(SUM(CAST(pct_change AS DECIMAL(18,3)) * CAST(pct_change AS DECIMAL(18,3))) AS DOUBLE) AS sx2,
        CAST(COUNT(pct_change) AS BIGINT) AS n_pct,
        CAST(SUM(CASE WHEN price_change > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_days,
        CAST(SUM(CASE WHEN price_change < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_days,
        CAST(SUM(CASE WHEN price_change = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neutral_days
      FROM fd GROUP BY 1, 2, 3
    )
    SELECT ar.commodity_name, ar.commodity_unit, ar.time_period,
      ar.period_start_date, ar.period_end_date,
      ar.trading_days, ar.positive_days, ar.negative_days, ar.neutral_days,
      ROUND(CASE WHEN sp2.period_start_price > 0 THEN (ep2.period_end_price - sp2.period_start_price) / sp2.period_start_price * 100 END, 2) + 0.0 AS total_return_pct,
      ${oDivRound("CAST(sx_dec * 1000000 AS HUGEINT)", "n_pct", 4)} AS avg_daily_return_pct,
      ${oSnap("CASE WHEN n_pct > 1 THEN SQRT(GREATEST((sx2 - sxv * sxv / n_pct) / (n_pct - 1), 0.0)) * SQRT(252.0) END", 2)} AS volatility_pct,
      ${oDivRound("positive_days * 100000000", "trading_days", 1)} AS win_rate_pct,
      ${oSnap("CAST(sum_chg_dec AS DOUBLE)", 2)} AS total_price_change,
      ${oDivRound("CAST(sum_chg_dec * 1000000 AS HUGEINT)", "trading_days", 4)} AS avg_daily_price_change,
      ${oSnap("min_chg", 2)} AS worst_day_change,
      ${oSnap("max_chg", 2)} AS best_day_change,
      ${oSnap("sp2.period_start_price", 2)} AS period_start_price,
      ${oSnap("ep2.period_end_price", 2)} AS period_end_price
    FROM ar
    LEFT JOIN sp2 ON ar.commodity_name = sp2.commodity_name AND ar.time_period = sp2.time_period
    LEFT JOIN ep2 ON ar.commodity_name = ep2.commodity_name AND ar.time_period = ep2.time_period"""

  // ------------------------------------------------------------------
  // calculate_commodity_analysis_return
  // ------------------------------------------------------------------

  /** The analysis_return macro over (price, price, price): reuses the
    * market template's single-pass window-family plan under renamed
    * keys (commodity_unit rides the `exchange` slot). */
  def commodityAnalysisReturn(stg: DataFrame): DataFrame = {
    val p = col("price")
    val uni = stg.select(
      col("commodity_name").as("symbol"), col("commodity_unit").as("exchange"), col("date"),
      p.as("close"), p.as("high"), p.as("low"), p.as("volume"),
      p.as("adj_close"), p.as("adj_high"), p.as("adj_low"), p.as("adj_volume"))
    val ar = MarketAnalysisReturn.analysisReturn(uni)
    ar.select(
      Seq(col("symbol").as("commodity_name"), col("exchange").as("commodity_unit"),
        col("date"), col("current_price")) ++
        MarketAnalysisReturn.Horizons.flatMap { case (_, tag) =>
          Seq(col(s"high_$tag"), col(s"low_$tag"), col(s"std_diff_$tag"), col(s"pct_change_$tag"))
        }: _*)
  }

  def commodityAnalysisReturnOracleSql(c: PriceBars.Commodity): String = {
    val uniCte = s"""uni AS (
      SELECT commodity_name AS symbol, commodity_unit AS exchange, date,
        price AS close, price AS high, price AS low, price AS volume,
        price AS adj_close, price AS adj_high, price AS adj_low, price AS adj_volume
      FROM (
        SELECT ${c.universe.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS date,
          ${PriceBars.closeSql} AS price, '${c.unit}' AS commodity_unit
        FROM lineitem GROUP BY 1, 2
      )
    )"""
    val horizonCols = MarketAnalysisReturn.Horizons.flatMap { case (_, tag) =>
      Seq(s"high_$tag", s"low_$tag", s"std_diff_$tag", s"pct_change_$tag")
    }.mkString(", ")
    s"""
    SELECT symbol AS commodity_name, exchange AS commodity_unit, date, current_price,
      $horizonCols
    FROM (${MarketAnalysisReturn.oracleSql(uniCte)})"""
  }

  // ------------------------------------------------------------------

  /** agent_commodity_performance.sql projection over one summary. */
  private def agentPerfCols(category: Column): Seq[Column] = Seq(
    col("commodity_name"), col("commodity_name").as("commodity"), col("commodity_unit"),
    col("time_period"), col("period_start_date"), col("period_end_date"),
    col("trading_days"), col("total_return_pct"), col("avg_daily_return_pct"),
    col("volatility_pct"), col("volatility_pct").as("annualized_volatility_pct"),
    col("win_rate_pct"), col("total_price_change"), col("avg_daily_price_change"),
    col("worst_day_change"), col("worst_day_change").as("worst_day_pct_change"),
    col("best_day_change"), col("best_day_change").as("best_day_pct_change"),
    col("positive_days"), col("negative_days"), col("neutral_days"),
    col("period_start_price"), col("period_end_price"),
    category.as("commodity_category"),
    lit(null).cast("date").as("snapshot_date"))

  private val agentPerfColsSql =
    """commodity_name, commodity_name AS commodity, commodity_unit, time_period,
       period_start_date, period_end_date, trading_days, total_return_pct,
       avg_daily_return_pct, volatility_pct, volatility_pct AS annualized_volatility_pct,
       win_rate_pct, total_price_change, avg_daily_price_change,
       worst_day_change, worst_day_change AS worst_day_pct_change,
       best_day_change, best_day_change AS best_day_pct_change,
       positive_days, negative_days, neutral_days, period_start_price, period_end_price"""

  val defs: Seq[QueryDef] =
    PriceBars.Commodities.map { c =>
      QueryDef(
        s"q_${c.root}_summary",
        (s, dir) => commoditySummary(staging(PriceBars.commodity(PriceBars.lines(s, dir), c))),
        Some(commoditySummaryOracleSql(stagingCte(c)))
      )
    } ++ PriceBars.Commodities.map { c =>
      QueryDef(
        s"q_${c.root}_analysis_return",
        (s, dir) => commodityAnalysisReturn(staging(PriceBars.commodity(PriceBars.lines(s, dir), c))),
        Some(commodityAnalysisReturnOracleSql(c))
      )
    } ++ Seq(
      QueryDef(
        "q_agent_commodity_performance",
        // ONE summary run over the single-scan staging: the bounds
        // scalar (max date) and every window/aggregation key are
        // independent per commodity prefix, so one shared pipeline
        // equals three (each universe's date domain is the full
        // ship-date range)
        (s, dir) => commoditySummary(staging(PriceBars.commodities(PriceBars.lines(s, dir))))
          .select(agentPerfCols(PriceBars.commodityCategory): _*),
        Some(PriceBars.Commodities.map { c =>
          s"""SELECT $agentPerfColsSql, '${c.category}' AS commodity_category,
                CAST(NULL AS DATE) AS snapshot_date
              FROM (${commoditySummaryOracleSql(stagingCte(c))})"""
        }.mkString(" UNION ALL "))
      )
    )
}
