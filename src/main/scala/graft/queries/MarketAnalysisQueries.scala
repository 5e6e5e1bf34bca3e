package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.queries.QueryDef.r4

/** The twelve named `*_analysis_return` models (SURVEY.md §2.M row 91)
  * — `calculate_market_analysis_return` over per-model universes.
  * Universe prices are RAW 2-decimal l_extendedprice aggregates (no
  * rounding), so adj = raw × 0.5 gives exact 3-decimal values and the
  * model's DECIMAL(18,3) moment snap is lossless. Includes the
  * reference's `major_indicies` typo-twin.
  */
object MarketAnalysisQueries {

  /** (model name, universe, exchange) */
  private val universes: Seq[(String, PriceBars.Universe, String)] = Seq(
    ("us_sector_analysis_return", PriceBars.Sectors, "NYSEARCA"),
    ("sp500_companies_analysis_return", PriceBars.Sp500, "NYSE"),
    ("nasdaq_companies_analysis_return", PriceBars.Nasdaq, "NASDAQ"),
    ("major_indices_analysis_return", PriceBars.Indices, "INDEX"),
    ("major_indicies_analysis_return", PriceBars.Indices, "INDEX"),
    ("global_markets_analysis_return", PriceBars.GlobalMarkets, "GLOBAL"),
    ("currency_analysis_return", PriceBars.Currency, "FOREX"),
    ("factor_analysis_return", PriceBars.Factors, "NYSEARCA"),
    ("fixed_income_analysis_return", PriceBars.FixedIncome, "BONDS")
    // the commodity analysis_returns use
    // calculate_commodity_analysis_return — see CommodityQueries
  )

  /** One universe's analysis-return staging: the RAW high/low/close
    * bars, volume rounded to 4 decimals, adj = raw × 0.5 (volume × 2). */
  def universe(s: SparkSession, dir: String, uni: PriceBars.Universe, exchange: String): DataFrame =
    PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("symbol")))
      .select(col("symbol"), col("date"), col("high"), col("low"), col("close"),
        r4(col("volume")).as("volume"))
      .withColumn("adj_close", col("close") * 0.5)
      .withColumn("adj_high", col("high") * 0.5)
      .withColumn("adj_low", col("low") * 0.5)
      .withColumn("adj_volume", col("volume") * 2)
      .withColumn("exchange", lit(exchange))

  def uniCte(uni: PriceBars.Universe, exchange: String): String = s"""
    uni AS (
      SELECT *, close * 0.5 AS adj_close, high * 0.5 AS adj_high,
        low * 0.5 AS adj_low, volume * 2 AS adj_volume,
        '$exchange' AS exchange
      FROM (
        SELECT ${uni.sql} AS symbol, CAST(l_shipdate AS DATE) AS date,
          MAX(l_extendedprice) AS high,
          MIN(l_extendedprice) AS low,
          ${PriceBars.closeSql} AS close,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS volume
        FROM lineitem GROUP BY 1, 2
      )
    )"""

  val defs: Seq[QueryDef] = universes.map { case (name, uni, ex) =>
    QueryDef(
      s"q_$name",
      (s, dir) => MarketAnalysisReturn.analysisReturn(universe(s, dir, uni, ex)),
      Some(MarketAnalysisReturn.oracleSql(uniCte(uni, ex)))
    )
  }
}
