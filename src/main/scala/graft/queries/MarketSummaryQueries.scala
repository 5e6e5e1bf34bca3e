package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.{MarketSummary, PriceBars}
import graft.queries.QueryDef.r4

/** The ten named `*_summary` models (SURVEY.md §2.M row 90; ref
  * dbt_project/models/markets + commodities model dirs) — each is the
  * `calculate_market_summary` macro over a different universe staging
  * table. Universes are synthesized deterministically from lineitem
  * (distinct symbol spaces per model); `major_indicies_summary` is the
  * reference's own typo-twin of `major_indices_summary` and is kept so
  * every name a reference user materializes exists here too.
  * Adjusted prices are raw × 0.5 (an exact power-of-two "split
  * factor") so adj deltas stay exact decimals for the hash gate.
  */
object MarketSummaryQueries {

  /** (model name, universe, asset_type, exchange) */
  private val universes: Seq[(String, PriceBars.Universe, String, String)] = Seq(
    ("us_sector_summary", PriceBars.Sectors, "sector_etf", "NYSEARCA"),
    ("sp500_companies_summary", PriceBars.Sp500, "stock", "NYSE"),
    ("nasdaq_companies_summary", PriceBars.Nasdaq, "stock", "NASDAQ"),
    ("major_indices_summary", PriceBars.Indices, "index", "INDEX"),
    ("major_indicies_summary", PriceBars.Indices, "index", "INDEX"),
    ("global_markets_summary", PriceBars.GlobalMarkets, "index", "GLOBAL"),
    ("currency_summary", PriceBars.Currency, "currency", "FOREX")
    // the commodity summaries use calculate_commodity_summary, not this
    // macro — they live in CommodityQueries (round-3 fidelity fix)
  )

  /** OHLC universe staging: the universe's open/close bars rounded to 4
    * decimals, day column `trade_date`, adj = raw/2. */
  def universe(s: SparkSession, dir: String, uni: PriceBars.Universe,
               assetType: String, exchange: String): DataFrame =
    PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("symbol")))
      .select(col("symbol"), col("date").as("trade_date"),
        r4(col("open")).as("open"), r4(col("close")).as("close"))
      .withColumn("adj_open", col("open") * 0.5)
      .withColumn("adj_close", col("close") * 0.5)
      .withColumn("asset_type", lit(assetType))
      .withColumn("exchange", lit(exchange))
      .withColumn("name", concat(lit("Name "), col("symbol")))

  def uniCte(uni: PriceBars.Universe, assetType: String, exchange: String): String = s"""
    uni AS (
      SELECT *, open * 0.5 AS adj_open, close * 0.5 AS adj_close,
        '$assetType' AS asset_type, '$exchange' AS exchange,
        'Name ' || symbol AS name
      FROM (
        SELECT ${uni.sql} AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
          ROUND(${PriceBars.openSql}, 4) + 0.0 AS open,
          ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close
        FROM lineitem GROUP BY 1, 2
      )
    )"""

  val defs: Seq[QueryDef] = universes.map { case (name, uni, at, ex) =>
    QueryDef(
      s"q_$name",
      (s, dir) => MarketSummary.summarize(universe(s, dir, uni, at, ex)),
      Some(MarketSummary.oracleSql(uniCte(uni, at, ex)))
    )
  }
}
