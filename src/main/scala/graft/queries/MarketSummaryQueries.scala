package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.MarketSummary
import graft.queries.QueryDef.r4
import graft.runtime.Tables

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

  private val mdKey =
    "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
      "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR))"

  /** (model name, spark bucket, sql bucket, asset_type, exchange) */
  private val universes: Seq[(String, Column, String, String, String)] = Seq(
    ("us_sector_summary", concat(lit("SECT_"), col("l_returnflag")),
      "'SECT_' || l_returnflag", "sector_etf", "NYSEARCA"),
    ("sp500_companies_summary", concat(lit("SP_"), col("l_suppkey") % 100),
      "'SP_' || CAST(l_suppkey % 100 AS VARCHAR)", "stock", "NYSE"),
    ("nasdaq_companies_summary", concat(lit("ND_"), col("l_partkey") % 200),
      "'ND_' || CAST(l_partkey % 200 AS VARCHAR)", "stock", "NASDAQ"),
    ("major_indices_summary", concat(lit("IDX_"), col("l_linestatus")),
      "'IDX_' || l_linestatus", "index", "INDEX"),
    ("major_indicies_summary", concat(lit("IDX_"), col("l_linestatus")),
      "'IDX_' || l_linestatus", "index", "INDEX"),
    ("global_markets_summary", concat(lit("GM_"), col("l_suppkey") % 7),
      "'GM_' || CAST(l_suppkey % 7 AS VARCHAR)", "index", "GLOBAL"),
    ("currency_summary", concat(lit("FX_"), col("l_partkey") % 9),
      "'FX_' || CAST(l_partkey % 9 AS VARCHAR)", "currency", "FOREX")
    // the commodity summaries use calculate_commodity_summary, not this
    // macro — they live in CommodityQueries (round-3 fidelity fix)
  )

  /** OHLC universe staging: per-(bucket, day) bars, md5-keyed
    * open/close selection (ModelQueries.bars pattern), adj = raw/2. */
  def universe(s: SparkSession, dir: String, bucket: Column,
               assetType: String, exchange: String): DataFrame = {
    val key = md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
    Tables(s, dir).lineitem
      .groupBy(bucket.as("symbol"), to_date(col("l_shipdate")).as("trade_date"))
      .agg(
        r4(min_by(col("l_extendedprice"), key)).as("open"),
        r4(max_by(col("l_extendedprice"), key)).as("close"))
      .withColumn("adj_open", col("open") * 0.5)
      .withColumn("adj_close", col("close") * 0.5)
      .withColumn("asset_type", lit(assetType))
      .withColumn("exchange", lit(exchange))
      .withColumn("name", concat(lit("Name "), col("symbol")))
  }

  def uniCte(bucketSql: String, assetType: String, exchange: String): String = s"""
    uni AS (
      SELECT *, open * 0.5 AS adj_open, close * 0.5 AS adj_close,
        '$assetType' AS asset_type, '$exchange' AS exchange,
        'Name ' || symbol AS name
      FROM (
        SELECT $bucketSql AS symbol, CAST(l_shipdate AS DATE) AS trade_date,
          ROUND(MIN_BY(l_extendedprice, $mdKey), 4) + 0.0 AS open,
          ROUND(MAX_BY(l_extendedprice, $mdKey), 4) + 0.0 AS close
        FROM lineitem GROUP BY 1, 2
      )
    )"""

  val defs: Seq[QueryDef] = universes.map { case (name, bucket, bucketSql, at, ex) =>
    QueryDef(
      s"q_$name",
      (s, dir) => MarketSummary.summarize(universe(s, dir, bucket, at, ex)),
      Some(MarketSummary.oracleSql(uniCte(bucketSql, at, ex)))
    )
  }
}
