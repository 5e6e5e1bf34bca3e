package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.MarketAnalysisReturn
import graft.queries.QueryDef.{dsum, r4}
import graft.runtime.Tables

/** The twelve named `*_analysis_return` models (SURVEY.md §2.M row 91)
  * — `calculate_market_analysis_return` over per-model universes.
  * Universe prices are RAW 2-decimal l_extendedprice aggregates (no
  * rounding), so adj = raw × 0.5 gives exact 3-decimal values and the
  * model's DECIMAL(18,3) moment snap is lossless. Includes the
  * reference's `major_indicies` typo-twin.
  */
object MarketAnalysisQueries {

  private val mdKey =
    "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
      "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR))"

  /** (model name, spark bucket, sql bucket, exchange) */
  private val universes: Seq[(String, Column, String, String)] = Seq(
    ("us_sector_analysis_return", concat(lit("SECT_"), col("l_returnflag")),
      "'SECT_' || l_returnflag", "NYSEARCA"),
    ("sp500_companies_analysis_return", concat(lit("SP_"), col("l_suppkey") % 100),
      "'SP_' || CAST(l_suppkey % 100 AS VARCHAR)", "NYSE"),
    ("nasdaq_companies_analysis_return", concat(lit("ND_"), col("l_partkey") % 200),
      "'ND_' || CAST(l_partkey % 200 AS VARCHAR)", "NASDAQ"),
    ("major_indices_analysis_return", concat(lit("IDX_"), col("l_linestatus")),
      "'IDX_' || l_linestatus", "INDEX"),
    ("major_indicies_analysis_return", concat(lit("IDX_"), col("l_linestatus")),
      "'IDX_' || l_linestatus", "INDEX"),
    ("global_markets_analysis_return", concat(lit("GM_"), col("l_suppkey") % 7),
      "'GM_' || CAST(l_suppkey % 7 AS VARCHAR)", "GLOBAL"),
    ("currency_analysis_return", concat(lit("FX_"), col("l_partkey") % 9),
      "'FX_' || CAST(l_partkey % 9 AS VARCHAR)", "FOREX"),
    ("factor_analysis_return", concat(lit("FAC_"), col("l_suppkey") % 12),
      "'FAC_' || CAST(l_suppkey % 12 AS VARCHAR)", "NYSEARCA"),
    ("fixed_income_analysis_return", concat(lit("FI_"), col("l_partkey") % 11),
      "'FI_' || CAST(l_partkey % 11 AS VARCHAR)", "BONDS")
    // the commodity analysis_returns use
    // calculate_commodity_analysis_return — see CommodityQueries
  )

  /** Shared pre-aggregation projection for universe builds: the md5
    * tie-break key is a per-ROW hash of four id columns — computing it
    * inside every universe branch makes an N-universe model pay N
    * scans × N key hashes over the fact table. Multi-universe callers
    * (baseHistorical's five branches) persist THIS narrow frame once
    * and aggregate it N times; single-universe queries use it
    * unpersisted (identical plan to the inlined form). */
  def universeBase(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem.select(
      // every column a caller's bucket expression may reference
      // (factor/taa/etf buckets key on l_orderkey/l_suppkey too);
      // unused ones are pruned by Catalyst below each groupBy
      col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_linestatus"), col("l_returnflag"),
      to_date(col("l_shipdate")).as("date"),
      col("l_extendedprice"), col("l_quantity"),
      md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .as("__key"))

  /** One universe aggregation over a [[universeBase]] frame. */
  def universeFrom(base: DataFrame, bucket: Column, exchange: String): DataFrame =
    base
      .groupBy(bucket.as("symbol"), col("date"))
      .agg(
        max(col("l_extendedprice")).as("high"),
        min(col("l_extendedprice")).as("low"),
        max_by(col("l_extendedprice"), col("__key")).as("close"),
        r4(dsum(col("l_quantity"))).as("volume"))
      .withColumn("adj_close", col("close") * 0.5)
      .withColumn("adj_high", col("high") * 0.5)
      .withColumn("adj_low", col("low") * 0.5)
      .withColumn("adj_volume", col("volume") * 2)
      .withColumn("exchange", lit(exchange))

  def universe(s: SparkSession, dir: String, bucket: Column, exchange: String): DataFrame =
    universeFrom(universeBase(s, dir), bucket, exchange)

  def uniCte(bucketSql: String, exchange: String): String = s"""
    uni AS (
      SELECT *, close * 0.5 AS adj_close, high * 0.5 AS adj_high,
        low * 0.5 AS adj_low, volume * 2 AS adj_volume,
        '$exchange' AS exchange
      FROM (
        SELECT $bucketSql AS symbol, CAST(l_shipdate AS DATE) AS date,
          MAX(l_extendedprice) AS high,
          MIN(l_extendedprice) AS low,
          MAX_BY(l_extendedprice, $mdKey) AS close,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS volume
        FROM lineitem GROUP BY 1, 2
      )
    )"""

  val defs: Seq[QueryDef] = universes.map { case (name, bucket, bucketSql, ex) =>
    QueryDef(
      s"q_$name",
      (s, dir) => MarketAnalysisReturn.analysisReturn(universe(s, dir, bucket, ex)),
      Some(MarketAnalysisReturn.oracleSql(uniCte(bucketSql, ex)))
    )
  }
}
