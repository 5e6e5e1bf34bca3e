package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.epochDay
import graft.models.PriceBars
import graft.queries.FredSignalQueries.{idxOf, stgFred, stgFredSql}
import graft.runtime.Tables

/** The market-side staging fleet 1:1 (SURVEY.md §2.M staging; refs
  * dbt_project/models/staging/): every stg_* model a reference user
  * materializes gets a named query with the reference's cleaned
  * schema. The OHLC price stagings share one template (raw-source
  * projection + the SAFE_CAST substr date normalization, ref
  * stg_us_sectors.sql); commodity stagings are the price-only
  * template; stg_fred_series carries the sentinel-"." cleaning and
  * series-mapping join; the realtor history models are the
  * five-geography SELECT * family.
  *
  * Raw sources synthesize from lineitem/orders with the same md5/
  * modulus fixtures as the model universes, so staging output and the
  * models built on the same buckets stay consistent.
  *
  * Scale: each staging is a single aggregation or projection of one
  * fact scan — no joins except broadcast dimension maps.
  */
object StagingMarketQueries {

  /** (model suffix, universe, asset_type, exchange) — same universes as
    * the summary/analysis models. */
  private val PriceStagings: Seq[(String, PriceBars.Universe, String, String)] = Seq(
    ("sp500_companies_prices", PriceBars.Sp500, "stock", "NYSE"),
    ("nasdaq_companies_prices", PriceBars.Nasdaq, "stock", "NASDAQ"),
    ("us_sectors", PriceBars.Sectors, "sector_etf", "NYSEARCA"),
    ("major_indices", PriceBars.Indices, "index", "INDEX"),
    ("global_markets", PriceBars.GlobalMarkets, "index", "GLOBAL"),
    ("currency", PriceBars.Currency, "currency", "FOREX"),
    ("fixed_income", PriceBars.FixedIncome, "bond_etf", "BONDS"),
    ("factor_etfs", PriceBars.Factors, "factor_etf", "NYSEARCA"),
    ("commodity_etfs", PriceBars.CommodityEtfs, "commodity_etf", "NYSEARCA"))

  /** Full raw-schema OHLC staging (ref stg_us_sectors.sql column set):
    * the universe's bars rounded to 4 decimals, adj = raw/2,
    * split/dividend fixture columns as in CorporateActionQueries. */
  private def priceStaging(s: SparkSession, dir: String, uni: PriceBars.Universe,
                           assetType: String, exchange: String): DataFrame = {
    val hx = md5(concat_ws("|", col("symbol"), col("date").cast("string")))
    val dx = md5(concat_ws("|", lit("div"), col("symbol"), col("date").cast("string")))
    PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("symbol")))
      .select(col("symbol") +: col("date") +:
        Seq("open", "high", "low", "close", "volume").map(c => QueryDef.r4(col(c)).as(c)): _*)
      .select(
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        (col("high") * 0.5).as("adj_high"),
        (col("low") * 0.5).as("adj_low"),
        (col("close") * 0.5).as("adj_close"),
        (col("open") * 0.5).as("adj_open"),
        (col("volume") * 2).as("adj_volume"),
        when(substring(hx, 1, 2) === "00", 2.0).otherwise(1.0).as("split_factor"),
        when(substring(dx, 1, 1) === "0", col("low") * 0.01).otherwise(0.0).as("dividend"),
        concat(lit("Name "), col("symbol")).as("name"),
        lit(exchange).as("exchange_code"),
        lit(assetType).as("asset_type"),
        lit("USD").as("price_currency"),
        col("symbol"), lit(exchange).as("exchange"), col("date"))
  }

  private def priceStagingSql(bucketSql: String, assetType: String, exchange: String): String = s"""
    SELECT open, high, low, close, volume,
      high * 0.5 AS adj_high, low * 0.5 AS adj_low,
      close * 0.5 AS adj_close, open * 0.5 AS adj_open,
      volume * 2 AS adj_volume,
      CASE WHEN SUBSTR(md5(symbol || '|' || CAST(date AS VARCHAR)), 1, 2) = '00'
           THEN 2.0 ELSE 1.0 END AS split_factor,
      CASE WHEN SUBSTR(md5('div|' || symbol || '|' || CAST(date AS VARCHAR)), 1, 1) = '0'
           THEN low * 0.01 ELSE 0.0 END AS dividend,
      'Name ' || symbol AS name,
      '$exchange' AS exchange_code, '$assetType' AS asset_type, 'USD' AS price_currency,
      symbol, '$exchange' AS exchange, date
    FROM (
      SELECT $bucketSql AS symbol, CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.openSql}, 4) + 0.0 AS open,
        ROUND(MAX(l_extendedprice), 4) + 0.0 AS high,
        ROUND(MIN(l_extendedprice), 4) + 0.0 AS low,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS volume
      FROM lineitem GROUP BY 1, 2
    )"""

  /** Realtor history levels: (suffix, geo columns spark, geo sql). */
  private val RealtorLevels: Seq[(String, SparkSession => Seq[Column], String)] = Seq(
    ("country", _ => Seq(lit("United States").as("country")), "'United States' AS country"),
    ("state", _ => Seq(concat(lit("State "), col("o_custkey") % 50).as("state"),
      concat(lit("ST"), col("o_custkey") % 50).as("state_id")),
      "'State ' || CAST(o_custkey % 50 AS VARCHAR) AS state, 'ST' || CAST(o_custkey % 50 AS VARCHAR) AS state_id"),
    ("metro", _ => Seq(concat(lit("Metro "), col("o_custkey") % 90).as("cbsa_title"),
      (col("o_custkey") % 90 + 10000).as("cbsa_code")),
      "'Metro ' || CAST(o_custkey % 90 AS VARCHAR) AS cbsa_title, o_custkey % 90 + 10000 AS cbsa_code"),
    ("county", _ => Seq(concat(lit("County "), col("o_custkey") % 300).as("county_name"),
      (col("o_custkey") % 300 + 1000).as("county_fips")),
      "'County ' || CAST(o_custkey % 300 AS VARCHAR) AS county_name, o_custkey % 300 + 1000 AS county_fips"),
    ("zip", _ => Seq((col("o_custkey") % 900 + 10000).as("postal_code")),
      "o_custkey % 900 + 10000 AS postal_code"))

  /** realtor_*_raw: per (geo, month) listing stats from orders. */
  private def realtorStaging(s: SparkSession, dir: String, geo: Seq[Column]): DataFrame = {
    val month = trunc(to_date(col("o_orderdate")), "month")
    Tables(s, dir).orders
      .groupBy((geo :+ date_format(month, "yyyyMM").cast("int").as("month_date_yyyymm")): _*)
      .agg(
        // int-ratio quotient → exact-decimal division (rdiv pattern)
        QueryDef.rdiv(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 6))),
          count(col("o_totalprice")), 4).as("median_listing_price"),
        count(lit(1)).as("active_listing_count"),
        (min(col("o_orderkey")) % 90 + 10).cast("long").as("median_days_on_market"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).cast("long").as("new_listing_count"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("price_reduced_count"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("long").as("pending_listing_count"))
      .withColumn("total_listing_count",
        col("active_listing_count") + col("pending_listing_count"))
  }

  private def realtorStagingSql(geoSql: String, geoNames: Seq[String]): String = {
    val geoList = geoNames.mkString(", ")
    s"""
    SELECT *, active_listing_count + pending_listing_count AS total_listing_count
    FROM (
      SELECT $geoSql,
        CAST(STRFTIME(CAST(DATE_TRUNC('month', o_orderdate) AS DATE), '%Y%m') AS INT) AS month_date_yyyymm,
        ${QueryDef.oDivRound("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(o_totalprice)", 4)} AS median_listing_price,
        CAST(COUNT(*) AS BIGINT) AS active_listing_count,
        CAST(MIN(o_orderkey) % 90 + 10 AS BIGINT) AS median_days_on_market,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS new_listing_count,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS price_reduced_count,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS pending_listing_count
      FROM orders GROUP BY $geoList,
        CAST(STRFTIME(CAST(DATE_TRUNC('month', o_orderdate) AS DATE), '%Y%m') AS INT)
    )"""
  }

  private val FredStgCodes = Seq("INDPRO", "UNRATE", "PAYEMS", "CPIAUCSL",
    "T10Y2Y", "NFCI", "UMCSENT", "IPMAN")

  val defs: Seq[QueryDef] =
    PriceStagings.map { case (suffix, uni, at, ex) =>
      QueryDef(
        s"q_stg_$suffix",
        (s, dir) => priceStaging(s, dir, uni, at, ex),
        Some(priceStagingSql(uni.sql, at, ex))
      )
    } ++ PriceBars.Commodities.map { c =>
      // stg_energy_commodities.sql etc.: commodity_name/_unit/date/price
      QueryDef(
        s"q_stg_${c.root}",
        (s, dir) => CommodityQueries.staging(PriceBars.commodity(PriceBars.lines(s, dir), c))
          .select("commodity_name", "commodity_unit", "date", "price"),
        Some(s"SELECT commodity_name, commodity_unit, date, price FROM ${CommodityQueries.stagingCte(c).replaceFirst("cstg AS ", "")}")
      )
    } ++ Seq(
      // stg_fred_series.sql: sentinel-"." cleaned values + mapping join
      // (value/literal/series_name/category). The "." sentinel rows are
      // the literal-null rows of the shared stgFred fixture.
      QueryDef(
        "q_stg_fred_series",
        (s, dir) => {
          val catCol = FredStgCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
            when(col("series_code") === c, lit(s"cat${idxOf(c) % 5}")).otherwise(acc)
          }
          stgFred(s, dir, FredStgCodes).select(
            col("date"),
            col("literal").as("value"),
            col("series_code"),
            col("literal"),
            concat(lit("Series "), col("series_code")).as("series_name"),
            catCol.as("category"))
        },
        Some {
          val catCase = FredStgCodes.map(c => s"WHEN '$c' THEN 'cat${idxOf(c) % 5}'").mkString(" ")
          s"""
          WITH ${stgFredSql(FredStgCodes)}
          SELECT date, literal AS value, series_code, literal,
            'Series ' || series_code AS series_name,
            CASE series_code $catCase END AS category
          FROM stg"""
        }
      ),
      // stg_sp500_companies_active.sql: constituents with
      // date_ended IS NULL (the n % 3 != 0 active subset, shared with
      // the reddit ticker-mention validation dimension)
      QueryDef(
        "q_stg_sp500_companies_active",
        (s, dir) => Tables(s, dir).part
          .select((col("p_partkey") % 40).as("n")).distinct()
          .filter(col("n") % 3 =!= 0)
          .select(
            concat(lit("T"), col("n")).as("symbol"),
            concat(lit("Company "), col("n")).as("company_name"),
            concat(lit("Sector "), col("n") % 5).as("sector"),
            concat(lit("Ind "), col("n") % 11).as("sub_industry"),
            concat(lit("City "), col("n") % 7).as("headquarters"),
            to_date(lit("1990-01-01")).as("date_added"),
            (col("n") + 1000000).as("cik"),
            (lit(1900) + col("n") % 100).cast("long").as("founded")),
        Some("""
          SELECT 'T' || CAST(n AS VARCHAR) AS symbol,
            'Company ' || CAST(n AS VARCHAR) AS company_name,
            'Sector ' || CAST(n % 5 AS VARCHAR) AS sector,
            'Ind ' || CAST(n % 11 AS VARCHAR) AS sub_industry,
            'City ' || CAST(n % 7 AS VARCHAR) AS headquarters,
            DATE '1990-01-01' AS date_added,
            n + 1000000 AS cik,
            CAST(1900 + n % 100 AS BIGINT) AS founded
          FROM (SELECT DISTINCT p_partkey % 40 AS n FROM part) WHERE n % 3 != 0
        """)
      ),
      // stg_housing_inventory.sql: raw census cells + mapping join
      // (the same fixture the housing models consume, plus the
      // time_slot_id / us columns of the raw source)
      QueryDef(
        "q_stg_housing_inventory",
        (s, dir) => Tables(s, dir).orders.select(
          concat(lit("DT"), col("o_custkey") % 5).as("data_type_code"),
          (col("o_orderkey") % 40).cast("long").as("time_slot_id"),
          when(col("o_orderkey") % 2 === 0, "yes").otherwise("no").as("seasonally_adj"),
          when(col("o_custkey") % 4 === 0, "ESTIMATE")
            .when(col("o_custkey") % 4 === 1, "RATE")
            .when(col("o_custkey") % 4 === 2, "TOTAL")
            .otherwise("OTHER").as("category_code"),
          when(col("o_orderkey") % 13 === 0, "(z)")
            .otherwise(col("o_totalprice").cast("string")).as("cell_value"),
          when(col("o_orderkey") % 11 === 0, "yes").otherwise("no").as("error_data"),
          concat(year(col("o_orderdate")), lit("Q"), quarter(col("o_orderdate"))).as("time"),
          lit(1L).as("us"),
          when(col("o_custkey") % 5 === 0, "Housing Inventory Estimate")
            .when(col("o_custkey") % 5 === 1, "Vacancy Rate")
            .when(col("o_custkey") % 5 === 2, "Homeownership Rate")
            .when(col("o_custkey") % 5 === 3, "Median Asking Price")
            .otherwise("Total Households").as("series_name"),
          concat(lit("grp"), col("o_custkey") % 3).as("plot_grouping")),
        Some("""
          SELECT 'DT' || CAST(o_custkey % 5 AS VARCHAR) AS data_type_code,
            o_orderkey % 40 AS time_slot_id,
            CASE WHEN o_orderkey % 2 = 0 THEN 'yes' ELSE 'no' END AS seasonally_adj,
            CASE WHEN o_custkey % 4 = 0 THEN 'ESTIMATE'
                 WHEN o_custkey % 4 = 1 THEN 'RATE'
                 WHEN o_custkey % 4 = 2 THEN 'TOTAL'
                 ELSE 'OTHER' END AS category_code,
            CASE WHEN o_orderkey % 13 = 0 THEN '(z)'
                 ELSE CAST(o_totalprice AS VARCHAR) END AS cell_value,
            CASE WHEN o_orderkey % 11 = 0 THEN 'yes' ELSE 'no' END AS error_data,
            CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) || 'Q' ||
              CAST(EXTRACT(QUARTER FROM o_orderdate) AS VARCHAR) AS time,
            CAST(1 AS BIGINT) AS us,
            CASE WHEN o_custkey % 5 = 0 THEN 'Housing Inventory Estimate'
                 WHEN o_custkey % 5 = 1 THEN 'Vacancy Rate'
                 WHEN o_custkey % 5 = 2 THEN 'Homeownership Rate'
                 WHEN o_custkey % 5 = 3 THEN 'Median Asking Price'
                 ELSE 'Total Households' END AS series_name,
            'grp' || CAST(o_custkey % 3 AS VARCHAR) AS plot_grouping
          FROM orders
        """)
      ),
      // stg_housing_pulse.sql: SELECT * of the pulse survey source
      QueryDef(
        "q_stg_housing_pulse",
        (s, dir) => Tables(s, dir).orders
          .filter(col("o_orderkey") % 7 === 0)
          .select(
            year(col("o_orderdate")).cast("long").as("survey_year"),
            concat(lit("Measure "), col("o_custkey") % 6).as("name"),
            concat(lit("measure_"), col("o_custkey") % 6).as("measure_name"),
            trunc(to_date(col("o_orderdate")), "month").as("col_start_date"),
            last_day(to_date(col("o_orderdate"))).as("col_end_date"),
            QueryDef.r4(col("o_totalprice") % 100).as("rate"),
            (col("o_orderkey") % 100000).cast("long").as("total"),
            concat(lit("Description of measure "), col("o_custkey") % 6).as("measure_description"),
            concat(year(col("o_orderdate")), lit("W"), col("o_orderkey") % 52).as("time"),
            (col("o_orderkey") % 12 + 1).cast("long").as("cycle"),
            concat(lit("State "), col("o_custkey") % 50).as("state")),
        Some("""
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS survey_year,
            'Measure ' || CAST(o_custkey % 6 AS VARCHAR) AS name,
            'measure_' || CAST(o_custkey % 6 AS VARCHAR) AS measure_name,
            CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS col_start_date,
            LAST_DAY(CAST(o_orderdate AS DATE)) AS col_end_date,
            ROUND(o_totalprice % 100, 4) + 0.0 AS rate,
            o_orderkey % 100000 AS total,
            'Description of measure ' || CAST(o_custkey % 6 AS VARCHAR) AS measure_description,
            CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) || 'W' ||
              CAST(o_orderkey % 52 AS VARCHAR) AS time,
            o_orderkey % 12 + 1 AS cycle,
            'State ' || CAST(o_custkey % 50 AS VARCHAR) AS state
          FROM orders WHERE o_orderkey % 7 = 0
        """)
      )
    ) ++ RealtorLevels.map { case (level, geo, geoSql) =>
      val geoNames = geoSql.split(",").map(_.trim.split(" AS ").last).toSeq
      QueryDef(
        s"q_stg_realtor_${level}_history",
        (s, dir) => realtorStaging(s, dir, geo(s)),
        Some(realtorStagingSql(geoSql, geoNames))
      )
    }
}
