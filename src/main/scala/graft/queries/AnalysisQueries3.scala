package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryDef.{maxDate, maxDateSql, oDivRound, oSnap, rdiv, rsnap}
import graft.runtime.Tables

/** The dispersion pair (refs dbt_project/models/analysis/dispersion/
  * sector_dispersion_analysis.sql and sector_breadth_timeseries.sql):
  *
  *  - sector_dispersion_analysis: per-GICS-sector dispersion of
  *    per-stock trailing-1y returns (stddev, best-worst spread, mean,
  *    median), the rank-pivoted top/bottom-2 leaders-laggards, and
  *    calendar-year return columns.
  *  - sector_breadth_timeseries: per-sector % of stocks above their
  *    200-day SMA, sampled to the last trading day of each week.
  *
  * Corpus adaptations (documented): CURRENT_DATE → corpus max ship
  * date; the reference's literal calendar years 2023/2024 map to the
  * TPC-H era's full years 1996/1997 (column NAMES stay `return_2023`/
  * `return_2024` — they are part of the model's surface); BigQuery
  * week-trunc starts Sunday, Spark/DuckDB ISO Monday (same on both
  * sides here); rank and weekly-sample ROW_NUMBERs add symbol/date
  * tie-breaks for a total order.
  *
  * Staging: 100 synthetic stocks (l_suppkey residues) with exact-
  * decimal daily mean prices; a companies table maps each stock to one
  * of the reference's 11 GICS sectors.
  */
object AnalysisQueries3 {

  /** (gics_sector, etf_symbol, sector_display_name) — ref literal. */
  val SectorMapping: Seq[(String, String, String)] = Seq(
    ("Information Technology", "XLK", "Technology"),
    ("Communication Services", "XLC", "Communication Services"),
    ("Consumer Discretionary", "XLY", "Consumer Discretionary"),
    ("Financials", "XLF", "Financial"),
    ("Industrials", "XLI", "Industrial"),
    ("Utilities", "XLU", "Utilities"),
    ("Consumer Staples", "XLP", "Consumer Staples"),
    ("Real Estate", "XLRE", "Real Estate"),
    ("Materials", "XLB", "Materials"),
    ("Energy", "XLE", "Energy"),
    ("Health Care", "XLV", "Health Care"))

  private def sectorMappingDF(s: SparkSession): DataFrame = {
    import s.implicits._
    SectorMapping.toDF("gics_sector", "etf_symbol", "sector_display_name")
  }

  /** Per-stock daily prices: (symbol, date, adj_close). */
  private def stockPrices(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(concat(lit("S"), col("l_suppkey") % 100).as("symbol"),
        to_date(col("l_shipdate")).as("date"))
      .agg(QueryDef.rdiv(
        sum(col("l_extendedprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
        .as("adj_close"))

  private val stockPricesSql: String = s"""
    sp AS (
      SELECT 'S' || CAST(l_suppkey % 100 AS VARCHAR) AS symbol,
             CAST(l_shipdate AS DATE) AS date,
             ${oDivRound(
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(*)", 4)} AS adj_close
      FROM lineitem GROUP BY 1, 2
    )"""

  /** Companies table: symbol → GICS sector (suppkey % 11). */
  private def companies(s: SparkSession, dir: String): DataFrame = {
    val sectorCol = SectorMapping.map(_._1).zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (g, i)) =>
        when((col("s_suppkey") % 11) === i, lit(g)).otherwise(acc)
      }
    Tables(s, dir).supplier
      .filter(col("s_suppkey") < 100)
      .select(concat(lit("S"), col("s_suppkey") % 100).as("c_symbol"),
        sectorCol.as("gics_sector"))
      .distinct()
  }

  private val companiesSql: String = {
    val cases = SectorMapping.map(_._1).zipWithIndex
      .map { case (g, i) => s"WHEN $i THEN '$g'" }.mkString(" ")
    s"""
    companies AS (
      SELECT DISTINCT 'S' || CAST(s_suppkey % 100 AS VARCHAR) AS c_symbol,
        CASE s_suppkey % 11 $cases END AS gics_sector
      FROM supplier WHERE s_suppkey < 100
    )"""
  }

  private val sectorMappingSql: String = {
    val rows = SectorMapping
      .map { case (g, e, d) => s"('$g', '$e', '$d')" }.mkString(",\n        ")
    s"""
    sector_mapping AS (
      SELECT * FROM (VALUES
        $rows
      ) AS t(gics_sector, etf_symbol, sector_display_name)
    )"""
  }

  // ------------------------------------------------------------------
  // sector_dispersion_analysis (ref, 179 LoC)
  // ------------------------------------------------------------------

  private def sectorDispersion(s: SparkSession, dir: String): DataFrame = {
    val sm = sectorMappingDF(s)

    val trailing = stockPrices(s, dir)
      .filter(col("adj_close").isNotNull && col("adj_close") > 0)
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -12))
    val wAsc  = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val wDesc = Window.partitionBy(col("symbol")).orderBy(col("date").desc)
    val ranked = trailing
      .withColumn("rn_first", row_number().over(wAsc))
      .withColumn("rn_last", row_number().over(wDesc))
    val firsts = ranked.filter(col("rn_first") === 1)
      .select(col("symbol").as("f_sym"), col("adj_close").as("first_close"))
    val lasts = ranked.filter(col("rn_last") === 1)
      .select(col("symbol").as("l_sym"), col("adj_close").as("last_close"))
    val returns = firsts.join(lasts, col("f_sym") === col("l_sym"))
      .select(col("f_sym").as("symbol"),
        when(col("first_close") > 0,
          round((col("last_close") - col("first_close")) / col("first_close") * 100, 2))
          .as("return_1y"))
      .filter(col("return_1y").isNotNull)

    val cr = returns
      .join(companies(s, dir), col("symbol") === col("c_symbol"))
      .join(broadcast(sm), Seq("gics_sector"))
      .select(col("symbol"), col("gics_sector"), col("etf_symbol"),
        col("sector_display_name"), col("return_1y"))

    val stats = cr
      .groupBy(col("gics_sector"), col("etf_symbol"), col("sector_display_name"))
      .agg(
        count(lit(1)).as("stock_count"),
        round(stddev_samp(col("return_1y")), 2).as("intra_sector_std_dev"),
        rsnap(max(col("return_1y")) - min(col("return_1y")), 2).as("best_worst_spread"),
        rdiv(sum(col("return_1y").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("avg_return"),
        rsnap(expr("percentile(return_1y, 0.5)"), 2).as("median_return"))

    val wBest  = Window.partitionBy(col("gics_sector"))
      .orderBy(col("return_1y").desc, col("symbol"))
    val wWorst = Window.partitionBy(col("gics_sector"))
      .orderBy(col("return_1y").asc, col("symbol"))
    val ll = cr
      .withColumn("rank_best", row_number().over(wBest))
      .withColumn("rank_worst", row_number().over(wWorst))
      .groupBy(col("gics_sector").as("ll_sector"))
      .agg(
        max(when(col("rank_best") === 1, col("symbol"))).as("best_performer_symbol"),
        max(when(col("rank_best") === 1, col("return_1y"))).as("best_performer_return"),
        max(when(col("rank_best") === 2, col("symbol"))).as("second_best_symbol"),
        max(when(col("rank_best") === 2, col("return_1y"))).as("second_best_return"),
        max(when(col("rank_worst") === 1, col("symbol"))).as("worst_performer_symbol"),
        max(when(col("rank_worst") === 1, col("return_1y"))).as("worst_performer_return"),
        max(when(col("rank_worst") === 2, col("symbol"))).as("second_worst_symbol"),
        max(when(col("rank_worst") === 2, col("return_1y"))).as("second_worst_return"))

    val wYear = Window.partitionBy(col("symbol"), year(col("date")))
    val yearly = stockPrices(s, dir)
      .filter(year(col("date")).isin(1996, 1997) &&
        col("adj_close").isNotNull && col("adj_close") > 0)
      .withColumn("first_price",
        first(col("adj_close")).over(wYear.orderBy(col("date"))))
      .withColumn("last_price",
        last(col("adj_close")).over(wYear.orderBy(col("date"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("symbol"), year(col("date")).as("yr"),
        when(col("first_price") > 0,
          round((col("last_price") - col("first_price")) / col("first_price") * 100, 2))
          .as("annual_return"))
      .distinct()
    val cyr = yearly
      .join(companies(s, dir), col("symbol") === col("c_symbol"))
      .join(broadcast(sm.select(col("gics_sector").as("cy_sector"))),
        col("gics_sector") === col("cy_sector"))
      .groupBy(col("gics_sector").as("cyr_sector"))
      .agg(
        when(count(when(col("yr") === 1996, col("annual_return"))) > 0,
          rdiv(sum(when(col("yr") === 1996, col("annual_return")).cast(DecimalType(18, 6))),
            count(when(col("yr") === 1996, col("annual_return"))), 2)).as("return_2023"),
        when(count(when(col("yr") === 1997, col("annual_return"))) > 0,
          rdiv(sum(when(col("yr") === 1997, col("annual_return")).cast(DecimalType(18, 6))),
            count(when(col("yr") === 1997, col("annual_return"))), 2)).as("return_2024"))

    stats
      .join(ll, col("gics_sector") === col("ll_sector"), "left")
      .join(cyr, col("gics_sector") === col("cyr_sector"), "left")
      .select(
        col("sector_display_name"), col("gics_sector"), col("etf_symbol"),
        col("stock_count"), col("intra_sector_std_dev"), col("best_worst_spread"),
        col("avg_return"), col("median_return"),
        col("best_performer_symbol"), col("best_performer_return"),
        col("second_best_symbol"), col("second_best_return"),
        col("worst_performer_symbol"), col("worst_performer_return"),
        col("second_worst_symbol"), col("second_worst_return"),
        col("return_2023"), col("return_2024"),
        col("avg_return").as("return_trailing_1y"))
  }

  private val sectorDispersionSql: String = s"""
    WITH $stockPricesSql,
    $companiesSql,
    $sectorMappingSql,
    trailing_prices AS (
      SELECT symbol, date, adj_close,
        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date ASC) AS rn_first,
        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC) AS rn_last
      FROM sp
      WHERE adj_close IS NOT NULL AND adj_close > 0
        AND date >= $maxDateSql - INTERVAL 12 MONTH
    ),
    stock_trailing_returns AS (
      SELECT t_first.symbol,
        CASE WHEN t_first.adj_close > 0
          THEN ROUND((t_last.adj_close - t_first.adj_close) / t_first.adj_close * 100, 2) + 0.0
        END AS return_1y
      FROM trailing_prices t_first
      INNER JOIN trailing_prices t_last ON t_first.symbol = t_last.symbol
      WHERE t_first.rn_first = 1 AND t_last.rn_last = 1
    ),
    company_returns AS (
      SELECT str.symbol, c.gics_sector, sm.etf_symbol, sm.sector_display_name,
        str.return_1y
      FROM companies c
      INNER JOIN stock_trailing_returns str ON c.c_symbol = str.symbol
      INNER JOIN sector_mapping sm ON c.gics_sector = sm.gics_sector
      WHERE str.return_1y IS NOT NULL
    ),
    sector_stats AS (
      SELECT gics_sector, etf_symbol, sector_display_name,
        COUNT(*) AS stock_count,
        ROUND(STDDEV_SAMP(return_1y), 2) + 0.0 AS intra_sector_std_dev,
        ${oSnap("MAX(return_1y) - MIN(return_1y)", 2)} AS best_worst_spread,
        ${oDivRound("CAST(SUM(CAST(return_1y AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 2)} AS avg_return,
        ${oSnap("QUANTILE_CONT(return_1y, 0.5)", 2)} AS median_return
      FROM company_returns
      GROUP BY gics_sector, etf_symbol, sector_display_name
    ),
    ranked_performers AS (
      SELECT cr.*,
        ROW_NUMBER() OVER (PARTITION BY gics_sector ORDER BY return_1y DESC, symbol) AS rank_best,
        ROW_NUMBER() OVER (PARTITION BY gics_sector ORDER BY return_1y ASC, symbol) AS rank_worst
      FROM company_returns cr
    ),
    leaders_laggards AS (
      SELECT gics_sector,
        MAX(CASE WHEN rank_best = 1 THEN symbol END) AS best_performer_symbol,
        MAX(CASE WHEN rank_best = 1 THEN return_1y END) AS best_performer_return,
        MAX(CASE WHEN rank_best = 2 THEN symbol END) AS second_best_symbol,
        MAX(CASE WHEN rank_best = 2 THEN return_1y END) AS second_best_return,
        MAX(CASE WHEN rank_worst = 1 THEN symbol END) AS worst_performer_symbol,
        MAX(CASE WHEN rank_worst = 1 THEN return_1y END) AS worst_performer_return,
        MAX(CASE WHEN rank_worst = 2 THEN symbol END) AS second_worst_symbol,
        MAX(CASE WHEN rank_worst = 2 THEN return_1y END) AS second_worst_return
      FROM ranked_performers
      GROUP BY gics_sector
    ),
    year_boundary_prices AS (
      SELECT p.symbol, c.gics_sector,
        EXTRACT(YEAR FROM p.date) AS yr,
        FIRST_VALUE(p.adj_close) OVER (
          PARTITION BY p.symbol, EXTRACT(YEAR FROM p.date) ORDER BY p.date ASC) AS first_price,
        LAST_VALUE(p.adj_close) OVER (
          PARTITION BY p.symbol, EXTRACT(YEAR FROM p.date) ORDER BY p.date ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
      FROM sp p
      INNER JOIN companies c ON p.symbol = c.c_symbol
      WHERE EXTRACT(YEAR FROM p.date) IN (1996, 1997)
        AND p.adj_close IS NOT NULL AND p.adj_close > 0
    ),
    stock_annual_returns AS (
      SELECT DISTINCT symbol, gics_sector, yr,
        CASE WHEN first_price > 0
          THEN ROUND((last_price - first_price) / first_price * 100, 2) + 0.0
        END AS annual_return
      FROM year_boundary_prices
    ),
    calendar_year_returns AS (
      SELECT sm.gics_sector,
        CASE WHEN COUNT(CASE WHEN sar.yr = 1996 THEN sar.annual_return END) > 0 THEN
          ${oDivRound(
      "CAST(SUM(CASE WHEN sar.yr = 1996 THEN CAST(sar.annual_return AS DECIMAL(18,6)) END) * 1000000 AS HUGEINT)",
      "COUNT(CASE WHEN sar.yr = 1996 THEN sar.annual_return END)", 2)}
        END AS return_2023,
        CASE WHEN COUNT(CASE WHEN sar.yr = 1997 THEN sar.annual_return END) > 0 THEN
          ${oDivRound(
      "CAST(SUM(CASE WHEN sar.yr = 1997 THEN CAST(sar.annual_return AS DECIMAL(18,6)) END) * 1000000 AS HUGEINT)",
      "COUNT(CASE WHEN sar.yr = 1997 THEN sar.annual_return END)", 2)}
        END AS return_2024
      FROM stock_annual_returns sar
      INNER JOIN sector_mapping sm ON sar.gics_sector = sm.gics_sector
      GROUP BY sm.gics_sector
    )
    SELECT ss.sector_display_name, ss.gics_sector, ss.etf_symbol, ss.stock_count,
      ss.intra_sector_std_dev, ss.best_worst_spread, ss.avg_return, ss.median_return,
      ll.best_performer_symbol, ll.best_performer_return,
      ll.second_best_symbol, ll.second_best_return,
      ll.worst_performer_symbol, ll.worst_performer_return,
      ll.second_worst_symbol, ll.second_worst_return,
      cyr.return_2023, cyr.return_2024,
      ss.avg_return AS return_trailing_1y
    FROM sector_stats ss
    LEFT JOIN leaders_laggards ll ON ss.gics_sector = ll.gics_sector
    LEFT JOIN calendar_year_returns cyr ON ss.gics_sector = cyr.gics_sector
  """

  // ------------------------------------------------------------------
  // sector_breadth_timeseries (ref, 115 LoC)
  // ------------------------------------------------------------------

  private def sectorBreadth(s: SparkSession, dir: String): DataFrame = {
    val sm = sectorMappingDF(s)

    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val f200 = w.rowsBetween(-199, 0)
    val withMa = stockPrices(s, dir)
      .filter(col("adj_close").isNotNull && col("adj_close") > 0)
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -48))
      .withColumn("sma_200",
        sum(col("adj_close").cast(DecimalType(18, 6))).over(f200).cast("double") /
          count(col("adj_close")).over(f200))
      .withColumn("ma_200_days_count", count(lit(1)).over(f200))
    val flags = withMa
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(col("symbol"), col("date"),
        when(col("ma_200_days_count") >= 200 && col("adj_close") > col("sma_200"), 1)
          .otherwise(0).as("above_200_ma"),
        when(col("ma_200_days_count") >= 200, 1).otherwise(0).as("has_valid_ma"))
      .filter(col("has_valid_ma") === 1)

    val daily = flags
      .join(companies(s, dir), col("symbol") === col("c_symbol"))
      .join(broadcast(sm), Seq("gics_sector"))
      .groupBy(col("date"), col("gics_sector"), col("sector_display_name"))
      .agg(
        count(lit(1)).as("sector_stock_count"),
        sum(col("above_200_ma")).cast("long").as("stocks_above_200_ma"),
        rdiv((sum(col("above_200_ma")) * 100).cast(DecimalType(18, 0)), count(lit(1)), 1)
          .as("pct_above_200_ma"))

    val wWeek = Window.partitionBy(col("gics_sector"),
      date_trunc("week", col("date")).cast("date")).orderBy(col("date").desc)
    daily
      .withColumn("rn", row_number().over(wWeek))
      .filter(col("rn") === 1)
      .select(col("date"), col("gics_sector"), col("sector_display_name"),
        col("sector_stock_count"), col("stocks_above_200_ma"), col("pct_above_200_ma"))
  }

  private val sectorBreadthSql: String = s"""
    WITH $stockPricesSql,
    $companiesSql,
    $sectorMappingSql,
    stock_with_ma AS (
      SELECT symbol, date, adj_close,
        CAST(SUM(CAST(adj_close AS DECIMAL(18,6))) OVER w200 AS DOUBLE)
          / COUNT(adj_close) OVER w200 AS sma_200,
        COUNT(*) OVER w200 AS ma_200_days_count
      FROM sp
      WHERE adj_close IS NOT NULL AND adj_close > 0
        AND date >= $maxDateSql - INTERVAL 48 MONTH
      WINDOW w200 AS (PARTITION BY symbol ORDER BY date
        ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
    ),
    stock_ma_flags AS (
      SELECT symbol, date,
        CASE WHEN ma_200_days_count >= 200 AND adj_close > sma_200 THEN 1 ELSE 0 END AS above_200_ma,
        CASE WHEN ma_200_days_count >= 200 THEN 1 ELSE 0 END AS has_valid_ma
      FROM stock_with_ma
      WHERE date >= $maxDateSql - INTERVAL 36 MONTH
    ),
    sector_join AS (
      SELECT smf.date, smf.above_200_ma, c.gics_sector, sm.sector_display_name
      FROM stock_ma_flags smf
      INNER JOIN companies c ON smf.symbol = c.c_symbol
      INNER JOIN sector_mapping sm ON c.gics_sector = sm.gics_sector
      WHERE smf.has_valid_ma = 1
    ),
    sector_daily_breadth AS (
      SELECT date, gics_sector, sector_display_name,
        COUNT(*) AS sector_stock_count,
        CAST(SUM(above_200_ma) AS BIGINT) AS stocks_above_200_ma,
        ${oDivRound("CAST(SUM(above_200_ma) * 100 AS HUGEINT) * 1000000", "COUNT(*)", 1)}
          AS pct_above_200_ma
      FROM sector_join
      GROUP BY date, gics_sector, sector_display_name
    ),
    weekly_breadth AS (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY gics_sector, CAST(DATE_TRUNC('week', date) AS DATE)
          ORDER BY date DESC) AS rn
      FROM sector_daily_breadth
    )
    SELECT date, gics_sector, sector_display_name, sector_stock_count,
      stocks_above_200_ma, pct_above_200_ma
    FROM weekly_breadth
    WHERE rn = 1
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_sector_dispersion_analysis", sectorDispersion, Some(sectorDispersionSql)),
    QueryDef("q_sector_breadth_timeseries", sectorBreadth, Some(sectorBreadthSql))
  )
}
