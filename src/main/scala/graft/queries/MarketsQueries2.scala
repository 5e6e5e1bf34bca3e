package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.epochDay
import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.queries.QueryDef.{oDivRound, oSnap, r4, rdiv, rsnap}

/** The two remaining markets-schema heavyweights (refs dbt_project/
  * models/markets/factor_sector_correlation.sql (285 LoC) and
  * technical_price_universe.sql (109 LoC)):
  *
  *  - factor_sector_correlation: five factor ETFs × twenty comparison
  *    ETFs — latest-snapshot grouped 3mo/1yr return correlations over
  *    the trailing 365 days anchored at the latest common date, joined
  *    to each side's latest analysis_return performance row and the
  *    3mo/1yr return spreads.
  *  - technical_price_universe: the unified OHLCV spine — a seven-way
  *    universe union with adj-coalesce fallbacks, null/positivity
  *    filters, duplicate-vendor-row QUALIFY (volume DESC, symbol-key
  *    tie-break), the high/low clamp invariant and the per-instrument
  *    bars_available counter.
  */
object MarketsQueries2 {

  // ------------------------------------------------------------------
  // factor_sector_correlation (ref, 285 LoC)
  // ------------------------------------------------------------------

  val FactorMeta: Seq[(String, String)] = Seq(
    ("VLUE", "value"), ("QUAL", "quality"), ("MTUM", "momentum"),
    ("SIZE", "size"), ("USMV", "minimum_volatility"))

  /** (symbol, universe, name) — ref comparison_metadata literal. */
  val ComparisonMeta: Seq[(String, String, String)] = Seq(
    ("XLK", "sector_etf", "Technology"),
    ("XLC", "sector_etf", "Communication Services"),
    ("XLY", "sector_etf", "Consumer Discretionary"),
    ("XLF", "sector_etf", "Financials"),
    ("XLI", "sector_etf", "Industrials"),
    ("XLU", "sector_etf", "Utilities"),
    ("XLP", "sector_etf", "Consumer Staples"),
    ("XLRE", "sector_etf", "Real Estate"),
    ("XLB", "sector_etf", "Materials"),
    ("XLE", "sector_etf", "Energy"),
    ("XLV", "sector_etf", "Health Care"),
    ("SPY", "broad_market_etf", "S&P 500"),
    ("QQQ", "broad_market_etf", "Nasdaq 100"),
    ("DIA", "broad_market_etf", "Dow Jones Industrial Average"),
    ("RSP", "broad_market_etf", "S&P 500 Equal Weight"),
    ("IWM", "style_etf", "Russell 2000"),
    ("IWD", "style_etf", "Russell 1000 Value"),
    ("IWF", "style_etf", "Russell 1000 Growth"),
    ("IYT", "thematic_etf", "Transportation"),
    ("SOXX", "thematic_etf", "Semiconductors"))

  private val IndexSymbols = ComparisonMeta.filter(_._2 != "sector_etf").map(_._1)

  private val factors = PriceBars.named(col("l_orderkey") % 5, "l_orderkey % 5", FactorMeta.map(_._1))
  private val indices = PriceBars.named(col("l_partkey") % 9, "l_partkey % 9", IndexSymbols)

  private def factorSectorCorrelation(s: SparkSession, dir: String): DataFrame = {
    val fm = { import s.implicits._; FactorMeta.toDF("fm_sym", "factor_name") }
    val cm = {
      import s.implicits._
      ComparisonMeta.toDF("cm_sym", "comparison_universe", "comparison_name")
    }

    // ONE analysisReturn over the three universes (distinct exchanges
    // keep the window partitions independent); every consumer below —
    // daily returns, correlations, latest performance — slices this
    // shared run. The post-aggregation universe frame (symbols × dates,
    // tiny) is persisted so the fact-table scan+agg runs once however
    // many consumers slice the result (analysisReturn itself is a pure
    // single-pass window family since the round-5 lookback rewrite).
    val uniAll = Seq(MarketAnalysisQueries.universe(s, dir, factors, "FACT"),
        MarketAnalysisQueries.universe(s, dir, AnalysisQueries4.etfs, "NYSEARCA"),
        MarketAnalysisQueries.universe(s, dir, indices, "INDEX"))
      .reduce(_ unionByName _)
      .persist()
    // NOT persisted (measured A/B at sf0.1: ~7.4s unpersisted vs
    // 7.4-15.7s persisted): each of the four consumers slices a FEW
    // columns, and column pruning through the window family makes
    // every re-run cheaper than materializing the full-width
    // analysisReturn output once.
    val arAll = MarketAnalysisReturn.analysisReturn(uniAll)

    def dailyReturns(exchanges: Seq[String], symCol: String, retCol: String): DataFrame = {
      val w = Window.partitionBy(col("symbol"), col("exchange")).orderBy(col("date"))
      val px = lag(col("current_price"), 1).over(w)
      arAll.filter(col("exchange").isin(exchanges.map(x => x: Any): _*))
        .withColumn(retCol, (col("current_price") - px) / when(px =!= 0, px))
        .select(col("symbol").as(symCol), col("date"), col(retCol))
    }
    val factorPx = dailyReturns(Seq("FACT"), "factor_symbol", "factor_daily_return")
    val comparisonPx = dailyReturns(Seq("NYSEARCA", "INDEX"),
      "comparison_symbol", "comparison_daily_return")

    val latest = factorPx.select(col("date").as("f_date"))
      .join(broadcast(comparisonPx.select(col("date").as("c_date"))),
        col("f_date") === col("c_date"))
      .agg(max(col("f_date")).as("as_of_date"))

    val joined = factorPx
      .join(broadcast(comparisonPx.withColumnRenamed("date", "c_d")), col("date") === col("c_d"))
      .crossJoin(broadcast(latest))
      .filter(col("factor_daily_return").isNotNull &&
        col("comparison_daily_return").isNotNull &&
        col("date").between(date_sub(col("as_of_date"), 365), col("as_of_date")))

    val in3mo = col("date") >= date_sub(col("as_of_date"), 90)
    val corrs = joined
      .groupBy(col("as_of_date"), col("factor_symbol"), col("comparison_symbol"))
      .agg(
        count(when(in3mo, 1)).as("observations_3mo"),
        round(corr(when(in3mo, col("factor_daily_return")),
          when(in3mo, col("comparison_daily_return"))), 4).as("corr_3mo"),
        count(lit(1)).as("observations_1yr"),
        round(corr(col("factor_daily_return"), col("comparison_daily_return")), 4)
          .as("corr_1yr"))

    def latestPerf(exchanges: Seq[String], symCol: String, pfx: String): DataFrame = {
      val w = Window.partitionBy(col("symbol")).orderBy(col("date").desc)
      arAll.filter(col("exchange").isin(exchanges.map(x => x: Any): _*))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("symbol").as(symCol),
          col("pct_change_1mo").as(s"${pfx}_return_1mo"),
          col("pct_change_3mo").as(s"${pfx}_return_3mo"),
          col("pct_change_1yr").as(s"${pfx}_return_1yr"),
          col("std_diff_1yr").as(s"${pfx}_volatility_proxy_1yr"))
    }
    val factorPerf = latestPerf(Seq("FACT"), "fp_sym", "factor")
    val comparisonPerf = latestPerf(Seq("NYSEARCA", "INDEX"), "cp_sym", "sector")

    corrs
      .join(broadcast(fm), col("factor_symbol") === col("fm_sym"), "left")
      .join(broadcast(cm), col("comparison_symbol") === col("cm_sym"), "left")
      .join(broadcast(factorPerf), col("factor_symbol") === col("fp_sym"), "left")
      .join(broadcast(comparisonPerf), col("comparison_symbol") === col("cp_sym"), "left")
      .select(
        concat(col("factor_symbol"), lit(":"), col("comparison_symbol"), lit(":"),
          col("as_of_date").cast("string")).as("factor_sector_key"),
        col("as_of_date"), col("factor_symbol"), col("factor_name"),
        col("comparison_symbol"), col("comparison_name"), col("comparison_universe"),
        col("comparison_symbol").as("sector_symbol"),
        col("comparison_name").as("sector_name"),
        col("observations_3mo"), col("corr_3mo"), col("observations_1yr"),
        col("corr_1yr"),
        col("factor_return_1mo"), col("factor_return_3mo"), col("factor_return_1yr"),
        col("sector_return_1mo"), col("sector_return_3mo"), col("sector_return_1yr"),
        rsnap(col("factor_return_3mo") - col("sector_return_3mo"), 2)
          .as("factor_sector_return_spread_3mo"),
        rsnap(col("factor_return_1yr") - col("sector_return_1yr"), 2)
          .as("factor_sector_return_spread_1yr"),
        col("factor_volatility_proxy_1yr"), col("sector_volatility_proxy_1yr"))
  }

  private val factorSectorCorrelationSql: String = {
    val fmRows = FactorMeta.map { case (sym, n) => s"('$sym', '$n')" }.mkString(", ")
    val cmRows = ComparisonMeta
      .map { case (sym, u, n) => s"('$sym', '$u', '$n')" }.mkString(",\n        ")
    def arBody(uniName: String): String = {
      val lookbackJoins = Seq(365, 270, 180, 90, 30).map { d =>
        s"""LEFT JOIN d_$uniName p$d ON dc.symbol = p$d.symbol AND dc.exchange = p$d.exchange
            AND p$d.date + $d = dc.date"""
      }.mkString("\n        ")
      s"""SELECT dc.symbol, dc.date,
        ROUND(CASE WHEN p30.adj_close IS NOT NULL AND p30.adj_close > 0
          THEN (dc.adj_close - p30.adj_close) / p30.adj_close * 100 END, 2) + 0.0 AS pct_change_1mo,
        ROUND(CASE WHEN p90.adj_close IS NOT NULL AND p90.adj_close > 0
          THEN (dc.adj_close - p90.adj_close) / p90.adj_close * 100 END, 2) + 0.0 AS pct_change_3mo,
        ROUND(CASE WHEN p365.adj_close IS NOT NULL AND p365.adj_close > 0
          THEN (dc.adj_close - p365.adj_close) / p365.adj_close * 100 END, 2) + 0.0 AS pct_change_1yr,
        ROUND(CASE WHEN COUNT(dc.daily_diff) OVER w365 > 1 THEN
          SQRT(GREATEST((CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3)) * CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
            - CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
              * CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
              / (COUNT(dc.daily_diff) OVER w365))
            / (COUNT(dc.daily_diff) OVER w365 - 1), 0.0)) END, 4) + 0.0 AS std_diff_1yr
      FROM d_$uniName dc
        $lookbackJoins
      WINDOW w365 AS (PARTITION BY dc.symbol, dc.exchange
        ORDER BY (dc.date - DATE '1970-01-01')
        RANGE BETWEEN 365 PRECEDING AND CURRENT ROW)"""
    }
    s"""
    WITH ${MarketAnalysisQueries.uniCte(factors, "FACT").replace("uni AS (", "uni_f AS (")},
    ${MarketAnalysisQueries.uniCte(AnalysisQueries4.etfs, "NYSEARCA").replace("uni AS (", "uni_s AS (")},
    ${MarketAnalysisQueries.uniCte(indices, "INDEX").replace("uni AS (", "uni_i AS (")},
    d_f AS (
      SELECT *, adj_close - LAG(adj_close, 1) OVER (
        PARTITION BY symbol, exchange ORDER BY date) AS daily_diff
      FROM uni_f WHERE adj_close IS NOT NULL
    ),
    d_s AS (
      SELECT *, adj_close - LAG(adj_close, 1) OVER (
        PARTITION BY symbol, exchange ORDER BY date) AS daily_diff
      FROM uni_s WHERE adj_close IS NOT NULL
    ),
    d_i AS (
      SELECT *, adj_close - LAG(adj_close, 1) OVER (
        PARTITION BY symbol, exchange ORDER BY date) AS daily_diff
      FROM uni_i WHERE adj_close IS NOT NULL
    ),
    factor_prices AS (
      SELECT symbol AS factor_symbol, date,
        (adj_close - LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date))
          / NULLIF(LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date), 0)
          AS factor_daily_return
      FROM uni_f WHERE adj_close IS NOT NULL
    ),
    comparison_prices AS (
      SELECT symbol AS comparison_symbol, date,
        (adj_close - LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date))
          / NULLIF(LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date), 0)
          AS comparison_daily_return
      FROM uni_s WHERE adj_close IS NOT NULL
      UNION ALL
      SELECT symbol, date,
        (adj_close - LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date))
          / NULLIF(LAG(adj_close) OVER (PARTITION BY symbol, exchange ORDER BY date), 0)
      FROM uni_i WHERE adj_close IS NOT NULL
    ),
    latest_common_date AS (
      SELECT MAX(fp.date) AS as_of_date
      FROM factor_prices fp
      INNER JOIN comparison_prices cp ON fp.date = cp.date
    ),
    joined_returns AS (
      SELECT fp.factor_symbol, cp.comparison_symbol, fp.date,
        fp.factor_daily_return, cp.comparison_daily_return, latest.as_of_date
      FROM factor_prices fp
      INNER JOIN comparison_prices cp ON fp.date = cp.date
      CROSS JOIN latest_common_date latest
      WHERE fp.factor_daily_return IS NOT NULL
        AND cp.comparison_daily_return IS NOT NULL
        AND fp.date BETWEEN latest.as_of_date - INTERVAL 365 DAY AND latest.as_of_date
    ),
    rolling_correlations AS (
      SELECT as_of_date, factor_symbol, comparison_symbol,
        COUNT(CASE WHEN date >= as_of_date - INTERVAL 90 DAY THEN 1 END) AS observations_3mo,
        ROUND(CORR(
          CASE WHEN date >= as_of_date - INTERVAL 90 DAY THEN factor_daily_return END,
          CASE WHEN date >= as_of_date - INTERVAL 90 DAY THEN comparison_daily_return END
        ), 4) + 0.0 AS corr_3mo,
        COUNT(*) AS observations_1yr,
        ROUND(CORR(factor_daily_return, comparison_daily_return), 4) + 0.0 AS corr_1yr
      FROM joined_returns
      GROUP BY as_of_date, factor_symbol, comparison_symbol
    ),
    ar_f AS (${arBody("f")}),
    ar_s AS (${arBody("s")}),
    ar_i AS (${arBody("i")}),
    factor_metadata AS (
      SELECT * FROM (VALUES $fmRows) AS t(fm_sym, factor_name)
    ),
    comparison_metadata AS (
      SELECT * FROM (VALUES
        $cmRows
      ) AS t(cm_sym, comparison_universe, comparison_name)
    ),
    latest_factor_performance AS (
      SELECT symbol AS fp_sym,
        pct_change_1mo AS factor_return_1mo,
        pct_change_3mo AS factor_return_3mo,
        pct_change_1yr AS factor_return_1yr,
        std_diff_1yr AS factor_volatility_proxy_1yr
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC) AS rn
            FROM ar_f)
      WHERE rn = 1
    ),
    latest_comparison_performance AS (
      SELECT symbol AS cp_sym,
        pct_change_1mo AS sector_return_1mo,
        pct_change_3mo AS sector_return_3mo,
        pct_change_1yr AS sector_return_1yr,
        std_diff_1yr AS sector_volatility_proxy_1yr
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC) AS rn
            FROM (SELECT * FROM ar_s UNION ALL SELECT * FROM ar_i))
      WHERE rn = 1
    )
    SELECT
      c.factor_symbol || ':' || c.comparison_symbol || ':' || CAST(c.as_of_date AS VARCHAR)
        AS factor_sector_key,
      c.as_of_date, c.factor_symbol, fm.factor_name,
      c.comparison_symbol, cm.comparison_name, cm.comparison_universe,
      c.comparison_symbol AS sector_symbol,
      cm.comparison_name AS sector_name,
      c.observations_3mo, c.corr_3mo, c.observations_1yr, c.corr_1yr,
      fp.factor_return_1mo, fp.factor_return_3mo, fp.factor_return_1yr,
      cp.sector_return_1mo, cp.sector_return_3mo, cp.sector_return_1yr,
      ${oSnap("fp.factor_return_3mo - cp.sector_return_3mo", 2)} AS factor_sector_return_spread_3mo,
      ${oSnap("fp.factor_return_1yr - cp.sector_return_1yr", 2)} AS factor_sector_return_spread_1yr,
      fp.factor_volatility_proxy_1yr, cp.sector_volatility_proxy_1yr
    FROM rolling_correlations c
    LEFT JOIN factor_metadata fm ON c.factor_symbol = fm.fm_sym
    LEFT JOIN comparison_metadata cm ON c.comparison_symbol = cm.cm_sym
    LEFT JOIN latest_factor_performance fp ON c.factor_symbol = fp.fp_sym
    LEFT JOIN latest_comparison_performance cp ON c.comparison_symbol = cp.cp_sym
  """
  }

  // ------------------------------------------------------------------
  // technical_price_universe (ref, 109 LoC)
  // ------------------------------------------------------------------

  private val Universes: Seq[(String, String, Int)] = Seq(
    ("us_sector_etf", "stg_us_sectors", 0),
    ("major_index", "stg_major_indices", 1),
    ("fixed_income_etf", "stg_fixed_income", 2),
    ("currency_etf", "stg_currency", 3),
    ("commodity_etf", "stg_commodity_etfs", 4),
    ("factor_etf", "stg_factor_etfs", 5),
    ("global_market", "stg_global_markets", 6))

  private def priceUniverse(s: SparkSession, dir: String): DataFrame = {
    // one OHLCV staging per universe slice; adj_* columns NULL behind a
    // deterministic gate so the COALESCE fallbacks are exercised
    val base = PriceBars.daily(PriceBars.lines(s, dir),
        Seq((col("l_suppkey") % 7).as("u"), concat(lit("SYM"), col("l_partkey") % 13).as("symbol")))
      .select(col("u") +: col("symbol") +: col("date") +:
        Seq("open", "high", "low", "close", "volume").map(c => r4(col(c)).as(c)): _*)
    val adjGate = (epochDay(col("date")) + col("u")) % 11 === 0
    val exGate  = (epochDay(col("date")) + col("u")) % 13 === 0
    val universeCol = Universes.foldLeft(lit(null).cast("string")) {
      case (acc, (u, _, i)) => when(col("u") === i, lit(u)).otherwise(acc)
    }
    val sourceCol = Universes.foldLeft(lit(null).cast("string")) {
      case (acc, (_, m, i)) => when(col("u") === i, lit(m)).otherwise(acc)
    }
    val staged = base.select(
      universeCol.as("source_universe"),
      col("symbol"),
      coalesce(when(!exGate, lit("XNYS")), lit("UNKNOWN")).as("exchange"),
      concat(lit("Name "), col("symbol")).as("name"),
      lit("etf").as("asset_type"),
      lit("USD").as("price_currency"),
      sourceCol.as("source_table"),
      col("date"),
      coalesce(when(!adjGate, col("open") * 0.5), col("open")).as("open"),
      coalesce(when(!adjGate, col("high") * 0.5), col("high")).as("high"),
      coalesce(when(!adjGate, col("low") * 0.5), col("low")).as("low"),
      coalesce(when(!adjGate, col("close") * 0.5), col("close")).as("close"),
      coalesce(when(!adjGate, col("volume") * 2), col("volume")).as("volume"))

    val wDedup = Window.partitionBy(col("source_universe"), col("symbol"),
      col("exchange"), col("date")).orderBy(col("volume").desc, col("symbol"))
    val wBars = Window.partitionBy(col("source_universe"), col("symbol"),
      col("exchange")).orderBy(col("date"))
    staged
      .filter(col("date").isNotNull && col("symbol").isNotNull &&
        col("close").isNotNull && col("close") > 0)
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select(
        col("source_universe"), col("symbol"), col("exchange"), col("name"),
        col("asset_type"), col("price_currency"), col("source_table"), col("date"),
        col("open"),
        greatest(coalesce(col("high"), col("close")), col("close")).as("high"),
        least(coalesce(col("low"), col("close")), col("close")).as("low"),
        col("close"), col("volume"),
        row_number().over(wBars).cast("long").as("bars_available"))
  }

  private val priceUniverseSql: String = {
    val uCase = Universes.map { case (u, _, i) => s"WHEN $i THEN '$u'" }.mkString(" ")
    val sCase = Universes.map { case (_, m, i) => s"WHEN $i THEN '$m'" }.mkString(" ")
    s"""
    WITH base AS (
      SELECT l_suppkey % 7 AS u,
        'SYM' || CAST(l_partkey % 13 AS VARCHAR) AS symbol,
        CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.openSql}, 4) + 0.0 AS open,
        ROUND(MAX(l_extendedprice), 4) + 0.0 AS high,
        ROUND(MIN(l_extendedprice), 4) + 0.0 AS low,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS volume
      FROM lineitem
      GROUP BY 1, 2, 3
    ),
    staged AS (
      SELECT CASE u $uCase END AS source_universe,
        symbol,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 13 = 0) THEN 'XNYS' END,
          'UNKNOWN') AS exchange,
        'Name ' || symbol AS name,
        'etf' AS asset_type,
        'USD' AS price_currency,
        CASE u $sCase END AS source_table,
        date,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 11 = 0) THEN open * 0.5 END, open) AS open,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 11 = 0) THEN high * 0.5 END, high) AS high,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 11 = 0) THEN low * 0.5 END, low) AS low,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 11 = 0) THEN close * 0.5 END, close) AS close,
        COALESCE(CASE WHEN NOT (((date - DATE '1970-01-01') + u) % 11 = 0) THEN volume * 2 END, volume) AS volume
      FROM base
    ),
    filtered AS (
      SELECT * FROM (
        SELECT *,
          ROW_NUMBER() OVER (
            PARTITION BY source_universe, symbol, exchange, date
            ORDER BY volume DESC, symbol) AS rn
        FROM staged
        WHERE date IS NOT NULL AND symbol IS NOT NULL
          AND close IS NOT NULL AND close > 0
      ) WHERE rn = 1
    )
    SELECT source_universe, symbol, exchange, name, asset_type, price_currency,
      source_table, date, open,
      GREATEST(COALESCE(high, close), close) AS high,
      LEAST(COALESCE(low, close), close) AS low,
      close, volume,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY source_universe, symbol, exchange ORDER BY date) AS BIGINT)
        AS bars_available
    FROM filtered
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_factor_sector_correlation", factorSectorCorrelation,
      Some(factorSectorCorrelationSql)),
    QueryDef("q_technical_price_universe", priceUniverse, Some(priceUniverseSql))
  )
}
