package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.queries.QueryDef.{davgOver, nullif, oDivRound, oSnap, rdiv, rsnap}
import graft.queries.FredSignalQueries.{idxOf, stgFred, stgFredSql}
import graft.runtime.Tables

/** Analysis-schema heavyweights part 2 (refs dbt_project/models/
  * analysis/base_historical_analysis.sql, indicator_market_response.sql
  * and leading_econ_return_indicator.sql):
  *
  *  - base_historical_analysis: UNION ALL of five *_analysis_return
  *    models (currency, fixed_income, global_markets, major_indices,
  *    us_sector) with category tags, LEFT JOINed to the monthly FRED
  *    diff series on exact date.
  *  - indicator_market_response: event study — indicator MoM changes
  *    z-scored against their trailing-12 trend (Large Beat … Large
  *    Miss), joined to sector monthly returns, then per (sector,
  *    indicator) response stats: category-conditional means, win
  *    rates, surprise correlation, response-strength score.
  *  - leading_econ_return_indicator: economic MoM rate-of-change vs
  *    trailing returns — correlation branch + NTILE(5) quintile branch
  *    fan-in (UNION ALL with the reference's heterogeneous column
  *    reuse). Deviation (documented): the quintile NTILE adds `date`
  *    as a tie-break — the reference orders by the change value alone,
  *    which is nondeterministic under ties.
  *
  * Parity: conditional averages of round-2 returns go through the
  * exact-decimal division pair; CORR/STDDEV round on both sides;
  * category thresholds compare raw z-scores (continuous — boundary
  * ties measure-zero).
  */
object AnalysisQueries2 {

  // ------------------------------------------------------------------
  // base_historical_analysis (ref, 123 LoC)
  // ------------------------------------------------------------------

  /** The five reference universes with their category tags. */
  private val Universes: Seq[(String, PriceBars.Universe, String, String)] = Seq(
    ("currency", PriceBars.Currency, "FOREX", "currency"),
    ("fixed_income", PriceBars.FixedIncome, "BONDS", "fixed_income"),
    ("global_markets", PriceBars.GlobalMarkets, "GLOBAL", "global_markets"),
    ("major_indices", PriceBars.Indices, "INDEX", "major_indices"),
    ("us_sector", PriceBars.Sectors, "NYSEARCA", "sector"))

  private val ReturnCols = Seq("current_price", "current_volume", "pct_change_1mo",
    "pct_change_3mo", "pct_change_6mo", "pct_change_9mo", "pct_change_1yr",
    "high_1yr", "low_1yr", "std_diff_1yr")

  private val FredCodes = Seq("INDPRO", "UNRATE", "PAYEMS", "CPIAUCSL",
    "T10Y2Y", "NFCI", "UMCSENT", "IPMAN")

  /** Monthly fred_monthly_diff-like frame: (f_date, series_name, value,
    * period_diff). */
  private def fredMonthly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("series_code")).orderBy(col("f_date"))
    stgFred(s, dir, FredCodes)
      .groupBy(col("series_code"),
        date_trunc("month", col("date")).cast("date").as("f_date"))
      .agg(max(col("value")).as("value"))
      .select(col("series_code"), col("f_date"), col("value"),
        (col("value") - lag(col("value"), 1).over(w)).as("period_diff"),
        concat(lit("Series "), col("series_code")).as("series_name"))
  }

  private val fredMonthlySql: String = s"""
    fred_monthly AS (
      SELECT series_code, f_date, value,
        value - LAG(value, 1) OVER (PARTITION BY series_code ORDER BY f_date) AS period_diff,
        'Series ' || series_code AS series_name
      FROM (
        SELECT series_code, CAST(DATE_TRUNC('month', date) AS DATE) AS f_date,
          MAX(value) AS value
        FROM stg
        WHERE series_code IN (${FredCodes.map(c => s"'$c'").mkString(", ")})
        GROUP BY 1, 2
      )
    )"""

  def baseHistorical(s: SparkSession, dir: String): DataFrame = {
    // ONE analysisReturn run for all five universes: the per-universe
    // aggregations union BEFORE the return model, so the landings join
    // and RANGE window family run once over the combined frame (the
    // per-universe window partitions (symbol, exchange) never interact
    // because every universe has a distinct symbol prefix, so results
    // are identical to five separate runs). Union-of-aggregations
    // beats an exploded-tag single scan here: partial aggregation
    // collapses each branch map-side before its exchange, while an
    // explode pushes every fact row × 5 tags through the shuffle
    // writer (same measurement as SemanticLayerQueries.layerAr).
    // Each branch reads its own unpersisted PriceBars.lines (measured
    // A/B at sf0.1: persisting one shared line frame is ~1s SLOWER,
    // 15.8 vs 14.7s on this pair) — materializing the 32-char md5 key
    // column into storage costs more than five scans of compressed
    // parquet with the hash recomputed per branch. The recompute-vs-
    // cache default here mirrors the stgPrices measurement in
    // CrossAssetQueries.
    val uniExact = Universes.map { case (_, uni, ex, _) =>
      MarketAnalysisQueries.universe(s, dir, uni, ex)
    }.reduce(_ unionByName _)
    val catCol = Universes.foldLeft(lit(null).cast("string")) {
      case (acc, (_, _, ex, cat)) => when(col("exchange") === ex, lit(cat)).otherwise(acc)
    }
    val rt = MarketAnalysisReturn.analysisReturn(uniExact)
      .select((Seq(col("symbol"), col("exchange"), col("date")) ++
        ReturnCols.map(col) :+ catCol.as("category")): _*)
    rt.join(fredMonthly(s, dir), col("date") === col("f_date"), "left")
      .select((Seq(col("symbol"), col("exchange"), col("date")) ++
        ReturnCols.map(col) ++
        Seq(col("category"), col("series_name"), col("value"), col("period_diff"))): _*)
  }

  /** Oracle CTE chain producing `bha` (needs `stg`). */
  val baseHistoricalCtesSql: String = {
    val branches = Universes.map { case (name, u, ex, cat) =>
      val uni = MarketAnalysisQueries.uniCte(u, ex)
        .replace("uni AS (", s"uni_$name AS (")
      s"""$uni,
      daily_$name AS (
        SELECT *, adj_close - LAG(adj_close, 1) OVER (
          PARTITION BY symbol, exchange ORDER BY date) AS daily_diff
        FROM uni_$name WHERE adj_close IS NOT NULL
      ),
      ar_$name AS (
        ${analysisReturnBodySql(name, cat)}
      )"""
    }.mkString(",\n    ")
    s"""
    $branches,
    $fredMonthlySql,
    return_data AS (
      ${Universes.map { case (name, _, _, _) => s"SELECT * FROM ar_$name" }
      .mkString("\n      UNION ALL\n      ")}
    ),
    bha AS (
      SELECT rt.*, fr.series_name, fr.value, fr.period_diff
      FROM return_data rt
      LEFT JOIN fred_monthly fr ON rt.date = fr.f_date
    )"""
  }

  /** The analysis_return column set the base model consumes, as a
    * focused oracle body over daily_<name> (lookback joins + RANGE
    * windows for the 1yr stats only, mirroring
    * MarketAnalysisReturn.oracleSql's conventions). */
  private def analysisReturnBodySql(name: String, cat: String): String = {
    val lookbackJoins = Seq(365, 270, 180, 90, 30).map { d =>
      s"""LEFT JOIN daily_$name p$d ON dc.symbol = p$d.symbol
          AND dc.exchange = p$d.exchange AND p$d.date + $d = dc.date"""
    }.mkString("\n        ")
    val pcts = Seq(365 -> "1yr", 270 -> "9mo", 180 -> "6mo", 90 -> "3mo", 30 -> "1mo")
      .map { case (d, tag) =>
        s"""ROUND(CASE WHEN p$d.adj_close IS NOT NULL AND p$d.adj_close > 0
          THEN (dc.adj_close - p$d.adj_close) / p$d.adj_close * 100 END, 2) + 0.0
          AS pct_change_$tag"""
      }.mkString(",\n        ")
    s"""SELECT symbol, exchange, date, current_price, current_volume,
        pct_change_1mo, pct_change_3mo, pct_change_6mo, pct_change_9mo, pct_change_1yr,
        high_1yr, low_1yr, std_diff_1yr, '$cat' AS category
      FROM (
        SELECT dc.symbol, dc.exchange, dc.date,
          dc.adj_close AS current_price, dc.volume AS current_volume,
          $pcts,
          ${oSnap("MAX(dc.adj_high) OVER w365", 4)} AS high_1yr,
          ${oSnap("MIN(dc.adj_low) OVER w365", 4)} AS low_1yr,
          ROUND(CASE WHEN COUNT(dc.daily_diff) OVER w365 > 1 THEN
            SQRT(GREATEST((CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3)) * CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
              - CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
                * CAST(SUM(CAST(dc.daily_diff AS DECIMAL(18,3))) OVER w365 AS DOUBLE)
                / (COUNT(dc.daily_diff) OVER w365))
              / (COUNT(dc.daily_diff) OVER w365 - 1), 0.0)) END, 4) + 0.0 AS std_diff_1yr
        FROM daily_$name dc
        $lookbackJoins
        WINDOW w365 AS (PARTITION BY dc.symbol, dc.exchange
          ORDER BY (dc.date - DATE '1970-01-01')
          RANGE BETWEEN 365 PRECEDING AND CURRENT ROW)
      )"""
  }

  private val baseHistoricalSql: String = s"""
    WITH ${stgFredSql(FredCodes)},
    $baseHistoricalCtesSql
    SELECT * FROM bha
  """

  // ------------------------------------------------------------------
  // indicator_market_response (ref, 281 LoC)
  // ------------------------------------------------------------------

  private def category(code: String): String = s"cat${idxOf(code) % 5}"

  private def sectorReturns(s: SparkSession, dir: String): DataFrame = {
    val ar = MarketAnalysisReturn.analysisReturn(
      MarketAnalysisQueries.universe(s, dir, PriceBars.Sectors, "NYSEARCA"))
      .select(col("symbol"), col("date"), col("pct_change_1mo"))
    val wMon = Window.partitionBy(col("symbol"),
      date_trunc("month", col("date")).cast("date")).orderBy(col("date").desc)
    ar.withColumn("rn", row_number().over(wMon))
      .filter(col("rn") === 1)
      .select(col("symbol"),
        date_trunc("month", col("date")).cast("date").as("month_date"),
        col("pct_change_1mo").as("monthly_return"))
  }

  private val sectorReturnsSql: String = s"""
    ${MarketAnalysisQueries.uniCte(PriceBars.Sectors, "NYSEARCA")},
    daily AS (
      SELECT *, adj_close - LAG(adj_close, 1) OVER (
        PARTITION BY symbol, exchange ORDER BY date) AS daily_diff
      FROM uni WHERE adj_close IS NOT NULL
    ),
    lb AS (
      SELECT dc.symbol, dc.date, dc.adj_close, p30.adj_close AS price_30d_ago
      FROM daily dc
      LEFT JOIN daily p30 ON dc.symbol = p30.symbol AND dc.exchange = p30.exchange
        AND p30.date + 30 = dc.date
    ),
    sector_monthly AS (
      SELECT symbol,
        CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        ROUND(CASE WHEN price_30d_ago IS NOT NULL AND price_30d_ago > 0
          THEN (adj_close - price_30d_ago) / price_30d_ago * 100 END, 2) + 0.0
          AS monthly_return,
        ROW_NUMBER() OVER (
          PARTITION BY symbol, CAST(DATE_TRUNC('month', date) AS DATE)
          ORDER BY date DESC) AS rn
      FROM lb
    ),
    sector_returns AS (
      SELECT symbol, month_date, monthly_return FROM sector_monthly WHERE rn = 1
    )"""

  private def indicatorMarketResponse(s: SparkSession, dir: String): DataFrame = {
    val wInd = Window.partitionBy(col("series_code")).orderBy(col("i_m"))
    val fpr  = wInd.rowsBetween(-12, -1)
    val iv = stgFred(s, dir, FredCodes)
      .groupBy(col("series_code"),
        date_trunc("month", col("date")).cast("date").as("i_m"))
      .agg(max(col("value")).as("value"))
      .withColumn("prev_v", lag(col("value"), 1).over(wInd))
      .withColumn("mom_change", col("value") - col("prev_v"))
      .withColumn("mom_pct_change",
        when(col("prev_v").isNotNull && col("prev_v") =!= 0,
          (col("value") - col("prev_v")) / abs(col("prev_v")) * 100))
      .withColumn("avg_12mo_change",
        davgOver(col("mom_change"), fpr))
      .withColumn("std_12mo_change", stddev_samp(col("mom_change")).over(fpr))
      .filter(col("mom_change").isNotNull)

    val z = when(col("std_12mo_change") > 0.0001,
      (col("mom_change") - coalesce(col("avg_12mo_change"), lit(0.0))) / col("std_12mo_change"))
      .otherwise(0.0)
    val surprises = iv
      .withColumn("surprise_zscore", z)
      .withColumn("surprise_category",
        when(col("std_12mo_change") > 0.0001,
          when(z > 2, "Large Beat").when(z > 1, "Beat").when(z > -1, "In Line")
            .when(z > -2, "Miss").otherwise("Large Miss"))
          .otherwise("In Line"))
      .withColumn("indicator_direction",
        when(col("mom_change") > 0, "Rising")
          .when(col("mom_change") < 0, "Falling")
          .otherwise("Flat"))

    val catCol = FredCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
      when(col("series_code") === c, lit(category(c))).otherwise(acc)
    }
    val events = sectorReturns(s, dir)
      .join(surprises, col("month_date") === col("i_m"))
      .filter(col("monthly_return").isNotNull && col("surprise_zscore").isNotNull)
      .select(col("symbol"), col("month_date"), col("monthly_return"),
        col("series_code"), concat(lit("Series "), col("series_code")).as("series_name"),
        catCol.as("indicator_category"), col("surprise_zscore"),
        col("surprise_category"), col("indicator_direction"))

    def condSum(cond: Column): Column =
      sum(when(cond, col("monthly_return")).cast(DecimalType(18, 6)))
    def condN(cond: Column): Column = count(when(cond, col("monthly_return")))
    val cat = col("surprise_category")
    val stats = events
      .groupBy(col("symbol"), col("series_code"), col("series_name"),
        col("indicator_category"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("monthly_return").cast(DecimalType(18, 6))).as("all_sum"),
        round(stddev_samp(col("monthly_return")), 4).as("return_volatility"),
        condSum(cat === "Large Beat").as("lb_sum"), condN(cat === "Large Beat").as("n_large_beat"),
        condSum(cat === "Beat").as("b_sum"), condN(cat === "Beat").as("n_beat"),
        condSum(cat === "In Line").as("il_sum"), condN(cat === "In Line").as("n_inline"),
        condSum(cat === "Miss").as("m_sum"), condN(cat === "Miss").as("n_miss"),
        condSum(cat === "Large Miss").as("lm_sum"), condN(cat === "Large Miss").as("n_large_miss"),
        condSum(col("indicator_direction") === "Rising").as("r_sum"),
        condN(col("indicator_direction") === "Rising").as("n_rising"),
        condSum(col("indicator_direction") === "Falling").as("f_sum"),
        condN(col("indicator_direction") === "Falling").as("n_falling"),
        count(when(cat.isin("Beat", "Large Beat") && col("monthly_return") > 0, 1))
          .as("beat_wins"),
        count(when(cat.isin("Beat", "Large Beat"), 1)).as("beat_total"),
        count(when(cat.isin("Miss", "Large Miss") && col("monthly_return") > 0, 1))
          .as("miss_wins"),
        count(when(cat.isin("Miss", "Large Miss"), 1)).as("miss_total"),
        round(corr(col("surprise_zscore"), col("monthly_return")), 4)
          .as("surprise_correlation"))
      .filter(col("n_events") >= 24)

    def avgOf(sumC: String, nC: String): Column =
      when(col(nC) > 0, rdiv(col(sumC), col(nC), 4))
    val avgBeat = avgOf("b_sum", "n_beat")
    val avgMiss = avgOf("m_sum", "n_miss")
    val avgLB   = avgOf("lb_sum", "n_large_beat")
    val avgLM   = avgOf("lm_sum", "n_large_miss")
    stats.select(
      col("symbol"), lit(null).cast("string").as("sector_name"),
      col("series_code"), col("series_name"), col("indicator_category"),
      col("n_events"),
      rdiv(col("all_sum"), col("n_events"), 4).as("avg_return_all_events"),
      col("return_volatility"),
      avgLB.as("avg_return_large_beat"),
      avgBeat.as("avg_return_beat"),
      avgOf("il_sum", "n_inline").as("avg_return_inline"),
      avgMiss.as("avg_return_miss"),
      avgLM.as("avg_return_large_miss"),
      col("n_large_beat"), col("n_beat"), col("n_inline"), col("n_miss"),
      col("n_large_miss"),
      avgOf("r_sum", "n_rising").as("avg_return_indicator_rising"),
      avgOf("f_sum", "n_falling").as("avg_return_indicator_falling"),
      col("n_rising"), col("n_falling"),
      when(col("beat_total") > 0,
        rdiv((col("beat_wins") * 100).cast(DecimalType(18, 0)), col("beat_total"), 1))
        .as("win_rate_on_beat"),
      when(col("miss_total") > 0,
        rdiv((col("miss_wins") * 100).cast(DecimalType(18, 0)), col("miss_total"), 1))
        .as("win_rate_on_miss"),
      rsnap(coalesce(avgBeat, avgLB, lit(0.0)) - coalesce(avgMiss, avgLM, lit(0.0)), 4)
        .as("beat_miss_spread"),
      col("surprise_correlation"),
      rsnap(abs(coalesce(col("surprise_correlation"), lit(0.0))) * 50 +
        abs(coalesce(avgBeat, lit(0.0)) - coalesce(avgMiss, lit(0.0))) * 10, 2)
        .as("response_strength_score"),
      (abs(coalesce(col("surprise_correlation"), lit(0.0))) >= 0.2 ||
        abs(coalesce(avgBeat, lit(0.0)) - coalesce(avgMiss, lit(0.0))) >= 1.0)
        .as("is_surprise_responsive"),
      when(col("surprise_correlation") > 0.15, "Pro-cyclical")
        .when(col("surprise_correlation") < -0.15, "Counter-cyclical")
        .otherwise("Neutral").as("response_type"))
  }

  private val indicatorMarketResponseSql: String = {
    val catCase = FredCodes.map(c => s"WHEN '$c' THEN '${category(c)}'").mkString(" ")
    def oAvg(sumC: String, nC: String, n: Int) =
      s"CASE WHEN $nC > 0 THEN ${oDivRound(s"CAST($sumC * 1000000 AS HUGEINT)", nC, n)} END"
    val avgBeat = oAvg("b_sum", "n_beat", 4)
    val avgMiss = oAvg("m_sum", "n_miss", 4)
    val avgLB   = oAvg("lb_sum", "n_large_beat", 4)
    val avgLM   = oAvg("lm_sum", "n_large_miss", 4)
    s"""
    WITH ${stgFredSql(FredCodes)},
    $sectorReturnsSql,
    indicator_monthly AS (
      SELECT series_code, i_m, value,
        value - prev_v AS mom_change,
        CASE WHEN prev_v IS NOT NULL AND prev_v != 0
          THEN (value - prev_v) / ABS(prev_v) * 100 END AS mom_pct_change,
        CAST(SUM(CAST(value - prev_v AS DECIMAL(18,6))) OVER fpr AS DOUBLE)
          / COUNT(value - prev_v) OVER fpr AS avg_12mo_change,
        STDDEV_SAMP(value - prev_v) OVER fpr AS std_12mo_change
      FROM (
        SELECT series_code, CAST(DATE_TRUNC('month', date) AS DATE) AS i_m,
          MAX(value) AS value,
          LAG(MAX(value)) OVER (PARTITION BY series_code
            ORDER BY CAST(DATE_TRUNC('month', date) AS DATE)) AS prev_v
        FROM stg GROUP BY 1, 2
      )
      WINDOW fpr AS (PARTITION BY series_code ORDER BY i_m
        ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    ),
    indicator_surprises AS (
      SELECT *,
        CASE WHEN std_12mo_change > 0.0001
          THEN (mom_change - COALESCE(avg_12mo_change, 0)) / std_12mo_change
          ELSE 0 END AS surprise_zscore,
        CASE WHEN std_12mo_change > 0.0001 THEN
          CASE WHEN (mom_change - COALESCE(avg_12mo_change, 0)) / std_12mo_change > 2 THEN 'Large Beat'
               WHEN (mom_change - COALESCE(avg_12mo_change, 0)) / std_12mo_change > 1 THEN 'Beat'
               WHEN (mom_change - COALESCE(avg_12mo_change, 0)) / std_12mo_change > -1 THEN 'In Line'
               WHEN (mom_change - COALESCE(avg_12mo_change, 0)) / std_12mo_change > -2 THEN 'Miss'
               ELSE 'Large Miss' END
          ELSE 'In Line' END AS surprise_category,
        CASE WHEN mom_change > 0 THEN 'Rising'
             WHEN mom_change < 0 THEN 'Falling'
             ELSE 'Flat' END AS indicator_direction
      FROM indicator_monthly
      WHERE mom_change IS NOT NULL
    ),
    sector_indicator_events AS (
      SELECT sr.symbol, sr.month_date, sr.monthly_return,
        isp.series_code, 'Series ' || isp.series_code AS series_name,
        CASE isp.series_code $catCase END AS indicator_category,
        isp.surprise_zscore, isp.surprise_category, isp.indicator_direction
      FROM sector_returns sr
      JOIN indicator_surprises isp ON sr.month_date = isp.i_m
      WHERE sr.monthly_return IS NOT NULL AND isp.surprise_zscore IS NOT NULL
    ),
    event_study_stats AS (
      SELECT symbol, series_code, series_name, indicator_category,
        COUNT(*) AS n_events,
        SUM(CAST(monthly_return AS DECIMAL(18,6))) AS all_sum,
        ROUND(STDDEV_SAMP(monthly_return), 4) + 0.0 AS return_volatility,
        SUM(CASE WHEN surprise_category = 'Large Beat' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS lb_sum,
        COUNT(CASE WHEN surprise_category = 'Large Beat' THEN monthly_return END) AS n_large_beat,
        SUM(CASE WHEN surprise_category = 'Beat' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS b_sum,
        COUNT(CASE WHEN surprise_category = 'Beat' THEN monthly_return END) AS n_beat,
        SUM(CASE WHEN surprise_category = 'In Line' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS il_sum,
        COUNT(CASE WHEN surprise_category = 'In Line' THEN monthly_return END) AS n_inline,
        SUM(CASE WHEN surprise_category = 'Miss' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS m_sum,
        COUNT(CASE WHEN surprise_category = 'Miss' THEN monthly_return END) AS n_miss,
        SUM(CASE WHEN surprise_category = 'Large Miss' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS lm_sum,
        COUNT(CASE WHEN surprise_category = 'Large Miss' THEN monthly_return END) AS n_large_miss,
        SUM(CASE WHEN indicator_direction = 'Rising' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS r_sum,
        COUNT(CASE WHEN indicator_direction = 'Rising' THEN monthly_return END) AS n_rising,
        SUM(CASE WHEN indicator_direction = 'Falling' THEN CAST(monthly_return AS DECIMAL(18,6)) END) AS f_sum,
        COUNT(CASE WHEN indicator_direction = 'Falling' THEN monthly_return END) AS n_falling,
        COUNT(CASE WHEN surprise_category IN ('Beat', 'Large Beat') AND monthly_return > 0 THEN 1 END) AS beat_wins,
        COUNT(CASE WHEN surprise_category IN ('Beat', 'Large Beat') THEN 1 END) AS beat_total,
        COUNT(CASE WHEN surprise_category IN ('Miss', 'Large Miss') AND monthly_return > 0 THEN 1 END) AS miss_wins,
        COUNT(CASE WHEN surprise_category IN ('Miss', 'Large Miss') THEN 1 END) AS miss_total,
        ROUND(CORR(surprise_zscore, monthly_return), 4) + 0.0 AS surprise_correlation
      FROM sector_indicator_events
      GROUP BY symbol, series_code, series_name, indicator_category
      HAVING COUNT(*) >= 24
    )
    SELECT symbol, CAST(NULL AS VARCHAR) AS sector_name,
      series_code, series_name, indicator_category, n_events,
      ${oDivRound("CAST(all_sum * 1000000 AS HUGEINT)", "n_events", 4)} AS avg_return_all_events,
      return_volatility,
      $avgLB AS avg_return_large_beat,
      $avgBeat AS avg_return_beat,
      ${oAvg("il_sum", "n_inline", 4)} AS avg_return_inline,
      $avgMiss AS avg_return_miss,
      $avgLM AS avg_return_large_miss,
      n_large_beat, n_beat, n_inline, n_miss, n_large_miss,
      ${oAvg("r_sum", "n_rising", 4)} AS avg_return_indicator_rising,
      ${oAvg("f_sum", "n_falling", 4)} AS avg_return_indicator_falling,
      n_rising, n_falling,
      CASE WHEN beat_total > 0 THEN
        ${oDivRound("CAST(beat_wins AS HUGEINT) * 100 * 1000000", "beat_total", 1)}
      END AS win_rate_on_beat,
      CASE WHEN miss_total > 0 THEN
        ${oDivRound("CAST(miss_wins AS HUGEINT) * 100 * 1000000", "miss_total", 1)}
      END AS win_rate_on_miss,
      ${oSnap(s"COALESCE($avgBeat, $avgLB, 0) - COALESCE($avgMiss, $avgLM, 0)", 4)}
        AS beat_miss_spread,
      surprise_correlation,
      ${oSnap(
      s"ABS(COALESCE(surprise_correlation, 0)) * 50 + ABS(COALESCE($avgBeat, 0) - COALESCE($avgMiss, 0)) * 10",
      2)} AS response_strength_score,
      (ABS(COALESCE(surprise_correlation, 0)) >= 0.2
        OR ABS(COALESCE($avgBeat, 0) - COALESCE($avgMiss, 0)) >= 1.0)
        AS is_surprise_responsive,
      CASE WHEN surprise_correlation > 0.15 THEN 'Pro-cyclical'
           WHEN surprise_correlation < -0.15 THEN 'Counter-cyclical'
           ELSE 'Neutral' END AS response_type
    FROM event_study_stats
  """
  }

  // ------------------------------------------------------------------
  // leading_econ_return_indicator (ref, 199 LoC)
  // ------------------------------------------------------------------

  private def leadingEcon(s: SparkSession, dir: String): DataFrame = {
    val catCol = FredCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
      when(col("series_code") === c, lit(category(c))).otherwise(acc)
    }
    val bha = baseHistorical(s, dir)
      .filter(col("value").isNotNull && col("series_name").isNotNull)
      .withColumn("economic_category",
        FredCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
          when(col("series_name") === s"Series $c", lit(category(c))).otherwise(acc)
        })
      .filter(col("economic_category").isNotNull)

    val wSer = Window.partitionBy(col("symbol"), col("series_name")).orderBy(col("date"))
    val ec = bha.select(
      col("symbol"), col("date"), col("series_name"), col("category"),
      col("economic_category"), col("value"),
      col("pct_change_3mo").as("quarterly_return_pct"),
      col("pct_change_3mo").as("pct_change_q1"),
      col("pct_change_6mo").as("pct_change_q2"),
      col("pct_change_9mo").as("pct_change_q3"),
      lag(col("value"), 1).over(wSer).as("prev_econ_value"))
      .withColumn("econ_mom_change_pct",
        when(col("prev_econ_value").isNotNull && col("prev_econ_value") =!= 0,
          (col("value") - col("prev_econ_value")) / col("prev_econ_value") * 100))
      .filter(col("econ_mom_change_pct").isNotNull)
      // both output branches (corr + quintile) re-derive this frame —
      // persist so bha computes once, not twice
      .persist()

    def condSum(cond: Column, v: Column): Column =
      sum(when(cond, v).cast(DecimalType(18, 6)))
    val corrBranch = ec
      .groupBy(col("symbol"), col("series_name"), col("category"), col("economic_category"))
      .agg(
        count(lit(1)).as("observation_count"),
        corr(col("econ_mom_change_pct"), col("pct_change_q1")).as("c_q1"),
        corr(col("econ_mom_change_pct"), col("pct_change_q2")).as("c_q2"),
        corr(col("econ_mom_change_pct"), col("pct_change_q3")).as("c_q3"),
        corr(col("econ_mom_change_pct"), col("quarterly_return_pct")).as("c_qt"),
        condSum(col("econ_mom_change_pct") > 0, col("pct_change_q1")).as("up_q1_sum"),
        count(when(col("econ_mom_change_pct") > 0, col("pct_change_q1"))).as("up_q1_n"),
        condSum(col("econ_mom_change_pct") < 0, col("pct_change_q1")).as("dn_q1_sum"),
        count(when(col("econ_mom_change_pct") < 0, col("pct_change_q1"))).as("dn_q1_n"),
        condSum(col("econ_mom_change_pct") > 0, col("quarterly_return_pct")).as("up_qt_sum"),
        count(when(col("econ_mom_change_pct") > 0, col("quarterly_return_pct"))).as("up_qt_n"),
        condSum(col("econ_mom_change_pct") < 0, col("quarterly_return_pct")).as("dn_qt_sum"),
        count(when(col("econ_mom_change_pct") < 0, col("quarterly_return_pct"))).as("dn_qt_n"))
      .filter(col("observation_count") >= 10)

    def avgOf(sumC: String, nC: String, n: Int): Column =
      when(col(nC) > 0, rdiv(col(sumC), col(nC), n))
    val upQ1 = col("up_q1_sum").cast("double") / nullif(col("up_q1_n").cast("double"))
    val dnQ1 = col("dn_q1_sum").cast("double") / nullif(col("dn_q1_n").cast("double"))
    val corrOut = corrBranch.select(
      lit("Correlation Analysis").as("analysis_type"),
      col("symbol"), col("series_name"), col("category"), col("economic_category"),
      col("observation_count"),
      round(col("c_q1"), 4).as("correlation_econ_vs_q1_returns"),
      round(col("c_q2"), 4).as("correlation_econ_vs_q2_returns"),
      round(col("c_q3"), 4).as("correlation_econ_vs_q3_returns"),
      round(col("c_qt"), 4).as("correlation_econ_vs_quarterly_total_return"),
      avgOf("up_q1_sum", "up_q1_n", 2).as("avg_q1_return_econ_up"),
      avgOf("dn_q1_sum", "dn_q1_n", 2).as("avg_q1_return_econ_down"),
      avgOf("up_qt_sum", "up_qt_n", 2).as("avg_quarterly_total_return_econ_up"),
      avgOf("dn_qt_sum", "dn_qt_n", 2).as("avg_quarterly_total_return_econ_down"),
      rsnap(coalesce(upQ1, lit(0.0)) - coalesce(dnQ1, lit(0.0)), 2).as("return_difference"))

    // quintile branch (NTILE tie-broken by date — see scaladoc)
    val wQ = Window.partitionBy(col("symbol"), col("series_name"))
      .orderBy(col("econ_mom_change_pct"), col("date"))
    val quintiles = ec
      .withColumn("econ_change_quintile", ntile(5).over(wQ))
      .groupBy(col("symbol"), col("series_name"), col("category"),
        col("economic_category"), col("econ_change_quintile"))
      .agg(
        count(lit(1)).as("qn"),
        sum(col("pct_change_q1").cast(DecimalType(18, 6))).as("q1_sum"),
        count(col("pct_change_q1")).as("q1_n"),
        sum(col("quarterly_return_pct").cast(DecimalType(18, 6))).as("qt_sum"),
        count(col("quarterly_return_pct")).as("qt_n"),
        round(avg(col("econ_mom_change_pct")), 2).as("avg_mom"))
      .filter(col("qn") >= 3)
    val quintOut = quintiles.select(
      lit("Quintile Analysis").as("analysis_type"),
      col("symbol"), col("series_name"), col("category"), col("economic_category"),
      lit(null).cast("long").as("observation_count"),
      col("econ_change_quintile").cast("double").as("correlation_econ_vs_q1_returns"),
      lit(null).cast("double").as("correlation_econ_vs_q2_returns"),
      lit(null).cast("double").as("correlation_econ_vs_q3_returns"),
      lit(null).cast("double").as("correlation_econ_vs_quarterly_total_return"),
      when(col("q1_n") > 0, rdiv(col("q1_sum"), col("q1_n"), 2)).as("avg_q1_return_econ_up"),
      col("qn").cast("double").as("avg_q1_return_econ_down"),
      when(col("qt_n") > 0, rdiv(col("qt_sum"), col("qt_n"), 2))
        .as("avg_quarterly_total_return_econ_up"),
      lit(null).cast("double").as("avg_quarterly_total_return_econ_down"),
      col("avg_mom").as("return_difference"))

    corrOut.unionAll(quintOut)
  }

  private val leadingEconSql: String = {
    val serCatCase = FredCodes
      .map(c => s"WHEN 'Series $c' THEN '${category(c)}'").mkString(" ")
    def oAvg(sumC: String, nC: String, n: Int) =
      s"CASE WHEN $nC > 0 THEN ${oDivRound(s"CAST($sumC * 1000000 AS HUGEINT)", nC, n)} END"
    s"""
    WITH ${stgFredSql(FredCodes)},
    $baseHistoricalCtesSql,
    economic_changes AS (
      SELECT symbol, date, series_name, category,
        CASE series_name $serCatCase END AS economic_category,
        value,
        pct_change_3mo AS quarterly_return_pct,
        pct_change_3mo AS pct_change_q1,
        pct_change_6mo AS pct_change_q2,
        pct_change_9mo AS pct_change_q3,
        LAG(value, 1) OVER (PARTITION BY symbol, series_name ORDER BY date) AS prev_econ_value
      FROM bha
      WHERE value IS NOT NULL AND series_name IS NOT NULL
        AND CASE series_name $serCatCase END IS NOT NULL
    ),
    ec AS (
      SELECT *,
        CASE WHEN prev_econ_value IS NOT NULL AND prev_econ_value != 0
          THEN (value - prev_econ_value) / prev_econ_value * 100 END AS econ_mom_change_pct
      FROM economic_changes
    ),
    ec2 AS (SELECT * FROM ec WHERE econ_mom_change_pct IS NOT NULL),
    correlation_analysis AS (
      SELECT symbol, series_name, category, economic_category,
        COUNT(*) AS observation_count,
        CORR(econ_mom_change_pct, pct_change_q1) AS c_q1,
        CORR(econ_mom_change_pct, pct_change_q2) AS c_q2,
        CORR(econ_mom_change_pct, pct_change_q3) AS c_q3,
        CORR(econ_mom_change_pct, quarterly_return_pct) AS c_qt,
        SUM(CASE WHEN econ_mom_change_pct > 0 THEN CAST(pct_change_q1 AS DECIMAL(18,6)) END) AS up_q1_sum,
        COUNT(CASE WHEN econ_mom_change_pct > 0 THEN pct_change_q1 END) AS up_q1_n,
        SUM(CASE WHEN econ_mom_change_pct < 0 THEN CAST(pct_change_q1 AS DECIMAL(18,6)) END) AS dn_q1_sum,
        COUNT(CASE WHEN econ_mom_change_pct < 0 THEN pct_change_q1 END) AS dn_q1_n,
        SUM(CASE WHEN econ_mom_change_pct > 0 THEN CAST(quarterly_return_pct AS DECIMAL(18,6)) END) AS up_qt_sum,
        COUNT(CASE WHEN econ_mom_change_pct > 0 THEN quarterly_return_pct END) AS up_qt_n,
        SUM(CASE WHEN econ_mom_change_pct < 0 THEN CAST(quarterly_return_pct AS DECIMAL(18,6)) END) AS dn_qt_sum,
        COUNT(CASE WHEN econ_mom_change_pct < 0 THEN quarterly_return_pct END) AS dn_qt_n
      FROM ec2
      GROUP BY symbol, series_name, category, economic_category
    )
    SELECT 'Correlation Analysis' AS analysis_type,
      symbol, series_name, category, economic_category,
      observation_count,
      ROUND(c_q1, 4) + 0.0 AS correlation_econ_vs_q1_returns,
      ROUND(c_q2, 4) + 0.0 AS correlation_econ_vs_q2_returns,
      ROUND(c_q3, 4) + 0.0 AS correlation_econ_vs_q3_returns,
      ROUND(c_qt, 4) + 0.0 AS correlation_econ_vs_quarterly_total_return,
      ${oAvg("up_q1_sum", "up_q1_n", 2)} AS avg_q1_return_econ_up,
      ${oAvg("dn_q1_sum", "dn_q1_n", 2)} AS avg_q1_return_econ_down,
      ${oAvg("up_qt_sum", "up_qt_n", 2)} AS avg_quarterly_total_return_econ_up,
      ${oAvg("dn_qt_sum", "dn_qt_n", 2)} AS avg_quarterly_total_return_econ_down,
      ${oSnap(
      "COALESCE(CAST(up_q1_sum AS DOUBLE) / NULLIF(CAST(up_q1_n AS DOUBLE), 0), 0) - COALESCE(CAST(dn_q1_sum AS DOUBLE) / NULLIF(CAST(dn_q1_n AS DOUBLE), 0), 0)",
      2)} AS return_difference
    FROM correlation_analysis
    WHERE observation_count >= 10
    UNION ALL
    SELECT 'Quintile Analysis' AS analysis_type,
      symbol, series_name, category, economic_category,
      CAST(NULL AS BIGINT) AS observation_count,
      CAST(econ_change_quintile AS DOUBLE) AS correlation_econ_vs_q1_returns,
      CAST(NULL AS DOUBLE) AS correlation_econ_vs_q2_returns,
      CAST(NULL AS DOUBLE) AS correlation_econ_vs_q3_returns,
      CAST(NULL AS DOUBLE) AS correlation_econ_vs_quarterly_total_return,
      ${oAvg("q1_sum", "q1_n", 2)} AS avg_q1_return_econ_up,
      CAST(qn AS DOUBLE) AS avg_q1_return_econ_down,
      ${oAvg("qt_sum", "qt_n", 2)} AS avg_quarterly_total_return_econ_up,
      CAST(NULL AS DOUBLE) AS avg_quarterly_total_return_econ_down,
      avg_mom AS return_difference
    FROM (
      SELECT symbol, series_name, category, economic_category, econ_change_quintile,
        COUNT(*) AS qn,
        SUM(CAST(pct_change_q1 AS DECIMAL(18,6))) AS q1_sum,
        COUNT(pct_change_q1) AS q1_n,
        SUM(CAST(quarterly_return_pct AS DECIMAL(18,6))) AS qt_sum,
        COUNT(quarterly_return_pct) AS qt_n,
        ROUND(AVG(econ_mom_change_pct), 2) + 0.0 AS avg_mom
      FROM (
        SELECT *, NTILE(5) OVER (PARTITION BY symbol, series_name
          ORDER BY econ_mom_change_pct, date) AS econ_change_quintile
        FROM ec2
      )
      GROUP BY symbol, series_name, category, economic_category, econ_change_quintile
      HAVING COUNT(*) >= 3
    )
  """
  }

  // ------------------------------------------------------------------
  // leading_econ_return_indicator_snapshot (ref backtesting/, 125 LoC)
  // ------------------------------------------------------------------

  /** PIT variant of leadingEcon (ref leading_econ_return_indicator_
    * snapshot.sql): correlation branch over the rows with
    * date <= snapshot_date per month-start snapshot, LAG keyed by
    * (snapshot_date, symbol, series_name). Two reference quirks
    * replicated: `return_difference` repeats avg_q1_return_econ_down
    * (ref :124 — copy-paste twin of the base model's up-minus-down),
    * and there is no quintile branch.
    *
    * Scale design — prefix aggregates as running moments, NOT a spine
    * fan-out. The naive plan (bha × spine with date <= snapshot_date,
    * re-aggregating each prefix) is O(rows × snapshots): at 100× the
    * history that is 100× rows times ~100× snapshots. But every
    * aggregate here is a prefix aggregate over the SAME date order —
    * a row's LAG inside any snapshot prefix equals its global LAG —
    * so COUNT/CORR/conditional sums all derive from cumulative sums
    * computed ONCE per row (CORR from its co-moment sums n, Σx, Σy,
    * Σxy, Σx², Σy²), and each snapshot just picks the last row at or
    * before it (a [date, next_date) interval join against the tiny
    * month spine). One window pass, O(rows), no fan-out.
    *
    * Parity: the moment sums accumulate DECIMAL(18,6)-cast values —
    * exact, order-independent, identical in DuckDB — and the final
    * correlation is the same double formula over those exact sums on
    * both sides, snapped before round(4).
    */
  private val LeadingEconSnapCutoff = "1998-07-01"

  /** The snapshot's input staging, projected to the consumed columns
    * — the `stg_base_historical_thin` mart of [[SharedMarts]]. */
  private[queries] def baseHistoricalThin(s: SparkSession, dir: String): DataFrame =
    baseHistorical(s, dir)
      .select("symbol", "date", "series_name", "category", "value",
        "pct_change_3mo", "pct_change_6mo", "pct_change_9mo")

  /** The snapshot over the thin staging frame. Referenced twice
    * (spine derivation + moments frame), so persisted: built inline,
    * the base_historical pipeline runs once. The staging is projected to
    * the consumed columns FIRST: the cache would otherwise force the
    * RANGE-window family (high/low/std_diff_1yr), which this model
    * never reads — ColumnPruning drops those window expressions from
    * the cached plan. */
  private[queries] def leadingEconSnapshotFrom(bha: DataFrame): DataFrame = {
    val bhaDf = bha.persist()
    val spine = bhaDf
      .filter(col("date") >= to_date(lit(LeadingEconSnapCutoff)))
      .select(trunc(col("date"), "month").as("snapshot_date"))
      .distinct()
    val wSer = Window.partitionBy(col("symbol"), col("series_name")).orderBy(col("date"))
    val ec = bhaDf
      .filter(col("value").isNotNull && col("series_name").isNotNull)
      .withColumn("economic_category",
        FredCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
          when(col("series_name") === s"Series $c", lit(category(c))).otherwise(acc)
        })
      .filter(col("economic_category").isNotNull)
      .select(
        col("symbol"), col("date"), col("series_name"), col("category"),
        col("economic_category"), col("value"),
        col("pct_change_3mo").as("q1"),
        col("pct_change_6mo").as("q2"),
        col("pct_change_9mo").as("q3"),
        lag(col("value"), 1).over(wSer).as("prev_econ_value"))
      .withColumn("mom",
        when(col("prev_econ_value").isNotNull && col("prev_econ_value") =!= 0,
          (col("value") - col("prev_econ_value")) / col("prev_econ_value") * 100))
      .filter(col("mom").isNotNull)

    // Cumulative co-moment sums per (symbol, series), date-ordered.
    // x (mom) and y (returns) go through DECIMAL(18,6) so the running
    // sums are exact; products carry scale 12, still exact.
    val wCum = wSer.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xd = col("mom").cast(DecimalType(18, 6))
    def yd(k: String) = col(k).cast(DecimalType(18, 6))
    def moments(k: String): Seq[Column] = Seq(
      count(col(k)).over(wCum).as(s"n_$k"),
      sum(when(col(k).isNotNull, xd)).over(wCum).as(s"sx_$k"),
      sum(yd(k)).over(wCum).as(s"sy_$k"),
      sum(when(col(k).isNotNull, xd * yd(k))).over(wCum).as(s"sxy_$k"),
      sum(when(col(k).isNotNull, xd * xd)).over(wCum).as(s"sxx_$k"),
      sum(yd(k) * yd(k)).over(wCum).as(s"syy_$k"))
    val cum = ec.select(
      Seq(col("symbol"), col("series_name"), col("category"), col("economic_category"),
        col("date"),
        lead(col("date"), 1).over(wSer).as("next_date"),
        count(lit(1)).over(wCum).as("observation_count"),
        sum(when(col("mom") > 0, yd("q1"))).over(wCum).as("up_q1_sum"),
        count(when(col("mom") > 0, col("q1"))).over(wCum).as("up_q1_n"),
        sum(when(col("mom") < 0, yd("q1"))).over(wCum).as("dn_q1_sum"),
        count(when(col("mom") < 0, col("q1"))).over(wCum).as("dn_q1_n")) ++
        Seq("q1", "q2", "q3").flatMap(moments): _*)

    // Each snapshot reads the last row at or before it: a [date,
    // next_date) interval join against the broadcast month spine.
    val snap = cum.join(broadcast(spine),
      col("snapshot_date") >= col("date") &&
        (col("next_date").isNull || col("snapshot_date") < col("next_date")))
      .filter(col("observation_count") >= 10)

    // corr from exact moments, same double formula as the oracle
    def corrOf(k: String): Column = {
      val n   = col(s"n_$k").cast("double")
      val sx  = col(s"sx_$k").cast("double")
      val sy  = col(s"sy_$k").cast("double")
      val sxy = col(s"sxy_$k").cast("double")
      val sxx = col(s"sxx_$k").cast("double")
      val syy = col(s"syy_$k").cast("double")
      val vx  = n * sxx - sx * sx
      val vy  = n * syy - sy * sy
      rsnap(when(col(s"n_$k") >= 2 && vx > 0 && vy > 0,
        (n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))), 4)
    }
    def avgOf(sumC: String, nC: String): Column =
      when(col(nC) > 0, rdiv(col(sumC), col(nC), 2))
    snap.select(
      col("snapshot_date"),
      lit("Correlation Analysis").as("analysis_type"),
      col("symbol"), col("series_name"), col("category"), col("economic_category"),
      col("observation_count"),
      corrOf("q1").as("correlation_econ_vs_q1_returns"),
      corrOf("q2").as("correlation_econ_vs_q2_returns"),
      corrOf("q3").as("correlation_econ_vs_q3_returns"),
      avgOf("up_q1_sum", "up_q1_n").as("avg_q1_return_econ_up"),
      avgOf("dn_q1_sum", "dn_q1_n").as("avg_q1_return_econ_down"),
      avgOf("dn_q1_sum", "dn_q1_n").as("return_difference"))
  }

  private val leadingEconSnapshotSql: String = {
    val serCatCase = FredCodes
      .map(c => s"WHEN 'Series $c' THEN '${category(c)}'").mkString(" ")
    def oAvg(sumC: String, nC: String) =
      s"CASE WHEN $nC > 0 THEN ${oDivRound(s"CAST($sumC * 1000000 AS HUGEINT)", nC, 2)} END"
    // Prefix aggregates as cumulative co-moment sums — the same O(rows)
    // shape as the Spark side (see leadingEconSnapshotFrom scaladoc), with
    // identical DECIMAL(18,6) accumulation and the same double formula.
    // Products use DECIMAL(19,6) operands: 19+19 = 38 total width keeps
    // DuckDB inside INT128 multiplication (18+18 stays in the INT64
    // path and overflows); values are identical, so exactness vs the
    // Spark side's (18,6)x(18,6) -> (37,12) products is preserved.
    val momentCols = Seq("q1", "q2", "q3").map { k =>
      s"""COUNT($k) OVER wcum AS n_$k,
        SUM(CASE WHEN $k IS NOT NULL THEN xd END) OVER wcum AS sx_$k,
        SUM(CAST($k AS DECIMAL(18,6))) OVER wcum AS sy_$k,
        SUM(CASE WHEN $k IS NOT NULL THEN xd * CAST($k AS DECIMAL(19,6)) END) OVER wcum AS sxy_$k,
        SUM(CASE WHEN $k IS NOT NULL THEN xd * xd END) OVER wcum AS sxx_$k,
        SUM(CAST($k AS DECIMAL(19,6)) * CAST($k AS DECIMAL(19,6))) OVER wcum AS syy_$k"""
    }.mkString(",\n        ")
    def oCorr(k: String) = oSnap(
      s"""CASE WHEN n_$k >= 2
          AND CAST(n_$k AS DOUBLE) * CAST(sxx_$k AS DOUBLE) - CAST(sx_$k AS DOUBLE) * CAST(sx_$k AS DOUBLE) > 0
          AND CAST(n_$k AS DOUBLE) * CAST(syy_$k AS DOUBLE) - CAST(sy_$k AS DOUBLE) * CAST(sy_$k AS DOUBLE) > 0
        THEN (CAST(n_$k AS DOUBLE) * CAST(sxy_$k AS DOUBLE) - CAST(sx_$k AS DOUBLE) * CAST(sy_$k AS DOUBLE))
          / (SQRT(CAST(n_$k AS DOUBLE) * CAST(sxx_$k AS DOUBLE) - CAST(sx_$k AS DOUBLE) * CAST(sx_$k AS DOUBLE))
             * SQRT(CAST(n_$k AS DOUBLE) * CAST(syy_$k AS DOUBLE) - CAST(sy_$k AS DOUBLE) * CAST(sy_$k AS DOUBLE)))
        END""", 4)
    s"""
    WITH ${stgFredSql(FredCodes)},
    $baseHistoricalCtesSql,
    spine AS (
      SELECT DISTINCT CAST(DATE_TRUNC('month', date) AS DATE) AS snapshot_date
      FROM bha WHERE date >= DATE '$LeadingEconSnapCutoff'
    ),
    ec AS (
      SELECT *, CAST(mom AS DECIMAL(19,6)) AS xd
      FROM (
        SELECT *,
          CASE WHEN prev_econ_value IS NOT NULL AND prev_econ_value != 0
            THEN (value - prev_econ_value) / prev_econ_value * 100 END AS mom
        FROM (
          SELECT symbol, date, series_name, category,
            CASE series_name $serCatCase END AS economic_category, value,
            pct_change_3mo AS q1, pct_change_6mo AS q2, pct_change_9mo AS q3,
            LAG(value, 1) OVER (PARTITION BY symbol, series_name ORDER BY date)
              AS prev_econ_value
          FROM bha
          WHERE value IS NOT NULL AND series_name IS NOT NULL
            AND CASE series_name $serCatCase END IS NOT NULL
        )
      ) WHERE mom IS NOT NULL
    ),
    cum AS (
      SELECT symbol, series_name, category, economic_category, date,
        LEAD(date, 1) OVER (PARTITION BY symbol, series_name ORDER BY date) AS next_date,
        COUNT(*) OVER wcum AS observation_count,
        SUM(CASE WHEN mom > 0 THEN CAST(q1 AS DECIMAL(18,6)) END) OVER wcum AS up_q1_sum,
        COUNT(CASE WHEN mom > 0 THEN q1 END) OVER wcum AS up_q1_n,
        SUM(CASE WHEN mom < 0 THEN CAST(q1 AS DECIMAL(18,6)) END) OVER wcum AS dn_q1_sum,
        COUNT(CASE WHEN mom < 0 THEN q1 END) OVER wcum AS dn_q1_n,
        $momentCols
      FROM ec
      WINDOW wcum AS (PARTITION BY symbol, series_name ORDER BY date
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT s.snapshot_date, 'Correlation Analysis' AS analysis_type,
      c.symbol, c.series_name, c.category, c.economic_category,
      CAST(c.observation_count AS BIGINT) AS observation_count,
      ${oCorr("q1")} AS correlation_econ_vs_q1_returns,
      ${oCorr("q2")} AS correlation_econ_vs_q2_returns,
      ${oCorr("q3")} AS correlation_econ_vs_q3_returns,
      ${oAvg("up_q1_sum", "up_q1_n")} AS avg_q1_return_econ_up,
      ${oAvg("dn_q1_sum", "dn_q1_n")} AS avg_q1_return_econ_down,
      ${oAvg("dn_q1_sum", "dn_q1_n")} AS return_difference
    FROM cum c JOIN spine s
      ON s.snapshot_date >= c.date
      AND (c.next_date IS NULL OR s.snapshot_date < c.next_date)
    WHERE c.observation_count >= 10
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_base_historical_analysis", baseHistorical, Some(baseHistoricalSql)),
    QueryDef("q_indicator_market_response", indicatorMarketResponse,
      Some(indicatorMarketResponseSql)),
    QueryDef("q_leading_econ_return_indicator", leadingEcon, Some(leadingEconSql)),
    SharedMarts.query("q_leading_econ_return_indicator_snapshot", Some(leadingEconSnapshotSql)),
    // agent_leading_econ_return_indicator_snapshot.sql is a bare
    // SELECT * over the backtesting model — same plan, agent name
    SharedMarts.query("q_agent_leading_econ_return_indicator_snapshot",
      Some(leadingEconSnapshotSql))
  )
}
