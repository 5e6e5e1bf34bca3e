package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.queries.QueryDef.{nullif, oDivRound, oSnap, rdiv, rsnap}
import graft.queries.FredSignalQueries.{idxOf, stgFred, stgFredSql}
import graft.runtime.Tables

/** Analysis-schema heavyweights part 3 — the sensitivity/regime family
  * (refs dbt_project/models/analysis/sector_indicator_sensitivity.sql,
  * sector_sensitivity_summary.sql, sector_regime_performance.sql,
  * ticker_sector_sensitivity.sql):
  *
  *  - sector_indicator_sensitivity: monthly sector-ETF returns ×
  *    indicator MoM changes; contemporaneous + lag-1/2/3/6
  *    correlations, up/down conditional returns, the best-lag CASE
  *    ladder and the 0.3/0.2/0.5-weighted sensitivity score.
  *  - sector_sensitivity_summary: within-sector ranking/percentile of
  *    indicators, sector- and category-level aggregates, top-10/top-5
  *    and predictive-power flags.
  *  - sector_regime_performance: per-(sector, regime) return stats
  *    (mean/stddev/sharpe-proxy/median/extremes/win-rate), the Overall
  *    branch, cross-sector regime averages, relative performance and
  *    regime ranks.
  *  - ticker_sector_sensitivity: ticker → GICS sector → ETF mapping
  *    joined to the top-5 indicator aggregate (ordered STRING_AGGs)
  *    and the regime-performance pivot.
  *
  * The sector universe here stages the reference's ELEVEN ETF symbols
  * directly (l_suppkey % 11 → XLK…XLV), so the models' literal symbol
  * filters and sector-name mappings apply verbatim. Rankings and
  * ordered aggregations add series_code/symbol tie-breaks (rounded
  * scores tie; the reference's ordering is nondeterministic there).
  */
object AnalysisQueries4 {

  val EtfSymbols: Seq[String] = Seq("XLK", "XLC", "XLY", "XLF", "XLI", "XLU",
    "XLP", "XLRE", "XLB", "XLE", "XLV")

  /** (symbol, sector_name, sector_type) — ref literal. */
  val SectorNames: Seq[(String, String, String)] = Seq(
    ("XLK", "Technology", "Cyclical"),
    ("XLC", "Communication Services", "Cyclical"),
    ("XLY", "Consumer Discretionary", "Cyclical"),
    ("XLF", "Financial", "Cyclical"),
    ("XLI", "Industrial", "Cyclical"),
    ("XLU", "Utilities", "Defensive"),
    ("XLP", "Consumer Staples", "Defensive"),
    ("XLRE", "Real Estate", "Interest-Sensitive"),
    ("XLB", "Materials", "Cyclical"),
    ("XLE", "Energy", "Cyclical"),
    ("XLV", "Health Care", "Defensive"))

  val etfs: PriceBars.Universe = PriceBars.named(col("l_suppkey") % 11, "l_suppkey % 11", EtfSymbols)

  private val FredCodes = Seq("INDPRO", "UNRATE", "PAYEMS", "CPIAUCSL",
    "T10Y2Y", "NFCI", "UMCSENT", "IPMAN")

  private def category(code: String): String = s"cat${idxOf(code) % 5}"

  /** Monthly last-of-month sector returns over the 11-ETF universe. */
  private def sectorReturns(s: SparkSession, dir: String): DataFrame = {
    val ar = MarketAnalysisReturn.analysisReturn(
      MarketAnalysisQueries.universe(s, dir, etfs, "NYSEARCA"))
      .select(col("symbol"), col("date"), col("pct_change_1mo"),
        col("pct_change_3mo"), col("pct_change_6mo"), col("pct_change_1yr"))
      .filter(col("symbol").isin(EtfSymbols: _*))
    val wMon = Window.partitionBy(col("symbol"),
      date_trunc("month", col("date")).cast("date")).orderBy(col("date").desc)
    ar.withColumn("rn", row_number().over(wMon))
      .filter(col("rn") === 1)
      .select(col("symbol"),
        date_trunc("month", col("date")).cast("date").as("month_date"),
        col("pct_change_1mo").as("return_1mo"),
        col("pct_change_3mo").as("return_3mo"),
        col("pct_change_6mo").as("return_6mo"),
        col("pct_change_1yr").as("return_12mo"))
  }

  private val sectorReturnsSql: String = {
    val lookbackJoins = Seq(365, 180, 90, 30).map { d =>
      s"""LEFT JOIN daily p$d ON dc.symbol = p$d.symbol AND dc.exchange = p$d.exchange
          AND p$d.date + $d = dc.date"""
    }.mkString("\n        ")
    val pcts = Seq(30 -> "return_1mo", 90 -> "return_3mo", 180 -> "return_6mo",
      365 -> "return_12mo").map { case (d, a) =>
      s"""ROUND(CASE WHEN p$d.adj_close IS NOT NULL AND p$d.adj_close > 0
        THEN (dc.adj_close - p$d.adj_close) / p$d.adj_close * 100 END, 2) + 0.0 AS $a"""
    }.mkString(",\n        ")
    s"""
    ${MarketAnalysisQueries.uniCte(etfs, "NYSEARCA")},
    daily AS (
      SELECT * FROM uni WHERE adj_close IS NOT NULL
    ),
    ar AS (
      SELECT dc.symbol, dc.date,
        $pcts
      FROM daily dc
        $lookbackJoins
      WHERE dc.symbol IN (${EtfSymbols.map(sym => s"'$sym'").mkString(", ")})
    ),
    sector_monthly AS (
      SELECT symbol,
        CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        return_1mo, return_3mo, return_6mo, return_12mo,
        ROW_NUMBER() OVER (
          PARTITION BY symbol, CAST(DATE_TRUNC('month', date) AS DATE)
          ORDER BY date DESC) AS rn
      FROM ar
    ),
    sector_returns AS (
      SELECT symbol, month_date, return_1mo, return_3mo, return_6mo, return_12mo
      FROM sector_monthly WHERE rn = 1
    )"""
  }

  /** Monthly indicator values with MoM + 3mo pct changes. */
  private def indicatorMonthly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("series_code")).orderBy(col("i_m"))
    def pct(lagN: Int): Column = {
      val l = lag(col("value"), lagN).over(w)
      when(l.isNotNull && l =!= 0, (col("value") - l) / abs(l) * 100)
    }
    stgFred(s, dir, FredCodes)
      .groupBy(col("series_code"),
        date_trunc("month", col("date")).cast("date").as("i_m"))
      .agg(max(col("value")).as("value"))
      .select(col("series_code"),
        concat(lit("Series "), col("series_code")).as("series_name"),
        col("i_m"), col("value"),
        pct(1).as("indicator_mom_pct"), pct(3).as("indicator_3mo_pct"))
  }

  private val indicatorMonthlySql: String = s"""
    indicator_monthly AS (
      SELECT series_code, 'Series ' || series_code AS series_name, i_m, value,
        CASE WHEN prev1 IS NOT NULL AND prev1 != 0
          THEN (value - prev1) / ABS(prev1) * 100 END AS indicator_mom_pct,
        CASE WHEN prev3 IS NOT NULL AND prev3 != 0
          THEN (value - prev3) / ABS(prev3) * 100 END AS indicator_3mo_pct
      FROM (
        SELECT series_code, CAST(DATE_TRUNC('month', date) AS DATE) AS i_m,
          MAX(value) AS value,
          LAG(MAX(value), 1) OVER (PARTITION BY series_code
            ORDER BY CAST(DATE_TRUNC('month', date) AS DATE)) AS prev1,
          LAG(MAX(value), 3) OVER (PARTITION BY series_code
            ORDER BY CAST(DATE_TRUNC('month', date) AS DATE)) AS prev3
        FROM stg
        WHERE series_code IN (${FredCodes.map(c => s"'$c'").mkString(", ")})
        GROUP BY 1, 2
      )
    )"""

  // ------------------------------------------------------------------
  // sector_indicator_sensitivity (ref, 249 LoC)
  // ------------------------------------------------------------------

  /** The sensitivity frame (shared with the summary model). */
  private def sensitivityFrame(s: SparkSession, dir: String): DataFrame = {
    val catCol = FredCodes.foldLeft(lit(null).cast("string")) { (acc, c) =>
      when(col("series_code") === c, lit(category(c))).otherwise(acc)
    }
    val wLag = Window.partitionBy(col("symbol"), col("series_code"))
      .orderBy(col("month_date"))
    val joined = sectorReturns(s, dir)
      .join(indicatorMonthly(s, dir), col("month_date") === col("i_m"))
      .select(col("symbol"), col("month_date"),
        col("return_1mo"), col("return_3mo"), col("return_6mo"), col("return_12mo"),
        col("series_code"), col("series_name"), catCol.as("indicator_category"),
        col("indicator_mom_pct"), col("indicator_3mo_pct"))
      .withColumn("lag1", lag(col("indicator_mom_pct"), 1).over(wLag))
      .withColumn("lag2", lag(col("indicator_mom_pct"), 2).over(wLag))
      .withColumn("lag3", lag(col("indicator_mom_pct"), 3).over(wLag))
      .withColumn("lag6", lag(col("indicator_mom_pct"), 6).over(wLag))
      .filter(col("indicator_mom_pct").isNotNull)

    def rc(a: Column, b: Column): Column = round(corr(a, b), 4)
    val calcs = joined
      .groupBy(col("symbol"), col("series_code"), col("series_name"),
        col("indicator_category"))
      .agg(
        count(lit(1)).as("observation_count"),
        rc(col("indicator_mom_pct"), col("return_1mo")).as("corr_1mo_contemp"),
        rc(col("indicator_mom_pct"), col("return_3mo")).as("corr_3mo_contemp"),
        rc(col("indicator_mom_pct"), col("return_6mo")).as("corr_6mo_contemp"),
        rc(col("indicator_mom_pct"), col("return_12mo")).as("corr_12mo_contemp"),
        rc(col("lag1"), col("return_1mo")).as("corr_1mo_lag1"),
        rc(col("lag2"), col("return_1mo")).as("corr_1mo_lag2"),
        rc(col("lag3"), col("return_1mo")).as("corr_1mo_lag3"),
        rc(col("lag6"), col("return_1mo")).as("corr_1mo_lag6"),
        rc(col("indicator_3mo_pct"), col("return_3mo")).as("corr_3mo_indicator_3mo_return"),
        sum(when(col("indicator_mom_pct") > 0, col("return_1mo")).cast(DecimalType(18, 6)))
          .as("up_sum"),
        count(when(col("indicator_mom_pct") > 0, col("return_1mo"))).as("up_n"),
        sum(when(col("indicator_mom_pct") < 0, col("return_1mo")).cast(DecimalType(18, 6)))
          .as("dn_sum"),
        count(when(col("indicator_mom_pct") < 0, col("return_1mo"))).as("dn_n"),
        round(stddev_samp(col("indicator_mom_pct")), 2).as("indicator_volatility"),
        round(stddev_samp(col("return_1mo")), 2).as("sector_return_volatility"))
      .filter(col("observation_count") >= 24)

    def a(c: String): Column = abs(coalesce(col(c), lit(0.0)))
    val upAvg = col("up_sum").cast("double") / nullif(col("up_n").cast("double"))
    val dnAvg = col("dn_sum").cast("double") / nullif(col("dn_n").cast("double"))
    calcs.select(
      col("symbol"),
      SectorNames.foldLeft(lit(null).cast("string")) { case (acc, (sym, n, _)) =>
        when(col("symbol") === sym, lit(n)).otherwise(acc)
      }.as("sector_name"),
      col("series_code"), col("series_name"), col("indicator_category"),
      col("observation_count"),
      col("corr_1mo_contemp"), col("corr_3mo_contemp"), col("corr_6mo_contemp"),
      col("corr_12mo_contemp"),
      col("corr_1mo_lag1"), col("corr_1mo_lag2"), col("corr_1mo_lag3"),
      col("corr_1mo_lag6"),
      when(a("corr_1mo_lag1") >= a("corr_1mo_lag2") &&
        a("corr_1mo_lag1") >= a("corr_1mo_lag3") &&
        a("corr_1mo_lag1") >= a("corr_1mo_lag6"), 1)
        .when(a("corr_1mo_lag2") >= a("corr_1mo_lag3") &&
          a("corr_1mo_lag2") >= a("corr_1mo_lag6"), 2)
        .when(a("corr_1mo_lag3") >= a("corr_1mo_lag6"), 3)
        .otherwise(6).cast("long").as("best_lag_months"),
      greatest(a("corr_1mo_lag1"), a("corr_1mo_lag2"), a("corr_1mo_lag3"),
        a("corr_1mo_lag6")).as("best_lag_correlation_abs"),
      col("corr_3mo_indicator_3mo_return"),
      when(col("up_n") > 0, rdiv(col("up_sum"), col("up_n"), 2))
        .as("avg_return_indicator_up"),
      when(col("dn_n") > 0, rdiv(col("dn_sum"), col("dn_n"), 2))
        .as("avg_return_indicator_down"),
      rsnap(upAvg - dnAvg, 2).as("return_spread"),
      col("indicator_volatility"), col("sector_return_volatility"),
      rsnap((a("corr_1mo_contemp") * 0.3 + a("corr_3mo_contemp") * 0.2 +
        greatest(a("corr_1mo_lag1"), a("corr_1mo_lag2"), a("corr_1mo_lag3")) * 0.5) * 100,
        2).as("sensitivity_score"))
  }

  /** Oracle CTE chain producing `sens` (needs `stg`). */
  private val sensitivityCtesSql: String = {
    val catCase = FredCodes.map(c => s"WHEN '$c' THEN '${category(c)}'").mkString(" ")
    val nameCase = SectorNames
      .map { case (sym, n, _) => s"WHEN '$sym' THEN '$n'" }.mkString(" ")
    def a(c: String) = s"ABS(COALESCE($c, 0))"
    s"""
    $sectorReturnsSql,
    $indicatorMonthlySql,
    sij AS (
      SELECT sr.symbol, sr.month_date,
        sr.return_1mo, sr.return_3mo, sr.return_6mo, sr.return_12mo,
        im.series_code, im.series_name,
        CASE im.series_code $catCase END AS indicator_category,
        im.indicator_mom_pct, im.indicator_3mo_pct,
        LAG(im.indicator_mom_pct, 1) OVER wl AS lag1,
        LAG(im.indicator_mom_pct, 2) OVER wl AS lag2,
        LAG(im.indicator_mom_pct, 3) OVER wl AS lag3,
        LAG(im.indicator_mom_pct, 6) OVER wl AS lag6
      FROM sector_returns sr
      JOIN indicator_monthly im ON sr.month_date = im.i_m
      WINDOW wl AS (PARTITION BY sr.symbol, im.series_code ORDER BY sr.month_date)
    ),
    correlation_calcs AS (
      SELECT symbol, series_code, series_name, indicator_category,
        COUNT(*) AS observation_count,
        ROUND(CORR(indicator_mom_pct, return_1mo), 4) + 0.0 AS corr_1mo_contemp,
        ROUND(CORR(indicator_mom_pct, return_3mo), 4) + 0.0 AS corr_3mo_contemp,
        ROUND(CORR(indicator_mom_pct, return_6mo), 4) + 0.0 AS corr_6mo_contemp,
        ROUND(CORR(indicator_mom_pct, return_12mo), 4) + 0.0 AS corr_12mo_contemp,
        ROUND(CORR(lag1, return_1mo), 4) + 0.0 AS corr_1mo_lag1,
        ROUND(CORR(lag2, return_1mo), 4) + 0.0 AS corr_1mo_lag2,
        ROUND(CORR(lag3, return_1mo), 4) + 0.0 AS corr_1mo_lag3,
        ROUND(CORR(lag6, return_1mo), 4) + 0.0 AS corr_1mo_lag6,
        ROUND(CORR(indicator_3mo_pct, return_3mo), 4) + 0.0 AS corr_3mo_indicator_3mo_return,
        SUM(CASE WHEN indicator_mom_pct > 0 THEN CAST(return_1mo AS DECIMAL(18,6)) END) AS up_sum,
        COUNT(CASE WHEN indicator_mom_pct > 0 THEN return_1mo END) AS up_n,
        SUM(CASE WHEN indicator_mom_pct < 0 THEN CAST(return_1mo AS DECIMAL(18,6)) END) AS dn_sum,
        COUNT(CASE WHEN indicator_mom_pct < 0 THEN return_1mo END) AS dn_n,
        ROUND(STDDEV_SAMP(indicator_mom_pct), 2) + 0.0 AS indicator_volatility,
        ROUND(STDDEV_SAMP(return_1mo), 2) + 0.0 AS sector_return_volatility
      FROM sij
      WHERE indicator_mom_pct IS NOT NULL
      GROUP BY symbol, series_code, series_name, indicator_category
      HAVING COUNT(*) >= 24
    ),
    sens AS (
      SELECT symbol,
        CASE symbol $nameCase END AS sector_name,
        series_code, series_name, indicator_category, observation_count,
        corr_1mo_contemp, corr_3mo_contemp, corr_6mo_contemp, corr_12mo_contemp,
        corr_1mo_lag1, corr_1mo_lag2, corr_1mo_lag3, corr_1mo_lag6,
        CAST(CASE
          WHEN ${a("corr_1mo_lag1")} >= ${a("corr_1mo_lag2")}
            AND ${a("corr_1mo_lag1")} >= ${a("corr_1mo_lag3")}
            AND ${a("corr_1mo_lag1")} >= ${a("corr_1mo_lag6")} THEN 1
          WHEN ${a("corr_1mo_lag2")} >= ${a("corr_1mo_lag3")}
            AND ${a("corr_1mo_lag2")} >= ${a("corr_1mo_lag6")} THEN 2
          WHEN ${a("corr_1mo_lag3")} >= ${a("corr_1mo_lag6")} THEN 3
          ELSE 6 END AS BIGINT) AS best_lag_months,
        GREATEST(${a("corr_1mo_lag1")}, ${a("corr_1mo_lag2")}, ${a("corr_1mo_lag3")},
          ${a("corr_1mo_lag6")}) AS best_lag_correlation_abs,
        corr_3mo_indicator_3mo_return,
        CASE WHEN up_n > 0 THEN
          ${oDivRound("CAST(up_sum * 1000000 AS HUGEINT)", "up_n", 2)}
        END AS avg_return_indicator_up,
        CASE WHEN dn_n > 0 THEN
          ${oDivRound("CAST(dn_sum * 1000000 AS HUGEINT)", "dn_n", 2)}
        END AS avg_return_indicator_down,
        ${oSnap(
      "CAST(up_sum AS DOUBLE) / NULLIF(CAST(up_n AS DOUBLE), 0) - CAST(dn_sum AS DOUBLE) / NULLIF(CAST(dn_n AS DOUBLE), 0)",
      2)} AS return_spread,
        indicator_volatility, sector_return_volatility,
        ${oSnap(
      s"(${a("corr_1mo_contemp")} * 0.3 + ${a("corr_3mo_contemp")} * 0.2 + GREATEST(${a("corr_1mo_lag1")}, ${a("corr_1mo_lag2")}, ${a("corr_1mo_lag3")}) * 0.5) * 100",
      2)} AS sensitivity_score
      FROM correlation_calcs
    )"""
  }

  // ------------------------------------------------------------------
  // sector_sensitivity_summary (ref, 139 LoC)
  // ------------------------------------------------------------------

  private def sensitivitySummary(s: SparkSession, dir: String): DataFrame = {
    val base = sensitivityFrame(s, dir)
    val wRank = Window.partitionBy(col("symbol"))
      .orderBy(col("sensitivity_score").desc, col("series_code"))
    val wAsc = Window.partitionBy(col("symbol"))
      .orderBy(col("sensitivity_score"), col("series_code"))
    val wPart = Window.partitionBy(col("symbol"))
    val ranked = base
      .withColumn("rank_in_sector", row_number().over(wRank).cast("long"))
      .withColumn("rk_asc", row_number().over(wAsc))
      .withColumn("nn", count(lit(1)).over(wPart))
      .withColumn("percentile_in_sector",
        when(col("nn") > 1,
          rdiv(((col("rk_asc") - 1) * 100).cast(DecimalType(18, 0)), col("nn") - 1, 1))
          .otherwise(0.0))
      .withColumn("correlation_direction",
        when(col("corr_1mo_contemp") > 0, "Positive")
          .when(col("corr_1mo_contemp") < 0, "Negative")
          .otherwise("Neutral"))
      .withColumn("correlation_strength",
        when(abs(col("corr_1mo_contemp")) >= 0.5, "Strong")
          .when(abs(col("corr_1mo_contemp")) >= 0.3, "Moderate")
          .when(abs(col("corr_1mo_contemp")) >= 0.1, "Weak")
          .otherwise("Negligible"))
      // persisted: the sector/category rollups and the final join all
      // re-derive this frame (and the correlation pipeline under it)
      .persist()

    val sectorSummary = ranked
      .groupBy(col("symbol").as("ss_sym"))
      .agg(
        count(lit(1)).as("total_indicators_analyzed"),
        rdiv(sum(col("sensitivity_score").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("avg_sensitivity_score"),
        count(when(col("sensitivity_score") >= 20, 1)).as("high_sensitivity_count"))
    val categorySummary = ranked
      .groupBy(col("symbol").as("cs_sym"), col("indicator_category").as("cs_cat"))
      .agg(
        rdiv(sum(col("sensitivity_score").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("avg_category_sensitivity"),
        rdiv(sum(col("corr_1mo_contemp").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("avg_category_correlation"))

    ranked
      .join(sectorSummary, col("symbol") === col("ss_sym"), "left")
      .join(categorySummary,
        col("symbol") === col("cs_sym") && col("indicator_category") === col("cs_cat"),
        "left")
      .select(
        col("symbol"), col("sector_name"), col("series_code"), col("series_name"),
        col("indicator_category"), col("observation_count"),
        col("corr_1mo_contemp"), col("corr_3mo_contemp"),
        col("best_lag_months"), col("best_lag_correlation_abs"),
        col("avg_return_indicator_up"), col("avg_return_indicator_down"),
        col("return_spread"), col("sensitivity_score"), col("rank_in_sector"),
        col("percentile_in_sector"),
        col("correlation_direction"), col("correlation_strength"),
        col("total_indicators_analyzed"),
        col("avg_sensitivity_score").as("sector_avg_sensitivity"),
        col("high_sensitivity_count").as("sector_high_sensitivity_count"),
        col("avg_category_sensitivity"), col("avg_category_correlation"),
        (col("rank_in_sector") <= 10).as("is_top_10_for_sector"),
        (col("rank_in_sector") <= 5).as("is_top_5_for_sector"),
        (col("best_lag_correlation_abs") >= 0.2 &&
          col("best_lag_months").between(1, 3)).as("has_predictive_power"))
  }

  /** Oracle CTE chain producing `summary` (needs `sens`). */
  private val summaryCtesSql: String = s"""
    ranked_by_sector AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY symbol
          ORDER BY sensitivity_score DESC, series_code) AS rank_in_sector,
        ROW_NUMBER() OVER (PARTITION BY symbol
          ORDER BY sensitivity_score ASC, series_code) AS rk_asc,
        COUNT(*) OVER (PARTITION BY symbol) AS nn,
        CASE WHEN corr_1mo_contemp > 0 THEN 'Positive'
             WHEN corr_1mo_contemp < 0 THEN 'Negative'
             ELSE 'Neutral' END AS correlation_direction,
        CASE WHEN ABS(corr_1mo_contemp) >= 0.5 THEN 'Strong'
             WHEN ABS(corr_1mo_contemp) >= 0.3 THEN 'Moderate'
             WHEN ABS(corr_1mo_contemp) >= 0.1 THEN 'Weak'
             ELSE 'Negligible' END AS correlation_strength
      FROM sens
    ),
    sector_summary AS (
      SELECT symbol AS ss_sym,
        COUNT(*) AS total_indicators_analyzed,
        ${oDivRound("CAST(SUM(CAST(sensitivity_score AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(*)", 2)} AS avg_sensitivity_score,
        COUNT(CASE WHEN sensitivity_score >= 20 THEN 1 END) AS high_sensitivity_count
      FROM ranked_by_sector
      GROUP BY symbol
    ),
    category_summary AS (
      SELECT symbol AS cs_sym, indicator_category AS cs_cat,
        ${oDivRound("CAST(SUM(CAST(sensitivity_score AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(*)", 2)} AS avg_category_sensitivity,
        ${oDivRound("CAST(SUM(CAST(corr_1mo_contemp AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(*)", 4)} AS avg_category_correlation
      FROM ranked_by_sector
      GROUP BY symbol, indicator_category
    ),
    summary AS (
      SELECT t.symbol, t.sector_name, t.series_code, t.series_name,
        t.indicator_category, t.observation_count,
        t.corr_1mo_contemp, t.corr_3mo_contemp,
        t.best_lag_months, t.best_lag_correlation_abs,
        t.avg_return_indicator_up, t.avg_return_indicator_down,
        t.return_spread, t.sensitivity_score,
        CAST(t.rank_in_sector AS BIGINT) AS rank_in_sector,
        CASE WHEN t.nn > 1 THEN
          ${oDivRound("CAST((t.rk_asc - 1) * 100 AS HUGEINT) * 1000000", "t.nn - 1", 1)}
        ELSE 0.0 END AS percentile_in_sector,
        t.correlation_direction, t.correlation_strength,
        s.total_indicators_analyzed,
        s.avg_sensitivity_score AS sector_avg_sensitivity,
        s.high_sensitivity_count AS sector_high_sensitivity_count,
        c.avg_category_sensitivity, c.avg_category_correlation,
        t.rank_in_sector <= 10 AS is_top_10_for_sector,
        t.rank_in_sector <= 5 AS is_top_5_for_sector,
        (t.best_lag_correlation_abs >= 0.2 AND t.best_lag_months BETWEEN 1 AND 3)
          AS has_predictive_power
      FROM ranked_by_sector t
      LEFT JOIN sector_summary s ON t.symbol = s.ss_sym
      LEFT JOIN category_summary c
        ON t.symbol = c.cs_sym AND t.indicator_category = c.cs_cat
    )"""

  // ------------------------------------------------------------------
  // sector_regime_performance (ref, 193 LoC)
  // ------------------------------------------------------------------

  private def regimePerformance(s: SparkSession, dir: String): DataFrame = {
    val sn = {
      import s.implicits._
      SectorNames.toDF("sn_sym", "sector_name", "sector_type")
    }
    val regimes = AnalysisQueries.regimeFrame(s, dir)
      .filter(col("regime").isNotNull)
      .select(col("month_date").as("rc_m"), col("regime"), col("confidence"),
        col("composite_score"))

    val data = sectorReturns(s, dir)
      .select(col("symbol"), col("month_date"),
        col("return_1mo").as("monthly_return"), col("return_3mo"))
      .join(regimes, col("month_date") === col("rc_m"))
      .join(broadcast(sn), col("symbol") === col("sn_sym"), "left")
      .filter(col("monthly_return").isNotNull)
      .persist() // per-regime AND overall stats aggregate this frame

    def aggStats(df: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
      df.agg(
        count(lit(1)).as("months_in_regime"),
        rdiv(sum(col("monthly_return").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("avg_monthly_return"),
        round(stddev_samp(col("monthly_return")), 2).as("return_volatility"),
        round((sum(col("monthly_return").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))) / nullif(stddev_samp(col("monthly_return"))), 2)
          .as("sharpe_proxy"),
        rsnap(expr("percentile(monthly_return, 0.5)"), 2).as("median_return"),
        rsnap(min(col("monthly_return")), 2).as("worst_month"),
        rsnap(max(col("monthly_return")), 2).as("best_month"),
        sum(when(col("monthly_return") > 0, 1).otherwise(0)).cast("long")
          .as("positive_months"),
        rdiv((sum(when(col("monthly_return") > 0, 1).otherwise(0)) * 100)
          .cast(DecimalType(18, 0)), count(lit(1)), 1).as("win_rate"))

    val perRegime = aggStats(data.groupBy(col("symbol"), col("sector_name"),
      col("sector_type"), col("regime")))
      .persist() // regime averages + ranked combine both read it
    val overall = aggStats(data.groupBy(col("symbol"), col("sector_name"),
      col("sector_type")))
      .withColumn("regime", lit("Overall"))
      .select(perRegime.columns.toIndexedSeq.map(col): _*)

    val regimeAvgs = perRegime
      .groupBy(col("regime").as("ra_regime"))
      .agg(rdiv(sum(col("avg_monthly_return").cast(DecimalType(18, 6))), count(lit(1)), 2)
        .as("regime_avg_return"))

    val wRank = Window.partitionBy(col("regime"))
      .orderBy(col("avg_monthly_return").desc, col("symbol"))
    val combinedRegime = perRegime
      .join(regimeAvgs, col("regime") === col("ra_regime"), "left")
      .drop("ra_regime")
      .withColumn("relative_performance",
        rsnap(col("avg_monthly_return") - col("regime_avg_return"), 2))
      .withColumn("regime_rank", row_number().over(wRank).cast("long"))
    val combinedOverall = overall
      .withColumn("regime_avg_return", lit(null).cast("double"))
      .withColumn("relative_performance", lit(null).cast("double"))
      .withColumn("regime_rank", lit(null).cast("long"))

    combinedRegime.unionAll(combinedOverall)
      .select(
        col("symbol"), col("sector_name"), col("sector_type"), col("regime"),
        col("months_in_regime"), col("avg_monthly_return"), col("return_volatility"),
        col("sharpe_proxy"), col("median_return"), col("worst_month"), col("best_month"),
        col("positive_months"), col("win_rate"), col("regime_avg_return"),
        col("relative_performance"), col("regime_rank"),
        when(col("relative_performance") >= 0.5, "Strong Outperformer")
          .when(col("relative_performance") > 0, "Outperformer")
          .when(col("relative_performance") >= -0.5, "Underperformer")
          .otherwise("Strong Underperformer").as("regime_classification"),
        when(col("regime_rank") === 1, true).otherwise(false).as("is_top_performer"))
  }

  /** Oracle CTE chain producing `regime_perf` (needs `sens`-level CTEs:
    * sector_returns + the regime chain). */
  private val regimePerfCtesSql: String = {
    val typeRows = SectorNames
      .map { case (sym, n, t) => s"('$sym', '$n', '$t')" }.mkString(",\n        ")
    val aggSql = s"""
        COUNT(*) AS months_in_regime,
        ${oDivRound("CAST(SUM(CAST(monthly_return AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 2)} AS avg_monthly_return,
        ROUND(STDDEV_SAMP(monthly_return), 2) + 0.0 AS return_volatility,
        ROUND((CAST(SUM(CAST(monthly_return AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
          / NULLIF(STDDEV_SAMP(monthly_return), 0), 2) + 0.0 AS sharpe_proxy,
        ${oSnap("QUANTILE_CONT(monthly_return, 0.5)", 2)} AS median_return,
        ${oSnap("MIN(monthly_return)", 2)} AS worst_month,
        ${oSnap("MAX(monthly_return)", 2)} AS best_month,
        CAST(SUM(CASE WHEN monthly_return > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_months,
        ${oDivRound("CAST(SUM(CASE WHEN monthly_return > 0 THEN 1 ELSE 0 END) * 100 AS HUGEINT) * 1000000",
      "COUNT(*)", 1)} AS win_rate"""
    s"""
    sector_names_t AS (
      SELECT * FROM (VALUES
        $typeRows
      ) AS t(sn_sym, sector_name, sector_type)
    ),
    sector_regime_data AS (
      SELECT sr.symbol, sn.sector_name, sn.sector_type, sr.month_date,
        sr.return_1mo AS monthly_return, sr.return_3mo, rc.regime
      FROM sector_returns sr
      INNER JOIN (SELECT month_date, regime FROM regime_classification
                  WHERE regime IS NOT NULL) rc
        ON sr.month_date = rc.month_date
      LEFT JOIN sector_names_t sn ON sr.symbol = sn.sn_sym
      WHERE sr.return_1mo IS NOT NULL
    ),
    regime_performance AS (
      SELECT symbol, sector_name, sector_type, regime,
        $aggSql
      FROM sector_regime_data
      GROUP BY symbol, sector_name, sector_type, regime
    ),
    overall_performance AS (
      SELECT symbol, sector_name, sector_type, 'Overall' AS regime,
        $aggSql
      FROM sector_regime_data
      GROUP BY symbol, sector_name, sector_type
    ),
    regime_averages AS (
      SELECT regime,
        ${oDivRound("CAST(SUM(CAST(avg_monthly_return AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 2)} AS regime_avg_return
      FROM regime_performance
      GROUP BY regime
    ),
    combined AS (
      SELECT rp.*, ra.regime_avg_return,
        ${oSnap("rp.avg_monthly_return - ra.regime_avg_return", 2)} AS relative_performance,
        CAST(ROW_NUMBER() OVER (PARTITION BY rp.regime
          ORDER BY rp.avg_monthly_return DESC, rp.symbol) AS BIGINT) AS regime_rank
      FROM regime_performance rp
      LEFT JOIN regime_averages ra ON rp.regime = ra.regime
      UNION ALL
      SELECT op.*, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
      FROM overall_performance op
    ),
    regime_perf AS (
      SELECT symbol, sector_name, sector_type, regime, months_in_regime,
        avg_monthly_return, return_volatility, sharpe_proxy, median_return,
        worst_month, best_month, positive_months, win_rate, regime_avg_return,
        relative_performance, regime_rank,
        CASE WHEN relative_performance >= 0.5 THEN 'Strong Outperformer'
             WHEN relative_performance > 0 THEN 'Outperformer'
             WHEN relative_performance >= -0.5 THEN 'Underperformer'
             ELSE 'Strong Underperformer' END AS regime_classification,
        CASE WHEN regime_rank = 1 THEN TRUE ELSE FALSE END AS is_top_performer
      FROM combined
    )"""
  }

  // ------------------------------------------------------------------
  // ticker_sector_sensitivity (ref, 130 LoC)
  // ------------------------------------------------------------------

  private def tickerSensitivity(s: SparkSession, dir: String): DataFrame = {
    val gicsCol = AnalysisQueries3.SectorMapping.map(_._1).zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (g, i)) =>
        when(col("s_suppkey") % 11 === i, lit(g)).otherwise(acc)
      }
    val companies = Tables(s, dir).supplier
      .filter(col("s_suppkey").isNotNull)
      .select(concat(lit("T"), col("s_suppkey")).as("ticker"),
        col("s_name").as("company_name"),
        gicsCol.as("gics_sector"),
        concat(lit("sub"), col("s_suppkey") % 23).as("sub_industry"),
        lit("SP500").as("index_membership"))
      .distinct()
    val sem = {
      import s.implicits._
      AnalysisQueries3.SectorMapping.toDF("sem_sector", "etf_symbol", "sector_display_name")
    }
    val tsm = companies
      .join(broadcast(sem), col("gics_sector") === col("sem_sector"), "left")
      .drop("sem_sector")
      .withColumnRenamed("etf_symbol", "sector_etf")

    val top5 = sensitivitySummary(s, dir)
      .filter(col("rank_in_sector") <= 5)
      .select(col("symbol").as("ti_etf"), col("series_code"), col("series_name"),
        col("sensitivity_score"))
    val ssa = top5
      .groupBy(col("ti_etf"))
      .agg(
        count(lit(1)).as("n_sensitive_indicators"),
        (sum(col("sensitivity_score").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("avg_sensitivity_score_raw"),
        max(col("sensitivity_score")).as("max_sensitivity_score_raw"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(-sensitivity_score AS s, series_code AS c))), x -> x.c), ', ')")
          .as("top_indicator_codes"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(-sensitivity_score AS s, series_code AS c, series_name AS n))), x -> x.n), '; ')")
          .as("top_indicator_names"))

    val srs = regimePerformance(s, dir)
      .filter(col("regime") =!= "Overall")
      .groupBy(col("symbol").as("srs_etf"), col("sector_type"))
      .agg(
        max(when(col("regime") === "Expansion", col("avg_monthly_return")))
          .as("expansion_return"),
        max(when(col("regime") === "Contraction", col("avg_monthly_return")))
          .as("contraction_return"),
        max(when(col("regime") === "Slowdown", col("avg_monthly_return")))
          .as("slowdown_return"),
        max(when(col("regime") === "Recovery", col("avg_monthly_return")))
          .as("recovery_return"))

    tsm
      .join(ssa, col("sector_etf") === col("ti_etf"), "left")
      .join(srs, col("sector_etf") === col("srs_etf"), "left")
      .filter(col("sector_etf").isNotNull)
      .select(
        col("ticker"), col("company_name"), col("gics_sector"), col("sub_industry"),
        col("index_membership"), col("sector_etf"), col("sector_display_name"),
        col("n_sensitive_indicators"),
        rsnap(col("avg_sensitivity_score_raw"), 2).as("avg_sector_sensitivity"),
        rsnap(col("max_sensitivity_score_raw"), 2).as("max_sector_sensitivity"),
        col("top_indicator_codes"), col("top_indicator_names"),
        col("sector_type"),
        rsnap(col("expansion_return"), 2).as("expansion_avg_return"),
        rsnap(col("contraction_return"), 2).as("contraction_avg_return"),
        rsnap(col("slowdown_return"), 2).as("slowdown_avg_return"),
        rsnap(col("recovery_return"), 2).as("recovery_avg_return"),
        when(col("avg_sensitivity_score_raw") >= 20, "High")
          .when(col("avg_sensitivity_score_raw") >= 10, "Medium")
          .otherwise("Low").as("macro_exposure_level"))
  }

  private val tickerSensitivitySql: String = {
    val gicsCases = AnalysisQueries3.SectorMapping.map(_._1).zipWithIndex
      .map { case (g, i) => s"WHEN $i THEN '$g'" }.mkString(" ")
    val semRows = AnalysisQueries3.SectorMapping
      .map { case (g, e, d) => s"('$g', '$e', '$d')" }.mkString(",\n        ")
    s"""
    WITH ${stgFredSql((FredCodes ++ AnalysisQueries.RegimeCodes).distinct)},
    $sensitivityCtesSql,
    $summaryCtesSql,
    ${AnalysisQueries.regimeCtesSql},
    $regimePerfCtesSql,
    companies AS (
      SELECT DISTINCT 'T' || CAST(s_suppkey AS VARCHAR) AS ticker,
        s_name AS company_name,
        CASE s_suppkey % 11 $gicsCases END AS gics_sector,
        'sub' || CAST(s_suppkey % 23 AS VARCHAR) AS sub_industry,
        'SP500' AS index_membership
      FROM supplier WHERE s_suppkey IS NOT NULL
    ),
    sem AS (
      SELECT * FROM (VALUES
        $semRows
      ) AS t(sem_sector, etf_symbol, sector_display_name)
    ),
    tsm AS (
      SELECT c.*, sem.etf_symbol AS sector_etf, sem.sector_display_name
      FROM companies c
      LEFT JOIN sem ON c.gics_sector = sem.sem_sector
    ),
    top5 AS (
      SELECT symbol AS ti_etf, series_code, series_name, sensitivity_score
      FROM summary WHERE rank_in_sector <= 5
    ),
    ssa AS (
      SELECT ti_etf,
        COUNT(*) AS n_sensitive_indicators,
        CAST(SUM(CAST(sensitivity_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          AS avg_sensitivity_score_raw,
        MAX(sensitivity_score) AS max_sensitivity_score_raw,
        STRING_AGG(series_code, ', ' ORDER BY sensitivity_score DESC, series_code)
          AS top_indicator_codes,
        STRING_AGG(series_name, '; ' ORDER BY sensitivity_score DESC, series_code)
          AS top_indicator_names
      FROM top5
      GROUP BY ti_etf
    ),
    srs AS (
      SELECT symbol AS srs_etf, sector_type,
        MAX(CASE WHEN regime = 'Expansion' THEN avg_monthly_return END) AS expansion_return,
        MAX(CASE WHEN regime = 'Contraction' THEN avg_monthly_return END) AS contraction_return,
        MAX(CASE WHEN regime = 'Slowdown' THEN avg_monthly_return END) AS slowdown_return,
        MAX(CASE WHEN regime = 'Recovery' THEN avg_monthly_return END) AS recovery_return
      FROM regime_perf
      WHERE regime != 'Overall'
      GROUP BY symbol, sector_type
    )
    SELECT tsm.ticker, tsm.company_name, tsm.gics_sector, tsm.sub_industry,
      tsm.index_membership, tsm.sector_etf, tsm.sector_display_name,
      ssa.n_sensitive_indicators,
      ${oSnap("ssa.avg_sensitivity_score_raw", 2)} AS avg_sector_sensitivity,
      ${oSnap("ssa.max_sensitivity_score_raw", 2)} AS max_sector_sensitivity,
      ssa.top_indicator_codes, ssa.top_indicator_names,
      srs.sector_type,
      ${oSnap("srs.expansion_return", 2)} AS expansion_avg_return,
      ${oSnap("srs.contraction_return", 2)} AS contraction_avg_return,
      ${oSnap("srs.slowdown_return", 2)} AS slowdown_avg_return,
      ${oSnap("srs.recovery_return", 2)} AS recovery_avg_return,
      CASE WHEN ssa.avg_sensitivity_score_raw >= 20 THEN 'High'
           WHEN ssa.avg_sensitivity_score_raw >= 10 THEN 'Medium'
           ELSE 'Low' END AS macro_exposure_level
    FROM tsm
    LEFT JOIN ssa ON tsm.sector_etf = ssa.ti_etf
    LEFT JOIN srs ON tsm.sector_etf = srs.srs_etf
    WHERE tsm.sector_etf IS NOT NULL
  """
  }

  // ------------------------------------------------------------------
  // portfolio_macro_factors (ref, 194 LoC)
  // ------------------------------------------------------------------

  /** (series_code, macro_factor, sub_factor) — the reference's full
    * 70-entry literal (portfolio_macro_factors.sql:10-105); IPMAN and
    * MANEMP intentionally appear under two factors, duplicating their
    * sensitivity rows through the INNER JOIN exactly as the reference
    * does. */
  val FactorMapping: Seq[(String, String, String)] = Seq(
    ("CPIAUCSL", "Inflation", "Core Inflation"), ("CPILFESL", "Inflation", "Core Inflation"),
    ("CPIAUCNS", "Inflation", "Core Inflation"), ("CPILFENS", "Inflation", "Core Inflation"),
    ("PCEPI", "Inflation", "Core Inflation"), ("PCEPILFE", "Inflation", "Core Inflation"),
    ("MEDCPIM158SFRBCLE", "Inflation", "Core Inflation"),
    ("CORESTICKM159SFRBATL", "Inflation", "Sticky Inflation"),
    ("STICKCPIM159SFRBATL", "Inflation", "Sticky Inflation"),
    ("PCETRIM12M159SFRBDAL", "Inflation", "Core Inflation"),
    ("T10YIE", "Inflation", "Inflation Expectations"),
    ("T5YIE", "Inflation", "Inflation Expectations"),
    ("T5YIFR", "Inflation", "Inflation Expectations"),
    ("PPIACO", "Inflation", "Producer Prices"), ("PPIFIS", "Inflation", "Producer Prices"),
    ("PPIFID", "Inflation", "Producer Prices"), ("CPIENGSL", "Inflation", "Energy Inflation"),
    ("PAYEMS", "Employment", "Jobs"), ("UNRATE", "Employment", "Unemployment"),
    ("U6RATE", "Employment", "Unemployment"), ("ICSA", "Employment", "Unemployment Claims"),
    ("ICSA4WMA", "Employment", "Unemployment Claims"),
    ("JTSJOL", "Employment", "Job Openings"), ("JTSQUR", "Employment", "Job Turnover"),
    ("CIVPART", "Employment", "Labor Participation"),
    ("EMRATIO", "Employment", "Labor Participation"),
    ("CE16OV", "Employment", "Jobs"), ("MANEMP", "Employment", "Manufacturing Jobs"),
    ("USCONS", "Employment", "Construction Jobs"), ("AHETPI", "Employment", "Wages"),
    ("ECIWAG", "Employment", "Wages"),
    ("GDP", "Growth", "GDP"), ("GDPC1", "Growth", "GDP"), ("GDPC96", "Growth", "GDP"),
    ("A191RL1Q225SBEA", "Growth", "GDP"),
    ("INDPRO", "Growth", "Industrial Production"),
    ("IPMAN", "Growth", "Industrial Production"),
    ("TCU", "Growth", "Capacity Utilization"),
    ("CAPUTLG2211S", "Growth", "Capacity Utilization"),
    ("RSXFS", "Growth", "Retail Sales"), ("RRSFS", "Growth", "Retail Sales"),
    ("PCE", "Growth", "Consumer Spending"), ("PCEC96", "Growth", "Consumer Spending"),
    ("CFNAI", "Growth", "Economic Activity"), ("CFNAIMA3", "Growth", "Economic Activity"),
    ("USSLIND", "Growth", "Leading Indicators"),
    ("HOUST", "Housing", "Housing Starts"), ("HOUST1F", "Housing", "Housing Starts"),
    ("PERMIT", "Housing", "Building Permits"), ("NHSDPTS", "Housing", "Home Sales"),
    ("EXHOSLUSM495S", "Housing", "Home Sales"), ("CSUSHPISA", "Housing", "Home Prices"),
    ("MSPUS", "Housing", "Home Prices"), ("MORTGAGE30US", "Housing", "Mortgage Rates"),
    ("MORTGAGE15US", "Housing", "Mortgage Rates"),
    ("UMCSENT", "Consumer", "Consumer Sentiment"),
    ("CSCICP03USM665S", "Consumer", "Consumer Confidence"),
    ("PSAVERT", "Consumer", "Savings Rate"), ("DSPIC96", "Consumer", "Income"),
    ("PI", "Consumer", "Income"),
    ("DFF", "Rates", "Fed Funds"), ("FEDFUNDS", "Rates", "Fed Funds"),
    ("DGS10", "Rates", "Treasury Yields"), ("TB10YR", "Rates", "Treasury Yields"),
    ("TB2YR", "Rates", "Treasury Yields"), ("T10Y2Y", "Rates", "Yield Curve"),
    ("T10Y3M", "Rates", "Yield Curve"), ("VIXCLS", "Financial", "Volatility"),
    ("NFCI", "Financial", "Financial Conditions"),
    ("NFCICREDIT", "Financial", "Credit Conditions"),
    ("BAMLC0A0CM", "Financial", "Credit Spreads"),
    ("BAMLH0A0HYM2", "Financial", "Credit Spreads"),
    ("TEDRATE", "Financial", "Credit Spreads"),
    ("IPMAN", "Business", "Manufacturing Production"),
    ("NEWORDER", "Business", "Manufacturing Orders"),
    ("MANEMP", "Business", "Manufacturing Employment"),
    ("BPEA", "Business", "Business Outlook"),
    ("GACDISA066MSFRBNY", "Business", "Regional Surveys"))

  private def portfolioMacroFactors(s: SparkSession, dir: String): DataFrame = {
    val fm = {
      import s.implicits._
      FactorMapping.toDF("fm_code", "macro_factor", "sub_factor")
    }
    val sfs0 = sensitivityFrame(s, dir)
      .filter(col("sensitivity_score").isNotNull)
      .join(broadcast(fm), col("series_code") === col("fm_code"))
      .select(col("symbol"), col("sector_name"), col("macro_factor"), col("sub_factor"),
        col("series_code"), col("sensitivity_score"), col("corr_1mo_contemp"),
        col("corr_3mo_contemp"), col("best_lag_correlation_abs"))

    val scores = sfs0
      .groupBy(col("symbol"), col("sector_name"), col("macro_factor"))
      .agg(
        countDistinct(col("series_code")).as("indicator_count"),
        rdiv(sum(col("sensitivity_score").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("avg_sensitivity"),
        rsnap(max(col("sensitivity_score")), 2).as("max_sensitivity"),
        rdiv(sum(abs(col("corr_1mo_contemp")).cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("avg_abs_correlation"),
        rdiv(sum(col("best_lag_correlation_abs").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("avg_lag_correlation"),
        rsnap(
          (sum(col("sensitivity_score").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))) * 0.6 +
            (sum(col("best_lag_correlation_abs").cast(DecimalType(18, 6))).cast("double") /
              count(lit(1))) * 100 * 0.4, 2).as("factor_exposure_score"),
        concat_ws(", ", array_sort(array_distinct(collect_list(col("sub_factor")))))
          .as("sub_factors"))

    val agg = scores
      .groupBy(col("symbol").as("sa_sym"))
      .agg(
        sum(col("indicator_count")).cast("long").as("total_indicators"),
        rdiv(sum(col("factor_exposure_score").cast(DecimalType(18, 6))), count(lit(1)), 2)
          .as("overall_macro_exposure"),
        max(when(col("macro_factor") === "Inflation", col("factor_exposure_score")))
          .as("inflation_exposure"),
        max(when(col("macro_factor") === "Employment", col("factor_exposure_score")))
          .as("employment_exposure"),
        max(when(col("macro_factor") === "Growth", col("factor_exposure_score")))
          .as("growth_exposure"),
        max(when(col("macro_factor") === "Housing", col("factor_exposure_score")))
          .as("housing_exposure"),
        max(when(col("macro_factor") === "Consumer", col("factor_exposure_score")))
          .as("consumer_exposure"),
        max(when(col("macro_factor") === "Rates", col("factor_exposure_score")))
          .as("rates_exposure"),
        max(when(col("macro_factor") === "Financial", col("factor_exposure_score")))
          .as("financial_exposure"),
        max(when(col("macro_factor") === "Business", col("factor_exposure_score")))
          .as("business_exposure"))

    val wRank = Window.partitionBy(col("macro_factor"))
      .orderBy(col("factor_exposure_score").desc)
    scores
      .join(agg, col("symbol") === col("sa_sym"))
      .select(
        col("symbol"), col("sector_name"), col("macro_factor"), col("indicator_count"),
        col("avg_sensitivity"), col("max_sensitivity"), col("avg_abs_correlation"),
        col("avg_lag_correlation"), col("factor_exposure_score"), col("sub_factors"),
        col("overall_macro_exposure"), col("inflation_exposure"),
        col("employment_exposure"), col("growth_exposure"), col("housing_exposure"),
        col("consumer_exposure"), col("rates_exposure"), col("financial_exposure"),
        col("business_exposure"),
        rank().over(wRank).cast("long").as("factor_rank"))
  }

  private val portfolioMacroFactorsSql: String = {
    val rows = FactorMapping
      .map { case (c, f, sf) => s"('$c', '$f', '$sf')" }.mkString(",\n        ")
    s"""
    WITH ${stgFredSql(FredCodes)},
    $sensitivityCtesSql,
    factor_mapping AS (
      SELECT * FROM (VALUES
        $rows
      ) AS t(fm_code, macro_factor, sub_factor)
    ),
    sector_factor_sensitivity AS (
      SELECT sis.symbol, sis.sector_name, fm.macro_factor, fm.sub_factor,
        sis.series_code, sis.sensitivity_score, sis.corr_1mo_contemp,
        sis.corr_3mo_contemp, sis.best_lag_correlation_abs
      FROM sens sis
      INNER JOIN factor_mapping fm ON sis.series_code = fm.fm_code
      WHERE sis.sensitivity_score IS NOT NULL
    ),
    sector_factor_scores AS (
      SELECT symbol, sector_name, macro_factor,
        COUNT(DISTINCT series_code) AS indicator_count,
        ${oDivRound("CAST(SUM(CAST(sensitivity_score AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 2)} AS avg_sensitivity,
        ${oSnap("MAX(sensitivity_score)", 2)} AS max_sensitivity,
        ${oDivRound("CAST(SUM(CAST(ABS(corr_1mo_contemp) AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS avg_abs_correlation,
        ${oDivRound("CAST(SUM(CAST(best_lag_correlation_abs AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS avg_lag_correlation,
        ${oSnap(
      """(CAST(SUM(CAST(sensitivity_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)) * 0.6
         + (CAST(SUM(CAST(best_lag_correlation_abs AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)) * 100 * 0.4""",
      2)} AS factor_exposure_score,
        STRING_AGG(DISTINCT sub_factor, ', ' ORDER BY sub_factor) AS sub_factors
      FROM sector_factor_sensitivity
      GROUP BY symbol, sector_name, macro_factor
    ),
    sector_aggregate AS (
      SELECT symbol AS sa_sym,
        CAST(SUM(indicator_count) AS BIGINT) AS total_indicators,
        ${oDivRound("CAST(SUM(CAST(factor_exposure_score AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 2)} AS overall_macro_exposure,
        MAX(CASE WHEN macro_factor = 'Inflation' THEN factor_exposure_score END) AS inflation_exposure,
        MAX(CASE WHEN macro_factor = 'Employment' THEN factor_exposure_score END) AS employment_exposure,
        MAX(CASE WHEN macro_factor = 'Growth' THEN factor_exposure_score END) AS growth_exposure,
        MAX(CASE WHEN macro_factor = 'Housing' THEN factor_exposure_score END) AS housing_exposure,
        MAX(CASE WHEN macro_factor = 'Consumer' THEN factor_exposure_score END) AS consumer_exposure,
        MAX(CASE WHEN macro_factor = 'Rates' THEN factor_exposure_score END) AS rates_exposure,
        MAX(CASE WHEN macro_factor = 'Financial' THEN factor_exposure_score END) AS financial_exposure,
        MAX(CASE WHEN macro_factor = 'Business' THEN factor_exposure_score END) AS business_exposure
      FROM sector_factor_scores
      GROUP BY symbol
    )
    SELECT sfs.symbol, sfs.sector_name, sfs.macro_factor, sfs.indicator_count,
      sfs.avg_sensitivity, sfs.max_sensitivity, sfs.avg_abs_correlation,
      sfs.avg_lag_correlation, sfs.factor_exposure_score, sfs.sub_factors,
      sa.overall_macro_exposure, sa.inflation_exposure, sa.employment_exposure,
      sa.growth_exposure, sa.housing_exposure, sa.consumer_exposure,
      sa.rates_exposure, sa.financial_exposure, sa.business_exposure,
      CAST(RANK() OVER (PARTITION BY sfs.macro_factor
        ORDER BY sfs.factor_exposure_score DESC) AS BIGINT) AS factor_rank
    FROM sector_factor_scores sfs
    INNER JOIN sector_aggregate sa ON sfs.symbol = sa.sa_sym
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_portfolio_macro_factors", portfolioMacroFactors,
      Some(portfolioMacroFactorsSql)),
    QueryDef("q_sector_indicator_sensitivity", sensitivityFrame,
      Some(s"""WITH ${stgFredSql(FredCodes)}, $sensitivityCtesSql SELECT * FROM sens""")),
    QueryDef("q_sector_sensitivity_summary", sensitivitySummary,
      Some(s"""WITH ${stgFredSql(FredCodes)}, $sensitivityCtesSql, $summaryCtesSql
        SELECT * FROM summary""")),
    QueryDef("q_sector_regime_performance", regimePerformance,
      Some(s"""WITH ${stgFredSql((FredCodes ++ AnalysisQueries.RegimeCodes).distinct)},
        $sectorReturnsSql,
        ${AnalysisQueries.regimeCtesSql},
        $regimePerfCtesSql
        SELECT * FROM regime_perf""")),
    QueryDef("q_ticker_sector_sensitivity", tickerSensitivity, Some(tickerSensitivitySql))
  )
}
