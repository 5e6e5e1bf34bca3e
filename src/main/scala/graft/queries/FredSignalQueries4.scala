package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.queries.QueryDef.{davgOver, maxDate, maxDateSql, nullif, oDivRound, oSnap, r4, rdiv, rsnap}
import graft.queries.FredSignalQueries.{panel, stgFred, stgFredSql}
import graft.runtime.Tables

/** Fourth batch — the remaining signals-schema named models 1:1 (refs
  * dbt_project/models/signals/{net_liquidity,momentum,diffusion_index,
  * market_volatility}_signals.sql), upgrading the round-2
  * representative operators to full named replications:
  *
  *  - net_liquidity_signals: weekly WALCL − WTREGEN − RRPONTSYD with
  *    4w/13w MAs, rate-of-change columns, the prior-exclusive 52-week
  *    z-score, trend and depletion ladders.
  *  - momentum_signals: TSMOM, dual momentum (SPY/ACWI/GOVT), Faber
  *    TAA invested count over 200-day SMAs, sector-rotation dispersion
  *    with top/bottom sector (symbol tie-break), and the
  *    multi-timeframe sign trend score.
  *  - diffusion_index_signals: 20-series improving-breadth score,
  *    diffusion percentage with 6-month average, z-score, momentum and
  *    breadth-trend/status ladders.
  *  - market_volatility_signals: VIX stats joined to SPY/QQQ realized
  *    (20/30d), Parkinson (20/60d) and Garman-Klass (20/60d)
  *    annualized volatilities and the four variance-risk premia.
  *    Order-sensitive volatility estimates are rounded to 4 on both
  *    sides; VRPs are computed from the rounded estimates.
  */
object FredSignalQueries4 {

  // ------------------------------------------------------------------
  // net_liquidity_signals (ref, 124 LoC)
  // ------------------------------------------------------------------

  private def netLiquidity(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("WALCL", "WTREGEN", "RRPONTSYD"))
    val combined = panel(stg, "week", "literal")(
        ("WALCL", "mean", "walcl"), ("WTREGEN", "mean", "wtregen"), ("RRPONTSYD", "mean", "rrpontsyd"))
      .filter(col("walcl").isNotNull)
      .select(col("date"), col("walcl"), col("wtregen"), col("rrpontsyd"),
        (col("walcl") - coalesce(col("wtregen"), lit(0.0)) -
          coalesce(col("rrpontsyd"), lit(0.0))).as("net_liquidity"),
        when(col("wtregen").isNotNull, 3).otherwise(2).cast("long").as("component_count"))

    val wd  = Window.orderBy(col("date"))
    val f4  = wd.rowsBetween(-3, 0)
    val f13 = wd.rowsBetween(-12, 0)
    val fpr = wd.rowsBetween(-52, -1)
    val wt = combined
      .withColumn("nl_4w_avg", avg(col("net_liquidity")).over(f4))
      .withColumn("nl_13w_avg", avg(col("net_liquidity")).over(f13))
      .withColumn("nl_4w_ago", lag(col("net_liquidity"), 4).over(wd))
      .withColumn("nl_13w_ago", lag(col("net_liquidity"), 13).over(wd))
      .withColumn("nl_52w_ago", lag(col("net_liquidity"), 52).over(wd))
      .withColumn("nl_52w_mean", avg(col("net_liquidity")).over(fpr))
      .withColumn("nl_52w_std", stddev_samp(col("net_liquidity")).over(fpr))

    val z = (col("net_liquidity") - col("nl_52w_mean")) / nullif(col("nl_52w_std"))
    wt.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"),
        rsnap(col("walcl"), 2).as("walcl"),
        rsnap(col("wtregen"), 2).as("wtregen"),
        rsnap(col("rrpontsyd"), 2).as("rrpontsyd"),
        rsnap(col("net_liquidity"), 2).as("net_liquidity"),
        col("component_count"),
        round(col("nl_4w_avg"), 2).as("net_liquidity_4w_avg"),
        round(col("nl_13w_avg"), 2).as("net_liquidity_13w_avg"),
        rsnap((col("net_liquidity") / nullif(col("nl_4w_ago")) - 1) * 100, 2)
          .as("net_liquidity_4w_pct_change"),
        rsnap((col("net_liquidity") / nullif(col("nl_13w_ago")) - 1) * 100, 2)
          .as("net_liquidity_13w_pct_change"),
        rsnap((col("net_liquidity") / nullif(col("nl_52w_ago")) - 1) * 100, 2)
          .as("net_liquidity_52w_pct_change"),
        round(z, 2).as("net_liquidity_zscore"),
        when(col("net_liquidity") > col("nl_4w_avg") &&
          col("nl_4w_avg") > col("nl_13w_avg"), "expanding")
          .when(col("net_liquidity") < col("nl_4w_avg") &&
            col("nl_4w_avg") < col("nl_13w_avg"), "contracting")
          .otherwise("mixed").as("net_liquidity_trend"),
        when(z < -2, "high").when(z < -1, "medium")
          .when(col("net_liquidity") < col("nl_4w_avg") &&
            col("nl_4w_avg") < col("nl_13w_avg"), "low")
          .otherwise("normal").as("net_liquidity_status"),
        when(col("rrpontsyd").isNotNull && col("rrpontsyd") < 50000, "high")
          .when(col("rrpontsyd").isNotNull && col("rrpontsyd") < 200000, "medium")
          .when(col("rrpontsyd").isNotNull && col("rrpontsyd") < 500000, "low")
          .otherwise("normal").as("rrp_depletion_status"))
  }

  private val netLiquiditySql: String = {
    def weeklySql(code: String, vcol: String) =
      s"""SELECT CAST(DATE_TRUNC('week', date) AS DATE) AS week_date,
          CAST(SUM(CAST(literal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS $vcol
          FROM stg WHERE series_code = '$code' AND literal IS NOT NULL GROUP BY 1"""
    s"""
    WITH ${stgFredSql(Seq("WALCL", "WTREGEN", "RRPONTSYD"))},
    combined AS (
      SELECT w.week_date AS date, w.walcl, wt.wtregen, r.rrpontsyd,
        w.walcl - COALESCE(wt.wtregen, 0) - COALESCE(r.rrpontsyd, 0) AS net_liquidity,
        CAST(CASE WHEN wt.wtregen IS NOT NULL THEN 3 ELSE 2 END AS BIGINT) AS component_count
      FROM (${weeklySql("WALCL", "walcl")}) w
      LEFT JOIN (${weeklySql("WTREGEN", "wtregen")}) wt ON w.week_date = wt.week_date
      LEFT JOIN (${weeklySql("RRPONTSYD", "rrpontsyd")}) r ON w.week_date = r.week_date
    ),
    with_trends AS (
      SELECT *,
        AVG(net_liquidity) OVER (ORDER BY date ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS nl_4w_avg,
        AVG(net_liquidity) OVER (ORDER BY date ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS nl_13w_avg,
        LAG(net_liquidity, 4) OVER (ORDER BY date) AS nl_4w_ago,
        LAG(net_liquidity, 13) OVER (ORDER BY date) AS nl_13w_ago,
        LAG(net_liquidity, 52) OVER (ORDER BY date) AS nl_52w_ago,
        AVG(net_liquidity) OVER (ORDER BY date ROWS BETWEEN 52 PRECEDING AND 1 PRECEDING) AS nl_52w_mean,
        STDDEV_SAMP(net_liquidity) OVER (ORDER BY date ROWS BETWEEN 52 PRECEDING AND 1 PRECEDING) AS nl_52w_std
      FROM combined
    )
    SELECT date,
      ${oSnap("walcl", 2)} AS walcl,
      ${oSnap("wtregen", 2)} AS wtregen,
      ${oSnap("rrpontsyd", 2)} AS rrpontsyd,
      ${oSnap("net_liquidity", 2)} AS net_liquidity,
      component_count,
      ROUND(nl_4w_avg, 2) + 0.0 AS net_liquidity_4w_avg,
      ROUND(nl_13w_avg, 2) + 0.0 AS net_liquidity_13w_avg,
      ${oSnap("((net_liquidity / NULLIF(nl_4w_ago, 0)) - 1) * 100", 2)} AS net_liquidity_4w_pct_change,
      ${oSnap("((net_liquidity / NULLIF(nl_13w_ago, 0)) - 1) * 100", 2)} AS net_liquidity_13w_pct_change,
      ${oSnap("((net_liquidity / NULLIF(nl_52w_ago, 0)) - 1) * 100", 2)} AS net_liquidity_52w_pct_change,
      ROUND((net_liquidity - nl_52w_mean) / NULLIF(nl_52w_std, 0), 2) + 0.0 AS net_liquidity_zscore,
      CASE WHEN net_liquidity > nl_4w_avg AND nl_4w_avg > nl_13w_avg THEN 'expanding'
           WHEN net_liquidity < nl_4w_avg AND nl_4w_avg < nl_13w_avg THEN 'contracting'
           ELSE 'mixed' END AS net_liquidity_trend,
      CASE WHEN (net_liquidity - nl_52w_mean) / NULLIF(nl_52w_std, 0) < -2 THEN 'high'
           WHEN (net_liquidity - nl_52w_mean) / NULLIF(nl_52w_std, 0) < -1 THEN 'medium'
           WHEN net_liquidity < nl_4w_avg AND nl_4w_avg < nl_13w_avg THEN 'low'
           ELSE 'normal' END AS net_liquidity_status,
      CASE WHEN rrpontsyd IS NOT NULL AND rrpontsyd < 50000 THEN 'high'
           WHEN rrpontsyd IS NOT NULL AND rrpontsyd < 200000 THEN 'medium'
           WHEN rrpontsyd IS NOT NULL AND rrpontsyd < 500000 THEN 'low'
           ELSE 'normal' END AS rrp_depletion_status
    FROM with_trends
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """
  }

  // ------------------------------------------------------------------
  // momentum_signals (ref, 189 LoC)
  // ------------------------------------------------------------------

  private val TaaSymbols = Seq("SPY", "ACWI", "GOVT", "XLRE")

  private val taa = PriceBars.named(col("l_suppkey") % 4, "l_suppkey % 4", TaaSymbols)
  /** The same symbols over another key: the 200-day SMA prices. */
  private val taaPrices = PriceBars.named(col("l_partkey") % 4, "l_partkey % 4", TaaSymbols)

  private def momentum(s: SparkSession, dir: String): DataFrame = {
    // the SPY/ACWI/GOVT slices each re-run the window family over the
    // persisted post-agg universe (tiny: symbols × dates) — one fact
    // scan total, matching the pre-round-5 internal-daily-persist plan
    val ar = MarketAnalysisReturn.analysisReturn(
      MarketAnalysisQueries.universe(s, dir, taa, "MIX").persist())
    val spy = ar.filter(col("symbol") === "SPY")
      .select(col("date").as("spy_d"), col("pct_change_1mo"), col("pct_change_3mo"),
        col("pct_change_6mo"), col("pct_change_1yr"))
    val intl = ar.filter(col("symbol") === "ACWI")
      .select(col("date").as("i_d"), col("pct_change_1yr").as("acwi_12m_return"))
    val bond = ar.filter(col("symbol") === "GOVT")
      .select(col("date").as("b_d"), col("pct_change_1yr").as("govt_12m_return"))

    val secAr = MarketAnalysisReturn.analysisReturn(
      MarketAnalysisQueries.universe(s, dir, AnalysisQueries4.etfs, "NYSEARCA"))
      .select(col("symbol"), col("date"),
        ((coalesce(col("pct_change_1mo"), lit(0.0)) +
          coalesce(col("pct_change_3mo"), lit(0.0))) / 2.0).as("avg_momentum"))
    val wTop = Window.partitionBy(col("date"))
      .orderBy(col("avg_momentum").desc, col("symbol"))
    val wBot = Window.partitionBy(col("date"))
      .orderBy(col("avg_momentum").asc, col("symbol"))
    val sectorStats = secAr
      .withColumn("rn_top", row_number().over(wTop))
      .withColumn("rn_bot", row_number().over(wBot))
      .groupBy(col("date").as("ss_d"))
      .agg(
        (max(col("avg_momentum")) - min(col("avg_momentum"))).as("dispersion"),
        max(when(col("rn_top") === 1, col("symbol"))).as("top_sector"),
        max(when(col("rn_bot") === 1, col("symbol"))).as("bottom_sector"))

    // 200-day SMA flags from a dedicated 4-symbol daily price staging
    val prices = Tables(s, dir).lineitem
      .groupBy(taaPrices.col.as("symbol"), to_date(col("l_shipdate")).as("date"))
      .agg(rdiv(sum(col("l_extendedprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
        .as("adj_close"))
    def smaFlag(sym: String, dcol: String, fcol: String): DataFrame = {
      val w = Window.orderBy(col("date"))
      prices.filter(col("symbol") === sym && col("adj_close").isNotNull)
        .withColumn("__sma",
          davgOver(col("adj_close"), w.rowsBetween(-199, 0)))
        .select(col("date").as(dcol),
          when(col("adj_close") > col("__sma"), 1).otherwise(0).as(fcol))
    }
    val faber = smaFlag("SPY", "f_d", "spy_above")
      .join(smaFlag("ACWI", "fa_d", "acwi_above"), col("f_d") === col("fa_d"), "left")
      .join(smaFlag("GOVT", "fg_d", "govt_above"), col("f_d") === col("fg_d"), "left")
      .join(smaFlag("XLRE", "fx_d", "xlre_above"), col("f_d") === col("fx_d"), "left")
      .select(col("f_d"),
        (coalesce(col("spy_above"), lit(0)) + coalesce(col("acwi_above"), lit(0)) +
          coalesce(col("govt_above"), lit(0)) + coalesce(col("xlre_above"), lit(0)))
          .cast("long").as("invested_count"))

    val tsmom = col("pct_change_1yr") - col("pct_change_1mo")
    val trendScore = signum(col("pct_change_1mo")) + signum(col("pct_change_3mo")) +
      signum(col("pct_change_6mo")) + signum(col("pct_change_1yr"))
    spy
      .join(intl, col("spy_d") === col("i_d"), "left")
      .join(bond, col("spy_d") === col("b_d"), "left")
      .join(faber, col("spy_d") === col("f_d"), "left")
      .join(sectorStats, col("spy_d") === col("ss_d"), "left")
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("spy_d") >= add_months(col("__maxd"), -36))
      .select(
        col("spy_d").as("date"),
        rsnap(tsmom, 4).as("tsmom_return"),
        signum(tsmom).as("tsmom_signal"),
        col("pct_change_1yr").as("spy_12m_return"),
        col("acwi_12m_return"), col("govt_12m_return"),
        when(col("pct_change_1yr") >= col("acwi_12m_return") &&
          col("pct_change_1yr") > 0, "equities")
          .when(col("acwi_12m_return") > col("pct_change_1yr") &&
            col("acwi_12m_return") > 0, "international")
          .when(greatest(col("pct_change_1yr"), col("acwi_12m_return")) <= 0 &&
            col("govt_12m_return") > 0, "bonds")
          .otherwise("cash").as("dual_momentum_position"),
        col("invested_count").as("faber_invested_count"),
        rsnap(col("dispersion") * 100, 2).as("sector_dispersion"),
        col("top_sector"), col("bottom_sector"),
        trendScore.as("trend_score"),
        when(signum(tsmom) === -1, "high")
          .when(signum(tsmom) === 1 && tsmom > 0.20, "low")
          .otherwise("normal").as("tsmom_status"),
        when(greatest(col("pct_change_1yr"), col("acwi_12m_return")) <= 0 &&
          col("govt_12m_return") <= 0, "high")
          .when(greatest(col("pct_change_1yr"), col("acwi_12m_return")) <= 0 &&
            col("govt_12m_return") > 0, "medium")
          .otherwise("normal").as("dual_momentum_status"),
        when(col("invested_count") <= 1, "high")
          .when(col("invested_count") === 2, "medium")
          .otherwise("normal").as("faber_taa_status"),
        when(col("dispersion") * 100 > 30, "high")
          .when(col("dispersion") * 100 > 20, "medium")
          .otherwise("normal").as("sector_rotation_status"),
        when(trendScore <= -3, "high")
          .when(trendScore === -2, "medium")
          .when(trendScore === 4, "low")
          .otherwise("normal").as("trend_score_status"))
  }

  private val momentumSql: String = {
    def smaFlagSql(sym: String, fcol: String) =
      s"""SELECT date,
          CASE WHEN adj_close >
            CAST(SUM(CAST(adj_close AS DECIMAL(18,6))) OVER w200 AS DOUBLE)
              / COUNT(adj_close) OVER w200
          THEN 1 ELSE 0 END AS $fcol
          FROM taa_prices WHERE symbol = '$sym' AND adj_close IS NOT NULL
          WINDOW w200 AS (ORDER BY date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)"""
    val arBody = {
      val lookbackJoins = Seq(365, 180, 90, 30).map { d =>
        s"""LEFT JOIN daily_m p$d ON dc.symbol = p$d.symbol AND dc.exchange = p$d.exchange
            AND p$d.date + $d = dc.date"""
      }.mkString("\n        ")
      val pcts = Seq(30 -> "pct_change_1mo", 90 -> "pct_change_3mo",
        180 -> "pct_change_6mo", 365 -> "pct_change_1yr").map { case (d, a) =>
        s"""ROUND(CASE WHEN p$d.adj_close IS NOT NULL AND p$d.adj_close > 0
          THEN (dc.adj_close - p$d.adj_close) / p$d.adj_close * 100 END, 2) + 0.0 AS $a"""
      }.mkString(",\n        ")
      s"""SELECT dc.symbol, dc.date, $pcts
        FROM daily_m dc
        $lookbackJoins"""
    }
    s"""
    WITH ${MarketAnalysisQueries.uniCte(taa, "MIX")},
    daily_m AS (SELECT * FROM uni WHERE adj_close IS NOT NULL),
    ar AS ($arBody),
    ${MarketAnalysisQueries.uniCte(AnalysisQueries4.etfs, "NYSEARCA")
      .replace("uni AS (", "uni_sec AS (")},
    daily_sec AS (SELECT * FROM uni_sec WHERE adj_close IS NOT NULL),
    ar_sec AS (
      SELECT dc.symbol, dc.date,
        (COALESCE(ROUND(CASE WHEN p30.adj_close IS NOT NULL AND p30.adj_close > 0
            THEN (dc.adj_close - p30.adj_close) / p30.adj_close * 100 END, 2) + 0.0, 0)
         + COALESCE(ROUND(CASE WHEN p90.adj_close IS NOT NULL AND p90.adj_close > 0
            THEN (dc.adj_close - p90.adj_close) / p90.adj_close * 100 END, 2) + 0.0, 0)) / 2.0
          AS avg_momentum
      FROM daily_sec dc
      LEFT JOIN daily_sec p30 ON dc.symbol = p30.symbol AND dc.exchange = p30.exchange
        AND p30.date + 30 = dc.date
      LEFT JOIN daily_sec p90 ON dc.symbol = p90.symbol AND dc.exchange = p90.exchange
        AND p90.date + 90 = dc.date
    ),
    sector_stats AS (
      SELECT date AS ss_d,
        MAX(avg_momentum) - MIN(avg_momentum) AS dispersion,
        MAX(CASE WHEN rn_top = 1 THEN symbol END) AS top_sector,
        MAX(CASE WHEN rn_bot = 1 THEN symbol END) AS bottom_sector
      FROM (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY date ORDER BY avg_momentum DESC, symbol) AS rn_top,
          ROW_NUMBER() OVER (PARTITION BY date ORDER BY avg_momentum ASC, symbol) AS rn_bot
        FROM ar_sec
      )
      GROUP BY date
    ),
    taa_prices AS (
      SELECT ${taaPrices.sql} AS symbol, CAST(l_shipdate AS DATE) AS date,
        ${oDivRound(
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS adj_close
      FROM lineitem GROUP BY 1, 2
    ),
    faber AS (
      SELECT s.date AS f_d,
        CAST(COALESCE(s.spy_above, 0) + COALESCE(a.acwi_above, 0)
          + COALESCE(g.govt_above, 0) + COALESCE(x.xlre_above, 0) AS BIGINT)
          AS invested_count
      FROM (${smaFlagSql("SPY", "spy_above")}) s
      LEFT JOIN (${smaFlagSql("ACWI", "acwi_above")}) a ON s.date = a.date
      LEFT JOIN (${smaFlagSql("GOVT", "govt_above")}) g ON s.date = g.date
      LEFT JOIN (${smaFlagSql("XLRE", "xlre_above")}) x ON s.date = x.date
    )
    SELECT spy.date,
      ${oSnap("spy.pct_change_1yr - spy.pct_change_1mo", 4)} AS tsmom_return,
      SIGN(spy.pct_change_1yr - spy.pct_change_1mo) AS tsmom_signal,
      spy.pct_change_1yr AS spy_12m_return,
      intl.acwi_12m_return,
      bond.govt_12m_return,
      CASE
        WHEN spy.pct_change_1yr >= intl.acwi_12m_return AND spy.pct_change_1yr > 0 THEN 'equities'
        WHEN intl.acwi_12m_return > spy.pct_change_1yr AND intl.acwi_12m_return > 0 THEN 'international'
        WHEN GREATEST(spy.pct_change_1yr, intl.acwi_12m_return) <= 0 AND bond.govt_12m_return > 0 THEN 'bonds'
        ELSE 'cash'
      END AS dual_momentum_position,
      f.invested_count AS faber_invested_count,
      ${oSnap("ss.dispersion * 100", 2)} AS sector_dispersion,
      ss.top_sector, ss.bottom_sector,
      SIGN(spy.pct_change_1mo) + SIGN(spy.pct_change_3mo)
        + SIGN(spy.pct_change_6mo) + SIGN(spy.pct_change_1yr) AS trend_score,
      CASE
        WHEN SIGN(spy.pct_change_1yr - spy.pct_change_1mo) = -1 THEN 'high'
        WHEN SIGN(spy.pct_change_1yr - spy.pct_change_1mo) = 1
          AND (spy.pct_change_1yr - spy.pct_change_1mo) > 0.20 THEN 'low'
        ELSE 'normal'
      END AS tsmom_status,
      CASE
        WHEN GREATEST(spy.pct_change_1yr, intl.acwi_12m_return) <= 0
          AND bond.govt_12m_return <= 0 THEN 'high'
        WHEN GREATEST(spy.pct_change_1yr, intl.acwi_12m_return) <= 0
          AND bond.govt_12m_return > 0 THEN 'medium'
        ELSE 'normal'
      END AS dual_momentum_status,
      CASE WHEN f.invested_count <= 1 THEN 'high'
           WHEN f.invested_count = 2 THEN 'medium'
           ELSE 'normal' END AS faber_taa_status,
      CASE WHEN ss.dispersion * 100 > 30 THEN 'high'
           WHEN ss.dispersion * 100 > 20 THEN 'medium'
           ELSE 'normal' END AS sector_rotation_status,
      CASE
        WHEN SIGN(spy.pct_change_1mo) + SIGN(spy.pct_change_3mo)
          + SIGN(spy.pct_change_6mo) + SIGN(spy.pct_change_1yr) <= -3 THEN 'high'
        WHEN SIGN(spy.pct_change_1mo) + SIGN(spy.pct_change_3mo)
          + SIGN(spy.pct_change_6mo) + SIGN(spy.pct_change_1yr) = -2 THEN 'medium'
        WHEN SIGN(spy.pct_change_1mo) + SIGN(spy.pct_change_3mo)
          + SIGN(spy.pct_change_6mo) + SIGN(spy.pct_change_1yr) = 4 THEN 'low'
        ELSE 'normal'
      END AS trend_score_status
    FROM (SELECT * FROM ar WHERE symbol = 'SPY') spy
    LEFT JOIN (SELECT date AS i_d, pct_change_1yr AS acwi_12m_return
               FROM ar WHERE symbol = 'ACWI') intl ON spy.date = intl.i_d
    LEFT JOIN (SELECT date AS b_d, pct_change_1yr AS govt_12m_return
               FROM ar WHERE symbol = 'GOVT') bond ON spy.date = bond.b_d
    LEFT JOIN faber f ON spy.date = f.f_d
    LEFT JOIN sector_stats ss ON spy.date = ss.ss_d
    WHERE spy.date >= $maxDateSql - INTERVAL 36 MONTH
  """
  }

  // ------------------------------------------------------------------
  // diffusion_index_signals (ref, 147 LoC)
  // ------------------------------------------------------------------

  private val DiffusionCodes = Seq(
    "PAYEMS", "CIVPART", "JTSJOL", "EMRATIO", "JTSHIR",
    "INDPRO", "TCU", "RSXFS", "PCEC96",
    "HOUST", "PERMIT", "CSUSHPISA",
    "EXPGS", "BOPGSTB",
    "UMCSENT", "IPMAN", "NEWORDER",
    "M2SL", "BUSLOANS", "PI")

  private def diffusionIndex(s: SparkSession, dir: String): DataFrame = {
    val wSer = Window.partitionBy(col("series_code")).orderBy(col("month_date"))
    val scored = stgFred(s, dir, DiffusionCodes)
      .filter(col("value").isNotNull)
      .groupBy(date_trunc("month", col("date")).cast("date").as("month_date"),
        col("series_code"))
      .agg(max(col("value")).as("val"))
      .withColumn("val_3m_ago", lag(col("val"), 3).over(wSer))
      .withColumn("direction", when(col("series_code") === "ICSA", -1).otherwise(1))
      .withColumn("is_improving",
        when(col("val_3m_ago").isNull, lit(null).cast("int"))
          .when((col("val") - col("val_3m_ago")) * col("direction") > 0, 1)
          .otherwise(0))

    val monthly = scored
      .groupBy(col("month_date").as("date"))
      .agg(
        count(when(col("is_improving").isNotNull, 1)).as("total_count"),
        coalesce(sum(col("is_improving")), lit(0)).cast("long").as("improving_count"))
      .withColumn("diffusion_pct",
        when(col("total_count") > 0,
          rdiv((col("improving_count") * 100).cast(DecimalType(18, 0)),
            col("total_count"), 1)))

    val wd  = Window.orderBy(col("date"))
    val f6  = wd.rowsBetween(-6, -1)
    val f24 = wd.rowsBetween(-24, -1)
    val wt = monthly
      .withColumn("diffusion_prev_month", lag(col("diffusion_pct"), 1).over(wd))
      .withColumn("diffusion_3m_ago", lag(col("diffusion_pct"), 3).over(wd))
      .withColumn("diffusion_6m_avg",
        davgOver(col("diffusion_pct"), f6))
      .withColumn("diffusion_zscore",
        (col("diffusion_pct") -
          davgOver(col("diffusion_pct"), f24)) /
          nullif(stddev_samp(col("diffusion_pct")).over(f24)))

    wt.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("total_count"), col("improving_count"), col("diffusion_pct"),
        rdivRound1(col("diffusion_6m_avg")).as("diffusion_6m_avg"),
        round(col("diffusion_zscore"), 2).as("diffusion_zscore"),
        rsnap(col("diffusion_pct") -
          coalesce(col("diffusion_prev_month"), col("diffusion_pct")), 1)
          .as("diffusion_mom_change"),
        rsnap(col("diffusion_pct") - coalesce(col("diffusion_3m_ago"), col("diffusion_pct")), 1)
          .as("diffusion_3m_change"),
        when(col("diffusion_pct") >= 50 &&
          col("diffusion_pct") > coalesce(col("diffusion_prev_month"), lit(0.0)), "broadening")
          .when(col("diffusion_pct") >= 50, "stable")
          .when(col("diffusion_pct") < 50 &&
            col("diffusion_pct") < coalesce(col("diffusion_prev_month"), lit(100.0)),
            "narrowing")
          .otherwise("recovering").as("breadth_trend"),
        when(col("diffusion_pct") < 30, "high")
          .when(col("diffusion_pct") < 40, "medium")
          .when(col("diffusion_pct") < 50, "low")
          .otherwise("normal").as("diffusion_status"))
  }

  /** round(x, 1) with the decimal snap. */
  private def rdivRound1(c: Column): Column = rsnap(c, 1)

  private val diffusionSql: String = s"""
    WITH ${stgFredSql(DiffusionCodes)},
    series_monthly AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date, series_code,
        MAX(value) AS val
      FROM stg
      WHERE series_code IN (${DiffusionCodes.map(c => s"'$c'").mkString(", ")})
        AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT month_date, series_code, val, val_3m_ago,
        CASE WHEN val_3m_ago IS NULL THEN NULL
             WHEN (val - val_3m_ago) * direction > 0 THEN 1
             ELSE 0 END AS is_improving
      FROM (
        SELECT *,
          LAG(val, 3) OVER (PARTITION BY series_code ORDER BY month_date) AS val_3m_ago,
          CASE WHEN series_code = 'ICSA' THEN -1 ELSE 1 END AS direction
        FROM series_monthly
      )
    ),
    monthly_diffusion AS (
      SELECT month_date AS date,
        COUNT(CASE WHEN is_improving IS NOT NULL THEN 1 END) AS total_count,
        CAST(COALESCE(SUM(is_improving), 0) AS BIGINT) AS improving_count,
        CASE WHEN COUNT(CASE WHEN is_improving IS NOT NULL THEN 1 END) > 0 THEN
          ${oDivRound("CAST(COALESCE(SUM(is_improving), 0) * 100 AS HUGEINT) * 1000000",
    "COUNT(CASE WHEN is_improving IS NOT NULL THEN 1 END)", 1)}
        END AS diffusion_pct
      FROM scored
      GROUP BY month_date
    ),
    with_stats AS (
      SELECT *,
        LAG(diffusion_pct, 1) OVER (ORDER BY date) AS diffusion_prev_month,
        LAG(diffusion_pct, 3) OVER (ORDER BY date) AS diffusion_3m_ago,
        CAST(SUM(CAST(diffusion_pct AS DECIMAL(18,6))) OVER f6 AS DOUBLE)
          / COUNT(diffusion_pct) OVER f6 AS diffusion_6m_avg,
        (diffusion_pct
          - CAST(SUM(CAST(diffusion_pct AS DECIMAL(18,6))) OVER f24 AS DOUBLE)
            / COUNT(diffusion_pct) OVER f24)
          / NULLIF(STDDEV_SAMP(diffusion_pct) OVER f24, 0) AS diffusion_zscore
      FROM monthly_diffusion
      WINDOW
        f6 AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
        f24 AS (ORDER BY date ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT date, total_count, improving_count, diffusion_pct,
      ${oSnap("diffusion_6m_avg", 1)} AS diffusion_6m_avg,
      ROUND(diffusion_zscore, 2) + 0.0 AS diffusion_zscore,
      ${oSnap("diffusion_pct - COALESCE(diffusion_prev_month, diffusion_pct)", 1)} AS diffusion_mom_change,
      ${oSnap("diffusion_pct - COALESCE(diffusion_3m_ago, diffusion_pct)", 1)} AS diffusion_3m_change,
      CASE
        WHEN diffusion_pct >= 50 AND diffusion_pct > COALESCE(diffusion_prev_month, 0) THEN 'broadening'
        WHEN diffusion_pct >= 50 THEN 'stable'
        WHEN diffusion_pct < 50 AND diffusion_pct < COALESCE(diffusion_prev_month, 100) THEN 'narrowing'
        ELSE 'recovering'
      END AS breadth_trend,
      CASE WHEN diffusion_pct < 30 THEN 'high'
           WHEN diffusion_pct < 40 THEN 'medium'
           WHEN diffusion_pct < 50 THEN 'low'
           ELSE 'normal' END AS diffusion_status
    FROM with_stats
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  // ------------------------------------------------------------------
  // market_volatility_signals (ref, 168 LoC)
  // ------------------------------------------------------------------

  private def marketVolatility(s: SparkSession, dir: String): DataFrame = {
    val wv = Window.orderBy(col("v_d"))
    val vix = stgFred(s, dir, Seq("VIXCLS"))
      .filter(col("series_code") === "VIXCLS")
      .select(col("date").as("v_d"), col("value").as("vix_close"))
      .withColumn("vix_avg_20d",
        davgOver(col("vix_close"), wv.rowsBetween(-19, 0)))
      .withColumn("vix_min_20d", min(col("vix_close")).over(wv.rowsBetween(-19, 0)))
      .withColumn("vix_max_20d", max(col("vix_close")).over(wv.rowsBetween(-19, 0)))
      .withColumn("vix_prev_close", lag(col("vix_close"), 1).over(wv))

    // SPY/QQQ OHLC staging (bars-style; adj_* = the aggregates directly)
    val px = PriceBars.daily(PriceBars.lines(s, dir),
        Seq(when(col("l_suppkey") % 2 === 0, "SPY").otherwise("QQQ").as("symbol")))
      .select(col("symbol") +: col("date") +:
        Seq("open", "high", "low", "close").map(c => r4(col(c)).as(s"adj_$c")): _*)

    val wp = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val rets = px
      .filter(col("adj_close").isNotNull)
      .withColumn("daily_return",
        col("adj_close") / when(lag(col("adj_close"), 1).over(wp) =!= 0,
          lag(col("adj_close"), 1).over(wp)) - 1.0)
      .filter(col("adj_high") > 0 && col("adj_low") > 0 && col("adj_open") > 0 &&
        col("adj_close") > 0 && col("daily_return").isNotNull)
      .withColumn("log_hl", log(col("adj_high") / col("adj_low")))
      .withColumn("log_co", log(col("adj_close") / col("adj_open")))

    def f(n: Int) = wp.rowsBetween(-(n - 1), 0)
    val ln2 = math.log(2.0)
    val gkComponent = lit(0.5) * pow(col("log_hl"), 2) -
      lit(2 * ln2 - 1) * pow(col("log_co"), 2)
    val vol = rets
      .withColumn("realized_vol_20d",
        stddev_samp(col("daily_return")).over(f(20)) * math.sqrt(252) * 100)
      .withColumn("realized_vol_30d",
        stddev_samp(col("daily_return")).over(f(30)) * math.sqrt(252) * 100)
      .withColumn("parkinson_var_20d",
        sum(pow(col("log_hl"), 2)).over(f(20)) / (4.0 * 20 * ln2))
      .withColumn("parkinson_var_60d",
        sum(pow(col("log_hl"), 2)).over(f(60)) / (4.0 * 60 * ln2))
      .withColumn("gk_20",
        sqrt(sum(gkComponent).over(f(20)) / 20.0 * 252) * 100)
      .withColumn("gk_60",
        sqrt(sum(gkComponent).over(f(60)) / 60.0 * 252) * 100)
      .select(col("symbol"), col("date").as("p_d"),
        round(col("realized_vol_20d"), 4).as("realized_vol_20d"),
        round(col("realized_vol_30d"), 4).as("realized_vol_30d"),
        round(sqrt(col("parkinson_var_20d") * 252) * 100, 4).as("parkinson_vol_20d"),
        round(sqrt(col("parkinson_var_60d") * 252) * 100, 4).as("parkinson_vol_60d"),
        round(col("gk_20"), 4).as("gk_vol_20d"),
        round(col("gk_60"), 4).as("gk_vol_60d"))

    val spy = vol.filter(col("symbol") === "SPY")
      .select(col("p_d").as("s_d"), col("realized_vol_20d").as("spy_realized_vol_20d"),
        col("realized_vol_30d").as("spy_realized_vol_30d"),
        col("parkinson_vol_20d").as("spy_parkinson_vol_20d"),
        col("parkinson_vol_60d").as("spy_parkinson_vol_60d"),
        col("gk_vol_20d").as("spy_gk_vol_20d"),
        col("gk_vol_60d").as("spy_gk_vol_60d"))
    val qqq = vol.filter(col("symbol") === "QQQ")
      .select(col("p_d").as("q_d"), col("realized_vol_20d").as("qqq_realized_vol_20d"),
        col("realized_vol_30d").as("qqq_realized_vol_30d"),
        col("parkinson_vol_20d").as("qqq_parkinson_vol_20d"),
        col("parkinson_vol_60d").as("qqq_parkinson_vol_60d"),
        col("gk_vol_20d").as("qqq_gk_vol_20d"),
        col("gk_vol_60d").as("qqq_gk_vol_60d"))

    vix
      .join(spy, col("v_d") === col("s_d"), "left")
      .join(qqq, col("v_d") === col("q_d"), "left")
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("v_d") >= add_months(col("__maxd"), -36))
      .select(
        col("v_d").as("date"), col("vix_close"), col("vix_avg_20d"),
        col("vix_min_20d"), col("vix_max_20d"), col("vix_prev_close"),
        (col("vix_close") - col("vix_prev_close")).as("vix_daily_change"),
        when(col("vix_prev_close") > 0,
          (col("vix_close") - col("vix_prev_close")) / col("vix_prev_close") * 100)
          .otherwise(0.0).as("vix_daily_change_pct"),
        col("spy_realized_vol_20d"), col("spy_realized_vol_30d"),
        col("spy_parkinson_vol_20d"), col("spy_parkinson_vol_60d"),
        col("spy_gk_vol_20d"), col("spy_gk_vol_60d"),
        col("qqq_realized_vol_20d"), col("qqq_realized_vol_30d"),
        col("qqq_parkinson_vol_20d"), col("qqq_parkinson_vol_60d"),
        col("qqq_gk_vol_20d"), col("qqq_gk_vol_60d"),
        rsnap(col("vix_close") - col("spy_realized_vol_20d"), 4).as("spy_vrp_20d"),
        rsnap(col("vix_close") - col("spy_realized_vol_30d"), 4).as("spy_vrp_30d"),
        rsnap(col("vix_close") - col("qqq_realized_vol_20d"), 4).as("qqq_vrp_20d"),
        rsnap(col("vix_close") - col("qqq_realized_vol_30d"), 4).as("qqq_vrp_30d"))
  }

  private val marketVolatilitySql: String = {
    s"""
    WITH ${stgFredSql(Seq("VIXCLS"))},
    vix_stats AS (
      SELECT date AS v_d, value AS vix_close,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w20 AS DOUBLE)
          / COUNT(value) OVER w20 AS vix_avg_20d,
        MIN(value) OVER w20 AS vix_min_20d,
        MAX(value) OVER w20 AS vix_max_20d,
        LAG(value) OVER (ORDER BY date) AS vix_prev_close
      FROM stg WHERE series_code = 'VIXCLS'
      WINDOW w20 AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    px AS (
      SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'SPY' ELSE 'QQQ' END AS symbol,
        CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.openSql}, 4) + 0.0 AS adj_open,
        ROUND(MAX(l_extendedprice), 4) + 0.0 AS adj_high,
        ROUND(MIN(l_extendedprice), 4) + 0.0 AS adj_low,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS adj_close
      FROM lineitem GROUP BY 1, 2
    ),
    rets AS (
      SELECT *,
        LN(adj_high / adj_low) AS log_hl,
        LN(adj_close / adj_open) AS log_co
      FROM (
        SELECT *,
          adj_close / NULLIF(LAG(adj_close, 1) OVER (PARTITION BY symbol ORDER BY date), 0)
            - 1.0 AS daily_return
        FROM px WHERE adj_close IS NOT NULL
      )
      WHERE adj_high > 0 AND adj_low > 0 AND adj_open > 0 AND adj_close > 0
        AND daily_return IS NOT NULL
    ),
    vol AS (
      SELECT symbol, date AS p_d,
        ROUND(STDDEV_SAMP(daily_return) OVER w20 * SQRT(252) * 100, 4) + 0.0 AS realized_vol_20d,
        ROUND(STDDEV_SAMP(daily_return) OVER w30 * SQRT(252) * 100, 4) + 0.0 AS realized_vol_30d,
        ROUND(SQRT(SUM(POWER(log_hl, 2)) OVER w20 / (4.0 * 20 * LN(2)) * 252) * 100, 4) + 0.0
          AS parkinson_vol_20d,
        ROUND(SQRT(SUM(POWER(log_hl, 2)) OVER w60 / (4.0 * 60 * LN(2)) * 252) * 100, 4) + 0.0
          AS parkinson_vol_60d,
        ROUND(SQRT(SUM(0.5 * POWER(log_hl, 2) - (2 * LN(2) - 1) * POWER(log_co, 2)) OVER w20
          / 20.0 * 252) * 100, 4) + 0.0 AS gk_vol_20d,
        ROUND(SQRT(SUM(0.5 * POWER(log_hl, 2) - (2 * LN(2) - 1) * POWER(log_co, 2)) OVER w60
          / 60.0 * 252) * 100, 4) + 0.0 AS gk_vol_60d
      FROM rets
      WINDOW
        w20 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        w30 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
        w60 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
    )
    SELECT v.v_d AS date, v.vix_close, v.vix_avg_20d, v.vix_min_20d, v.vix_max_20d,
      v.vix_prev_close,
      v.vix_close - v.vix_prev_close AS vix_daily_change,
      CASE WHEN v.vix_prev_close > 0
        THEN (v.vix_close - v.vix_prev_close) / v.vix_prev_close * 100
        ELSE 0 END AS vix_daily_change_pct,
      spy.realized_vol_20d AS spy_realized_vol_20d,
      spy.realized_vol_30d AS spy_realized_vol_30d,
      spy.parkinson_vol_20d AS spy_parkinson_vol_20d,
      spy.parkinson_vol_60d AS spy_parkinson_vol_60d,
      spy.gk_vol_20d AS spy_gk_vol_20d,
      spy.gk_vol_60d AS spy_gk_vol_60d,
      qqq.realized_vol_20d AS qqq_realized_vol_20d,
      qqq.realized_vol_30d AS qqq_realized_vol_30d,
      qqq.parkinson_vol_20d AS qqq_parkinson_vol_20d,
      qqq.parkinson_vol_60d AS qqq_parkinson_vol_60d,
      qqq.gk_vol_20d AS qqq_gk_vol_20d,
      qqq.gk_vol_60d AS qqq_gk_vol_60d,
      ${oSnap("v.vix_close - spy.realized_vol_20d", 4)} AS spy_vrp_20d,
      ${oSnap("v.vix_close - spy.realized_vol_30d", 4)} AS spy_vrp_30d,
      ${oSnap("v.vix_close - qqq.realized_vol_20d", 4)} AS qqq_vrp_20d,
      ${oSnap("v.vix_close - qqq.realized_vol_30d", 4)} AS qqq_vrp_30d
    FROM vix_stats v
    LEFT JOIN (SELECT * FROM vol WHERE symbol = 'SPY') spy ON v.v_d = spy.p_d
    LEFT JOIN (SELECT * FROM vol WHERE symbol = 'QQQ') qqq ON v.v_d = qqq.p_d
    WHERE v.v_d >= $maxDateSql - INTERVAL 36 MONTH
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_net_liquidity_signals", netLiquidity, Some(netLiquiditySql)),
    QueryDef("q_momentum_signals_model", momentum, Some(momentumSql)),
    QueryDef("q_diffusion_index_signals", diffusionIndex, Some(diffusionSql)),
    QueryDef("q_market_volatility_signals", marketVolatility, Some(marketVolatilitySql))
  )
}
