package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.epochDay
import graft.models.PriceBars
import graft.operators.TimeSeriesOps
import graft.queries.FredSignalQueries.{stgFred, stgFredSql}
import graft.queries.QueryDef.{davgOver, oDivRound, oSnap, rdiv, rsnap}

/** The remaining market-signals analysis models 1:1:
  *
  *  - market_breadth_signals (ref dbt_project/models/signals/
  *    market_breadth_signals.sql, 330 LoC): the FULL composite —
  *    %-above-SMA breadth, A/D internals + cumulative A/D line,
  *    McClellan oscillator/summation (recursive EMA with the
  *    reference's literal coefficient pairs), Zweig thrust, SPY
  *    252d-high divergence, sector participation, and the pairwise
  *    63-day correlation / dispersion internals. The standalone
  *    q_market_breadth / q_mcclellan_breadth remain as the
  *    operator-level views; this is the model a reference user
  *    materializes. The reference's `HAVING COUNT(DISTINCT symbol)
  *    >= 400` S&P-coverage guard scales to >= 20 (same 80% coverage ratio at the sf0.01 gate) for the 100-symbol
  *    synthetic universe.
  *  - technical_signals (ref signals/technical_signals.sql, 225 LoC):
  *    the DEPRECATED SPY-only model (kept by the reference for its
  *    unique VIX mean-reversion columns) — RSI(14)/RSI(2), Bollinger
  *    bands/bandwidth-percentile/squeeze, 60d z-score, VIX 252d
  *    percentile/z-score from the FRED VIXCLS series, and the status
  *    ladders.
  *  - commodity_market_signals (ref analysis/commodity_market_signals
  *    .sql): copper/gold, gold/SPY ratios, oil momentum vs SMA20/50,
  *    trend signal.
  *  - reddit_cross_subreddit_activity (ref analysis/
  *    reddit_cross_subreddit_activity.sql): URL- and normalized-title-
  *    overlap story detection across subreddits with attention/
  *    crossover tags. `subreddits` ships as an ordered comma-joined
  *    string (the driver gate hashes scalars, not arrays); post
  *    titles get a long-title fixture so the >20-char title branch is
  *    exercised.
  *
  * CURRENT_DATE anchors map to each model's max observation date.
  * Windowed averages of exact-decimal series go through DECIMAL sums
  * (order-independent, deterministic .5 rounding); int-ratio rounds
  * use the rdiv/oDivRound exact-division pair; STDDEV/CORR windows are
  * raw on both sides (TechnicalIndicators precedent).
  *
  * Scale: breadth is one per-symbol window family over the stock
  * universe, one date-keyed rollup, and macro-level (single-series)
  * frames after that; the pair-correlation internals are bounded by
  * the 5-symbol internals set (10 pairs), never the stock universe.
  */
object MarketSignalsQueries {

  /** The SPY/QQQ index universe of the signal models. */
  private val spyQqq = PriceBars.Universe(when(col("l_linestatus") === "O", "SPY").otherwise("QQQ"),
    "CASE WHEN l_linestatus = 'O' THEN 'SPY' ELSE 'QQQ' END")

  /** adj-close staging for one universe: (symbol, date, adj_close
    * [, volume]) — adj = the 4-decimal close / 2 as in the market
    * models; the volume is the BIGINT sum of whole quantities. */
  private def adjStaging(s: SparkSession, dir: String, uni: PriceBars.Universe, withVolume: Boolean): DataFrame = {
    val volume = sum(col("l_quantity").cast(DecimalType(18, 0))).cast("long").as("bigint_volume")
    val bars = PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("symbol")), volume)
    val adj = (QueryDef.r4(col("close")) * 0.5).as("adj_close")
    if (withVolume) bars.select(col("symbol"), col("date"), col("bigint_volume").as("volume"), adj)
    else bars.select(col("symbol"), col("date"), adj)
  }

  private def adjStagingSql(uni: PriceBars.Universe, withVolume: Boolean): String = {
    val volAgg = if (withVolume) ", CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS volume" else ""
    val volSel = if (withVolume) ", volume" else ""
    s"""(
      SELECT symbol, date, close * 0.5 AS adj_close$volSel FROM (
        SELECT ${uni.sql} AS symbol, CAST(l_shipdate AS DATE) AS date,
          ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close$volAgg
        FROM lineitem GROUP BY 1, 2
      )
    )"""
  }

  // ------------------------------------------------------------------
  // market_breadth_signals
  // ------------------------------------------------------------------

  private def marketBreadthSignals(s: SparkSession, dir: String): DataFrame = {
    val stocks = adjStaging(s, dir, PriceBars.Sp500, withVolume = true)
    val anchor = stocks.agg(max(col("date")).as("today"))

    val wSym = Window.partitionBy(col("symbol")).orderBy(col("date"))
    def tw(n: Int) = wSym.rowsBetween(-(n - 1), 0)

    val sig = stocks
      .crossJoin(broadcast(anchor))
      .filter(col("adj_close").isNotNull && col("adj_close") > 0 &&
        col("date") >= add_months(col("today"), -36))
      .withColumn("sma_50", davgOver(col("adj_close"), tw(50)))
      .withColumn("sma_200", davgOver(col("adj_close"), tw(200)))
      .withColumn("prev_price", lag(col("adj_close"), 1).over(wSym))
      .withColumn("n200", count(lit(1)).over(tw(200)))
      .select(col("symbol"), col("date"), col("adj_close"), col("volume"),
        col("today"),
        when(col("n200") >= 200 && col("adj_close") > col("sma_200"), 1).otherwise(0).as("above_200_ma"),
        when(col("n200") >= 50 && col("adj_close") > col("sma_50"), 1).otherwise(0).as("above_50_ma"),
        when(col("prev_price").isNotNull && col("adj_close") > col("prev_price"), 1).otherwise(0).as("is_advancing"),
        when(col("prev_price").isNotNull && col("adj_close") < col("prev_price"), 1).otherwise(0).as("is_declining"),
        when(col("prev_price").isNotNull && col("adj_close") === col("prev_price"), 1).otherwise(0).as("is_unchanged"),
        when(col("prev_price").isNotNull && col("adj_close") > col("prev_price"), col("volume")).otherwise(0L).as("adv_vol"),
        when(col("prev_price").isNotNull && col("adj_close") < col("prev_price"), col("volume")).otherwise(0L).as("dec_vol"))

    val daily = sig
      .filter(col("date") >= add_months(col("today"), -24))
      .groupBy(col("date"))
      .agg(
        countDistinct(col("symbol")).as("total_stocks"),
        sum(col("above_200_ma")).cast("long").as("stocks_above_200_ma"),
        sum(col("above_50_ma")).cast("long").as("stocks_above_50_ma"),
        sum(col("is_advancing")).cast("long").as("advancing_stocks"),
        sum(col("is_declining")).cast("long").as("declining_stocks"),
        sum(col("is_unchanged")).cast("long").as("unchanged_stocks"),
        sum(col("adv_vol")).cast("long").as("total_advancing_volume"),
        sum(col("dec_vol")).cast("long").as("total_declining_volume"))
      .filter(col("total_stocks") >= 20)
      .withColumn("pct_above_200_ma",
        when(col("total_stocks") =!= 0,
          rdiv((col("stocks_above_200_ma") * 100).cast(DecimalType(18, 0)), col("total_stocks"), 2)))
      .withColumn("pct_above_50_ma",
        when(col("total_stocks") =!= 0,
          rdiv((col("stocks_above_50_ma") * 100).cast(DecimalType(18, 0)), col("total_stocks"), 2)))
      .withColumn("ad_ratio",
        when(col("declining_stocks") =!= 0,
          rdiv(col("advancing_stocks").cast(DecimalType(18, 0)), col("declining_stocks"), 3)))
      .withColumn("ad_line_delta", col("advancing_stocks") - col("declining_stocks"))

    val ad = col("advancing_stocks") + col("declining_stocks")
    val base = daily
      .withColumn("net_advances", col("advancing_stocks") - col("declining_stocks"))
      .withColumn("rana",
        coalesce(when(ad =!= 0,
          rdiv((col("net_advances") * 1000).cast(DecimalType(18, 0)), ad, 2)), lit(0.0)))
      .withColumn("adv_ratio",
        coalesce(when(ad =!= 0,
          rdiv(col("advancing_stocks").cast(DecimalType(18, 0)), ad, 6)), lit(0.5)))

    val wd  = Window.orderBy(col("date"))
    def dw(n: Int) = wd.rowsBetween(-(n - 1), 0)
    def dAvg(c: Column, n: Int, outScale: Int): Column =
      rdiv(sum(c.cast(DecimalType(18, 6))).over(dw(n)), count(c).over(dw(n)), outScale)
    val cum = base
      .withColumn("ad_line_cumulative", sum(col("ad_line_delta")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pct_above_200_ma_10d_avg", dAvg(col("pct_above_200_ma"), 10, 2))
      .withColumn("ad_ratio_5d_avg", dAvg(col("ad_ratio"), 5, 3))
      .withColumn("prev_pct_above_200_ma", lag(col("pct_above_200_ma"), 1).over(wd))
      .withColumn("prev_pct_above_50_ma", lag(col("pct_above_50_ma"), 1).over(wd))
      .withColumn("breadth_5d_change", round(col("pct_above_200_ma") - lag(col("pct_above_200_ma"), 5).over(wd), 2))
      .withColumn("breadth_20d_change", round(col("pct_above_200_ma") - lag(col("pct_above_200_ma"), 20).over(wd), 2))
      .withColumn("pct_advancing",
        when(ad =!= 0, rdiv((col("advancing_stocks") * 100).cast(DecimalType(18, 0)), ad, 2)))
      .withColumn("rn", epochDay(col("date")).cast("long"))
      .withColumn("k", lit("mkt"))

    val e1 = TimeSeriesOps.recursiveEmaCoef(cum, "k", "rn", "rana", 0.1, 0.9, "ema_rana_19")
    val e2 = TimeSeriesOps.recursiveEmaCoef(e1, "k", "rn", "rana", 0.05, 0.95, "ema_rana_39")
    val e3 = TimeSeriesOps.recursiveEmaCoef(e2, "k", "rn", "adv_ratio",
      0.1818181818, 0.8181818182, "ema_adv_10")
    val mc = e3
      .withColumn("mcclellan_oscillator", col("ema_rana_19") - col("ema_rana_39"))
      .withColumn("mcclellan_summation_index",
        sum(col("mcclellan_oscillator")).over(wd.rowsBetween(Window.unboundedPreceding, 0)) + 1000)
      .withColumn("zweig_thrust_signal",
        when(col("ema_adv_10") >= 0.615 && min(col("ema_adv_10")).over(dw(10)) < 0.40, 1)
          .otherwise(0).cast("long"))

    // SPY branch (major indices with real index names)
    val idx = adjStaging(s, dir, spyQqq, withVolume = false)
    val wSpy = Window.orderBy(col("date"))
    val spy = idx.filter(col("symbol") === "SPY" && col("adj_close").isNotNull)
      .crossJoin(broadcast(anchor))
      .filter(col("date") >= add_months(col("today"), -36))
      .withColumn("spy_high_252d", max(col("adj_close")).over(wSpy.rowsBetween(-251, 0)))
      .select(col("date").as("s_date"), col("adj_close").as("spy_close"), col("spy_high_252d"))

    // sector participation (11-sector analog: the 3-symbol SECT universe)
    val sect = adjStaging(s, dir, PriceBars.Sectors, withVolume = false)
      .crossJoin(broadcast(anchor))
      .filter(col("adj_close").isNotNull && col("date") >= add_months(col("today"), -36))
    val sectSma = sect
      .withColumn("sma_200", davgOver(col("adj_close"), tw(200)))
      .withColumn("n200", count(lit(1)).over(tw(200)))
    val participation = sectSma
      .groupBy(col("date").as("p_date"))
      .agg(
        sum(when(col("n200") >= 200 && col("adj_close") > col("sma_200"), 1).otherwise(0))
          .cast("long").as("sector_participation_count"),
        countDistinct(col("symbol")).as("sector_total"))

    // internals: sectors + SPY/QQQ pair correlations and dispersion
    val internals = sect.select(col("symbol"), col("date"), col("adj_close"))
      .unionByName(idx.filter(col("symbol").isin("SPY", "QQQ"))
        .crossJoin(broadcast(anchor))
        .filter(col("adj_close").isNotNull && col("date") >= add_months(col("today"), -36))
        .select(col("symbol"), col("date"), col("adj_close")))
      .withColumn("daily_return",
        col("adj_close") / when(lag(col("adj_close"), 1).over(wSym) =!= 0,
          lag(col("adj_close"), 1).over(wSym)) - 1.0)
    val rets = internals.filter(col("daily_return").isNotNull)
      .select(col("symbol"), col("date"), col("daily_return"))
    val dispersion = rets.groupBy(col("date").as("d_date"))
      .agg(stddev_samp(col("daily_return")).as("return_dispersion"))
      .withColumn("return_dispersion_20d_avg",
        avg(col("return_dispersion")).over(Window.orderBy(col("d_date")).rowsBetween(-19, 0)))
    val syms = rets.select(col("symbol")).distinct()
    val pairs = syms.select(col("symbol").as("symbol_a"))
      .join(syms.select(col("symbol").as("symbol_b")), col("symbol_a") < col("symbol_b"))
    val pairRets = broadcast(pairs)
      .join(rets.select(col("symbol").as("ra_sym"), col("date").as("pr_date"),
        col("daily_return").as("return_a")), col("symbol_a") === col("ra_sym"))
      .join(broadcast(rets.select(col("symbol").as("rb_sym"), col("date").as("rb_date"),
        col("daily_return").as("return_b"))),
        col("symbol_b") === col("rb_sym") && col("pr_date") === col("rb_date"))
    val wPair = Window.partitionBy(col("symbol_a"), col("symbol_b"))
      .orderBy(col("pr_date")).rowsBetween(-62, 0)
    val pairCorr = pairRets
      .withColumn("pair_corr_63d", corr(col("return_a"), col("return_b")).over(wPair))
      .groupBy(col("pr_date").as("c_date"))
      .agg(avg(col("pair_corr_63d")).as("avg_pair_correlation_63d"))

    mc
      .join(broadcast(spy), col("date") === col("s_date"), "left")
      .join(broadcast(participation), col("date") === col("p_date"), "left")
      .join(broadcast(pairCorr), col("date") === col("c_date"), "left")
      .join(broadcast(dispersion), col("date") === col("d_date"), "left")
      .select(
        col("date"), col("total_stocks"), col("stocks_above_200_ma"), col("stocks_above_50_ma"),
        col("advancing_stocks"), col("declining_stocks"), col("unchanged_stocks"),
        col("pct_above_200_ma"), col("pct_above_50_ma"), col("ad_ratio"), col("ad_line_delta"),
        col("ad_line_cumulative"),
        col("prev_pct_above_200_ma"), col("prev_pct_above_50_ma"), col("pct_advancing"),
        col("total_advancing_volume"), col("total_declining_volume"),
        col("pct_above_200_ma_10d_avg"), col("ad_ratio_5d_avg"),
        col("breadth_5d_change"), col("breadth_20d_change"),
        when(col("total_declining_volume") =!= 0,
          rdiv(col("total_advancing_volume").cast(DecimalType(18, 0)), col("total_declining_volume"), 3))
          .as("volume_ad_ratio"),
        col("net_advances"), col("rana").as("ratio_adjusted_net_advances"),
        // rsnap, not round: the recursive-EMA folds are order-sensitive
        // double recurrences — a last-bit wobble between engines flips
        // the rounded digit on knife-edge values (the hash failure mode
        // this query hit twice). Snap to DECIMAL(18,6) first so both
        // engines round the same exact decimal.
        rsnap(col("ema_rana_19"), 2).as("rana_ema_19"),
        rsnap(col("ema_rana_39"), 2).as("rana_ema_39"),
        rsnap(col("mcclellan_oscillator"), 2).as("mcclellan_oscillator"),
        rsnap(col("mcclellan_summation_index"), 2).as("mcclellan_summation_index"),
        rsnap(col("ema_adv_10"), 4).as("zweig_ema_10d"),
        col("zweig_thrust_signal"),
        col("spy_close"), col("spy_high_252d"),
        when(col("spy_close") >= col("spy_high_252d"), 1).otherwise(0).cast("long").as("spy_new_high"),
        when(col("spy_close") >= col("spy_high_252d") &&
          col("breadth_20d_change").isNotNull && col("breadth_20d_change") < -5, 1)
          .otherwise(0).cast("long").as("breadth_divergence_signal"),
        col("sector_participation_count"), col("sector_total"),
        when(col("sector_total") =!= 0,
          rdiv((col("sector_participation_count") * 100).cast(DecimalType(18, 0)), col("sector_total"), 2))
          .as("sector_participation_pct"),
        // rsnap, not round: these come from order-sensitive double
        // aggregations (CORR/STDDEV/AVG merges) where a last-bit wobble
        // between engines can flip the 4th decimal; the DECIMAL(18,6)
        // snap makes both engines round the same exact decimal.
        QueryDef.rsnap(col("avg_pair_correlation_63d"), 4).as("avg_pair_correlation_63d"),
        QueryDef.rsnap(col("return_dispersion"), 4).as("return_dispersion"),
        QueryDef.rsnap(col("return_dispersion_20d_avg"), 4).as("return_dispersion_20d_avg"))
  }

  private val marketBreadthSignalsSql: String = {
    val stocksCte  = adjStagingSql(PriceBars.Sp500, withVolume = true)
    val idxCte     = adjStagingSql(spyQqq, withVolume = false)
    val sectCte    = adjStagingSql(PriceBars.Sectors, withVolume = false)
    def oAvgW(c: String, win: String, outScale: Int) = oDivRound(
      s"CAST(SUM(CAST($c AS DECIMAL(18,6))) OVER $win * 1000000 AS HUGEINT)",
      s"COUNT($c) OVER $win", outScale)
    def oRatio(num: String, den: String, n: Int) =
      s"CASE WHEN $den != 0 THEN ${oDivRound(s"CAST($num AS HUGEINT) * 1000000", den, n)} END"
    s"""
    WITH RECURSIVE stocks AS (SELECT * FROM $stocksCte),
    anchor AS (SELECT MAX(date) AS today FROM stocks),
    sig AS (
      SELECT symbol, date, price, volume, today,
        CASE WHEN n200 >= 200 AND price > sma_200 THEN 1 ELSE 0 END AS above_200_ma,
        CASE WHEN n200 >= 50 AND price > sma_50 THEN 1 ELSE 0 END AS above_50_ma,
        CASE WHEN prev_price IS NOT NULL AND price > prev_price THEN 1 ELSE 0 END AS is_advancing,
        CASE WHEN prev_price IS NOT NULL AND price < prev_price THEN 1 ELSE 0 END AS is_declining,
        CASE WHEN prev_price IS NOT NULL AND price = prev_price THEN 1 ELSE 0 END AS is_unchanged,
        CASE WHEN prev_price IS NOT NULL AND price > prev_price THEN volume ELSE 0 END AS adv_vol,
        CASE WHEN prev_price IS NOT NULL AND price < prev_price THEN volume ELSE 0 END AS dec_vol
      FROM (
        SELECT s.symbol, s.date, s.adj_close AS price, s.volume, a.today,
          CAST(SUM(CAST(s.adj_close AS DECIMAL(18,6))) OVER w50 AS DOUBLE) / COUNT(s.adj_close) OVER w50 AS sma_50,
          CAST(SUM(CAST(s.adj_close AS DECIMAL(18,6))) OVER w200 AS DOUBLE) / COUNT(s.adj_close) OVER w200 AS sma_200,
          LAG(s.adj_close, 1) OVER wsym AS prev_price,
          COUNT(*) OVER w200 AS n200
        FROM stocks s, anchor a
        WHERE s.adj_close IS NOT NULL AND s.adj_close > 0
          AND s.date >= CAST(a.today - INTERVAL 36 MONTH AS DATE)
        WINDOW wsym AS (PARTITION BY s.symbol ORDER BY s.date),
          w50 AS (PARTITION BY s.symbol ORDER BY s.date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
          w200 AS (PARTITION BY s.symbol ORDER BY s.date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
      )
    ),
    daily AS (
      SELECT * FROM (
        SELECT date,
          CAST(COUNT(DISTINCT symbol) AS BIGINT) AS total_stocks,
          CAST(SUM(above_200_ma) AS BIGINT) AS stocks_above_200_ma,
          CAST(SUM(above_50_ma) AS BIGINT) AS stocks_above_50_ma,
          CAST(SUM(is_advancing) AS BIGINT) AS advancing_stocks,
          CAST(SUM(is_declining) AS BIGINT) AS declining_stocks,
          CAST(SUM(is_unchanged) AS BIGINT) AS unchanged_stocks,
          CAST(SUM(adv_vol) AS BIGINT) AS total_advancing_volume,
          CAST(SUM(dec_vol) AS BIGINT) AS total_declining_volume
        FROM sig WHERE date >= CAST(today - INTERVAL 24 MONTH AS DATE)
        GROUP BY date
      ) WHERE total_stocks >= 20
    ),
    breadth_base AS (
      SELECT *,
        ${oRatio("stocks_above_200_ma * 100", "total_stocks", 2)} AS pct_above_200_ma,
        ${oRatio("stocks_above_50_ma * 100", "total_stocks", 2)} AS pct_above_50_ma,
        ${oRatio("advancing_stocks", "declining_stocks", 3)} AS ad_ratio,
        advancing_stocks - declining_stocks AS ad_line_delta,
        advancing_stocks - declining_stocks AS net_advances,
        COALESCE(CASE WHEN advancing_stocks + declining_stocks != 0 THEN
          ${oDivRound("CAST((advancing_stocks - declining_stocks) * 1000 AS HUGEINT) * 1000000",
    "advancing_stocks + declining_stocks", 2)} END, 0.0) AS rana,
        COALESCE(CASE WHEN advancing_stocks + declining_stocks != 0 THEN
          ${oDivRound("advancing_stocks * 1000000", "advancing_stocks + declining_stocks", 6)}
          END, 0.5) AS adv_ratio
      FROM daily
    ),
    cumulative AS (
      SELECT *,
        SUM(ad_line_delta) OVER wcum AS ad_line_cumulative,
        ${oAvgW("pct_above_200_ma", "w10", 2)} AS pct_above_200_ma_10d_avg,
        ${oAvgW("ad_ratio", "w5", 3)} AS ad_ratio_5d_avg,
        LAG(pct_above_200_ma, 1) OVER wd AS prev_pct_above_200_ma,
        LAG(pct_above_50_ma, 1) OVER wd AS prev_pct_above_50_ma,
        ROUND(pct_above_200_ma - LAG(pct_above_200_ma, 5) OVER wd, 2) + 0.0 AS breadth_5d_change,
        ROUND(pct_above_200_ma - LAG(pct_above_200_ma, 20) OVER wd, 2) + 0.0 AS breadth_20d_change,
        ${oRatio("advancing_stocks * 100", "advancing_stocks + declining_stocks", 2)} AS pct_advancing
      FROM breadth_base
      WINDOW wd AS (ORDER BY date),
        wcum AS (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w10 AS (ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
        w5 AS (ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    ema_inputs AS (SELECT ROW_NUMBER() OVER (ORDER BY date) AS rn, * FROM cumulative),
    ema_calc AS (
      SELECT rn, date, rana AS i_rana, adv_ratio AS i_adv,
        rana AS ema_rana_19, rana AS ema_rana_39, adv_ratio AS ema_adv_10
      FROM ema_inputs WHERE rn = 1
      UNION ALL
      SELECT i.rn, i.date, i.rana, i.adv_ratio,
        (0.1 * i.rana) + (0.9 * e.ema_rana_19),
        (0.05 * i.rana) + (0.95 * e.ema_rana_39),
        (0.1818181818 * i.adv_ratio) + (0.8181818182 * e.ema_adv_10)
      FROM ema_inputs i INNER JOIN ema_calc e ON i.rn = e.rn + 1
    ),
    with_ema AS (
      SELECT c.*, e.ema_rana_19, e.ema_rana_39, e.ema_adv_10,
        e.ema_rana_19 - e.ema_rana_39 AS mcclellan_oscillator
      FROM cumulative c INNER JOIN ema_calc e ON c.date = e.date
    ),
    with_mcclellan AS (
      SELECT *,
        SUM(mcclellan_oscillator) OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1000
          AS mcclellan_summation_index,
        CASE WHEN ema_adv_10 >= 0.615
              AND MIN(ema_adv_10) OVER (ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) < 0.40
          THEN 1 ELSE 0 END AS zweig_thrust_signal
      FROM with_ema
    ),
    idx AS (SELECT * FROM $idxCte),
    spy AS (
      SELECT date AS s_date, adj_close AS spy_close,
        MAX(adj_close) OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW) AS spy_high_252d
      FROM idx, anchor
      WHERE symbol = 'SPY' AND adj_close IS NOT NULL
        AND date >= CAST(today - INTERVAL 36 MONTH AS DATE)
    ),
    sect AS (
      SELECT c.symbol, c.date, c.adj_close
      FROM $sectCte c, anchor a
      WHERE c.adj_close IS NOT NULL AND c.date >= CAST(a.today - INTERVAL 36 MONTH AS DATE)
    ),
    participation AS (
      SELECT date AS p_date,
        CAST(SUM(CASE WHEN n200 >= 200 AND adj_close > sma_200 THEN 1 ELSE 0 END) AS BIGINT)
          AS sector_participation_count,
        CAST(COUNT(DISTINCT symbol) AS BIGINT) AS sector_total
      FROM (
        SELECT *,
          CAST(SUM(CAST(adj_close AS DECIMAL(18,6))) OVER w200 AS DOUBLE) / COUNT(adj_close) OVER w200 AS sma_200,
          COUNT(*) OVER w200 AS n200
        FROM sect
        WINDOW w200 AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
      )
      GROUP BY date
    ),
    internals AS (
      SELECT symbol, date,
        adj_close / NULLIF(LAG(adj_close, 1) OVER (PARTITION BY symbol ORDER BY date), 0) - 1.0
          AS daily_return
      FROM (
        SELECT symbol, date, adj_close FROM sect
        UNION ALL
        SELECT i.symbol, i.date, i.adj_close
        FROM idx i, anchor a
        WHERE i.symbol IN ('SPY', 'QQQ') AND i.adj_close IS NOT NULL
          AND i.date >= CAST(a.today - INTERVAL 36 MONTH AS DATE)
      )
    ),
    rets AS (SELECT * FROM internals WHERE daily_return IS NOT NULL),
    dispersion AS (
      SELECT d_date, return_dispersion,
        AVG(return_dispersion) OVER (ORDER BY d_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
          AS return_dispersion_20d_avg
      FROM (
        SELECT date AS d_date, STDDEV_SAMP(daily_return) AS return_dispersion
        FROM rets GROUP BY date
      )
    ),
    pair_corr AS (
      SELECT pr_date, symbol_a, symbol_b,
        CORR(return_a, return_b) OVER (PARTITION BY symbol_a, symbol_b ORDER BY pr_date
          ROWS BETWEEN 62 PRECEDING AND CURRENT ROW) AS pair_corr_63d
      FROM (
        SELECT r1.date AS pr_date, p.symbol_a, p.symbol_b,
          r1.daily_return AS return_a, r2.daily_return AS return_b
        FROM (
          SELECT a.symbol AS symbol_a, b.symbol AS symbol_b
          FROM (SELECT DISTINCT symbol FROM rets) a
          JOIN (SELECT DISTINCT symbol FROM rets) b ON a.symbol < b.symbol
        ) p
        JOIN rets r1 ON p.symbol_a = r1.symbol
        JOIN rets r2 ON p.symbol_b = r2.symbol AND r1.date = r2.date
      )
    ),
    pair_avg AS (
      SELECT pr_date AS c_date, AVG(pair_corr_63d) AS avg_pair_correlation_63d
      FROM pair_corr GROUP BY 1
    )
    SELECT b.date, b.total_stocks, b.stocks_above_200_ma, b.stocks_above_50_ma,
      b.advancing_stocks, b.declining_stocks, b.unchanged_stocks,
      b.pct_above_200_ma, b.pct_above_50_ma, b.ad_ratio, b.ad_line_delta,
      CAST(b.ad_line_cumulative AS BIGINT) AS ad_line_cumulative,
      b.prev_pct_above_200_ma, b.prev_pct_above_50_ma, b.pct_advancing,
      b.total_advancing_volume, b.total_declining_volume,
      b.pct_above_200_ma_10d_avg, b.ad_ratio_5d_avg,
      b.breadth_5d_change, b.breadth_20d_change,
      ${oRatio("b.total_advancing_volume", "b.total_declining_volume", 3)} AS volume_ad_ratio,
      b.net_advances, b.rana AS ratio_adjusted_net_advances,
      ${QueryDef.oSnap("b.ema_rana_19", 2)} AS rana_ema_19,
      ${QueryDef.oSnap("b.ema_rana_39", 2)} AS rana_ema_39,
      ${QueryDef.oSnap("b.mcclellan_oscillator", 2)} AS mcclellan_oscillator,
      ${QueryDef.oSnap("b.mcclellan_summation_index", 2)} AS mcclellan_summation_index,
      ${QueryDef.oSnap("b.ema_adv_10", 4)} AS zweig_ema_10d,
      CAST(b.zweig_thrust_signal AS BIGINT) AS zweig_thrust_signal,
      s.spy_close, s.spy_high_252d,
      CAST(CASE WHEN s.spy_close >= s.spy_high_252d THEN 1 ELSE 0 END AS BIGINT) AS spy_new_high,
      CAST(CASE WHEN s.spy_close >= s.spy_high_252d AND b.breadth_20d_change IS NOT NULL
                 AND b.breadth_20d_change < -5 THEN 1 ELSE 0 END AS BIGINT) AS breadth_divergence_signal,
      sp.sector_participation_count, sp.sector_total,
      ${oRatio("sp.sector_participation_count * 100", "sp.sector_total", 2)} AS sector_participation_pct,
      ${QueryDef.oSnap("ic.avg_pair_correlation_63d", 4)} AS avg_pair_correlation_63d,
      ${QueryDef.oSnap("d.return_dispersion", 4)} AS return_dispersion,
      ${QueryDef.oSnap("d.return_dispersion_20d_avg", 4)} AS return_dispersion_20d_avg
    FROM with_mcclellan b
    LEFT JOIN spy s ON b.date = s.s_date
    LEFT JOIN participation sp ON b.date = sp.p_date
    LEFT JOIN pair_avg ic ON b.date = ic.c_date
    LEFT JOIN dispersion d ON b.date = d.d_date
  """
  }

  // ------------------------------------------------------------------
  // technical_signals (SPY-only deprecated model w/ VIX mean-reversion)
  // ------------------------------------------------------------------

  private def technicalSignals(s: SparkSession, dir: String): DataFrame = {
    val wd = Window.orderBy(col("date"))
    def dw(n: Int) = wd.rowsBetween(-(n - 1), 0)
    def nz(c: Column): Column = when(c =!= 0, c)

    val spyDaily = adjStaging(s, dir, spyQqq, withVolume = false)
      .filter(col("symbol") === "SPY" && col("adj_close").isNotNull)
      .withColumn("daily_change", col("adj_close") - lag(col("adj_close"), 1).over(wd))

    val rsi = spyDaily
      .filter(col("daily_change").isNotNull)
      .withColumn("gain", when(col("daily_change") > 0, col("daily_change")).otherwise(0.0))
      .withColumn("loss", when(col("daily_change") < 0, abs(col("daily_change"))).otherwise(0.0))
      .withColumn("ag14", davgOver(col("gain"), dw(14)))
      .withColumn("al14", davgOver(col("loss"), dw(14)))
      .withColumn("ag2", davgOver(col("gain"), dw(2)))
      .withColumn("al2", davgOver(col("loss"), dw(2)))
      .select(col("date"), col("adj_close"),
        round(lit(100) - lit(100.0) / (lit(1) + col("ag14") / nz(col("al14"))), 2).as("rsi_14"),
        round(lit(100) - lit(100.0) / (lit(1) + col("ag2") / nz(col("al2"))), 2).as("rsi_2"))

    val boll = spyDaily
      .withColumn("bb_middle", davgOver(col("adj_close"), dw(20)))
      .withColumn("bb_stddev", stddev_samp(col("adj_close")).over(dw(20)))
      .withColumn("bb_bandwidth_raw",
        round(lit(4) * col("bb_stddev") / nz(col("bb_middle")) * 100, 4))
      .withColumn("bb_bandwidth_pctile_raw",
        (col("bb_bandwidth_raw") - min(col("bb_bandwidth_raw")).over(dw(126))) /
          nz(max(col("bb_bandwidth_raw")).over(dw(126)) - min(col("bb_bandwidth_raw")).over(dw(126))))
      .select(col("date").as("b_date"),
        round(col("bb_middle") + lit(2) * col("bb_stddev"), 2).as("bb_upper"),
        round(col("bb_middle") - lit(2) * col("bb_stddev"), 2).as("bb_lower"),
        rsnap(col("bb_bandwidth_raw"), 2).as("bb_bandwidth"),
        round(col("bb_bandwidth_pctile_raw"), 4).as("bb_bandwidth_pctile"),
        round((col("adj_close") - (col("bb_middle") - lit(2) * col("bb_stddev"))) /
          nz(lit(4) * col("bb_stddev")), 4).as("bb_position"))

    val zscore = spyDaily
      .withColumn("mean_60d", davgOver(col("adj_close"), dw(60)))
      .withColumn("std_60d", stddev_samp(col("adj_close")).over(dw(60)))
      .select(col("date").as("z_date"),
        round((col("adj_close") - col("mean_60d")) / nz(col("std_60d")), 2).as("zscore_60d"))

    val vix = stgFred(s, dir, Seq("VIXCLS"))
      .filter(col("series_code") === "VIXCLS" && col("literal").isNotNull)
      .select(col("date").as("v_date"), col("literal").as("vix_value"))
      .withColumn("vix_percentile_raw",
        (col("vix_value") - min(col("vix_value")).over(Window.orderBy(col("v_date")).rowsBetween(-251, 0))) /
          nz(max(col("vix_value")).over(Window.orderBy(col("v_date")).rowsBetween(-251, 0)) -
            min(col("vix_value")).over(Window.orderBy(col("v_date")).rowsBetween(-251, 0))))
      .withColumn("vix_zscore",
        round((col("vix_value") -
          (sum(col("vix_value").cast(DecimalType(18, 6)))
            .over(Window.orderBy(col("v_date")).rowsBetween(-251, 0)).cast("double") /
            count(col("vix_value")).over(Window.orderBy(col("v_date")).rowsBetween(-251, 0)))) /
          nz(stddev_samp(col("vix_value")).over(Window.orderBy(col("v_date")).rowsBetween(-251, 0))), 2))

    val anchor = spyDaily.agg(max(col("date")).as("today"))
    rsi
      .join(broadcast(boll), col("date") === col("b_date"), "left")
      .join(broadcast(zscore), col("date") === col("z_date"), "left")
      .join(broadcast(vix), col("date") === col("v_date"), "left")
      .crossJoin(broadcast(anchor))
      .filter(col("date") >= add_months(col("today"), -36))
      .select(
        col("date"), col("adj_close"), col("rsi_14"), col("rsi_2"),
        col("bb_upper"), col("bb_lower"), col("bb_bandwidth"),
        col("bb_bandwidth_pctile"), col("bb_position"), col("zscore_60d"),
        col("vix_value"),
        round(col("vix_percentile_raw"), 4).as("vix_percentile_1yr"),
        col("vix_zscore"),
        when(col("rsi_14") > 70, "high").when(col("rsi_14") < 30, "medium")
          .otherwise("normal").as("rsi_status"),
        when(col("bb_bandwidth_pctile") <= 0.10, "high")
          .when(col("bb_position") > 0.95 || col("bb_position") < 0.05, "medium")
          .otherwise("normal").as("bollinger_status"),
        when(abs(col("zscore_60d")) > 2.0, "high")
          .when(abs(col("zscore_60d")) > 1.5, "medium")
          .otherwise("normal").as("zscore_status"),
        when(col("vix_percentile_raw") > 0.90, "high")
          .when(col("vix_percentile_raw") > 0.80, "medium")
          .when(col("vix_percentile_raw") < 0.10, "low")
          .otherwise("normal").as("vix_mean_reversion_status"))
  }

  private val technicalSignalsSql: String = {
    val idxCte = adjStagingSql(spyQqq, withVolume = false)
    def exAvg(c: String, win: String) =
      s"CAST(SUM(CAST($c AS DECIMAL(18,6))) OVER $win AS DOUBLE) / COUNT($c) OVER $win"
    s"""
    WITH ${stgFredSql(Seq("VIXCLS"))},
    spy_daily AS (
      SELECT date, adj_close,
        adj_close - LAG(adj_close) OVER (ORDER BY date) AS daily_change
      FROM $idxCte
      WHERE symbol = 'SPY' AND adj_close IS NOT NULL
    ),
    anchor AS (SELECT MAX(date) AS today FROM spy_daily),
    rsi AS (
      SELECT date, adj_close,
        ROUND(100 - 100.0 / (1 + ${exAvg("gain", "w14")} / NULLIF(${exAvg("loss", "w14")}, 0)), 2) + 0.0 AS rsi_14,
        ROUND(100 - 100.0 / (1 + ${exAvg("gain", "w2")} / NULLIF(${exAvg("loss", "w2")}, 0)), 2) + 0.0 AS rsi_2
      FROM (
        SELECT date, adj_close,
          CASE WHEN daily_change > 0 THEN daily_change ELSE 0 END AS gain,
          CASE WHEN daily_change < 0 THEN ABS(daily_change) ELSE 0 END AS loss
        FROM spy_daily WHERE daily_change IS NOT NULL
      )
      WINDOW w14 AS (ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        w2 AS (ORDER BY date ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
    ),
    boll0 AS (
      SELECT date, adj_close,
        ${exAvg("adj_close", "w20")} AS bb_middle,
        STDDEV_SAMP(adj_close) OVER w20 AS bb_stddev
      FROM spy_daily
      WINDOW w20 AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    boll1 AS (
      SELECT *, ROUND(4 * bb_stddev / NULLIF(bb_middle, 0) * 100, 4) + 0.0 AS bb_bandwidth_raw
      FROM boll0
    ),
    boll AS (
      SELECT date AS b_date,
        ROUND(bb_middle + 2 * bb_stddev, 2) + 0.0 AS bb_upper,
        ROUND(bb_middle - 2 * bb_stddev, 2) + 0.0 AS bb_lower,
        ${oSnap("bb_bandwidth_raw", 2)} AS bb_bandwidth,
        ROUND((bb_bandwidth_raw - MIN(bb_bandwidth_raw) OVER w126)
          / NULLIF(MAX(bb_bandwidth_raw) OVER w126 - MIN(bb_bandwidth_raw) OVER w126, 0), 4) + 0.0
          AS bb_bandwidth_pctile,
        (bb_bandwidth_raw - MIN(bb_bandwidth_raw) OVER w126)
          / NULLIF(MAX(bb_bandwidth_raw) OVER w126 - MIN(bb_bandwidth_raw) OVER w126, 0)
          AS bb_bandwidth_pctile_raw,
        ROUND((adj_close - (bb_middle - 2 * bb_stddev)) / NULLIF(4 * bb_stddev, 0), 4) + 0.0
          AS bb_position
      FROM boll1
      WINDOW w126 AS (ORDER BY date ROWS BETWEEN 125 PRECEDING AND CURRENT ROW)
    ),
    zscore AS (
      SELECT date AS z_date,
        ROUND((adj_close - ${exAvg("adj_close", "w60")})
          / NULLIF(STDDEV_SAMP(adj_close) OVER w60, 0), 2) + 0.0 AS zscore_60d
      FROM spy_daily
      WINDOW w60 AS (ORDER BY date ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
    ),
    vix AS (
      SELECT date AS v_date, vix_value,
        (vix_value - MIN(vix_value) OVER w252)
          / NULLIF(MAX(vix_value) OVER w252 - MIN(vix_value) OVER w252, 0) AS vix_percentile_raw,
        ROUND((vix_value - ${exAvg("vix_value", "w252")})
          / NULLIF(STDDEV_SAMP(vix_value) OVER w252, 0), 2) + 0.0 AS vix_zscore
      FROM (
        SELECT date, literal AS vix_value FROM stg
        WHERE series_code = 'VIXCLS' AND literal IS NOT NULL
      )
      WINDOW w252 AS (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
    )
    SELECT r.date, r.adj_close, r.rsi_14, r.rsi_2,
      b.bb_upper, b.bb_lower, b.bb_bandwidth, b.bb_bandwidth_pctile, b.bb_position,
      z.zscore_60d, v.vix_value,
      ROUND(v.vix_percentile_raw, 4) + 0.0 AS vix_percentile_1yr,
      v.vix_zscore,
      CASE WHEN r.rsi_14 > 70 THEN 'high' WHEN r.rsi_14 < 30 THEN 'medium'
           ELSE 'normal' END AS rsi_status,
      CASE WHEN b.bb_bandwidth_pctile <= 0.10 THEN 'high'
           WHEN b.bb_position > 0.95 OR b.bb_position < 0.05 THEN 'medium'
           ELSE 'normal' END AS bollinger_status,
      CASE WHEN ABS(z.zscore_60d) > 2.0 THEN 'high'
           WHEN ABS(z.zscore_60d) > 1.5 THEN 'medium'
           ELSE 'normal' END AS zscore_status,
      CASE WHEN v.vix_percentile_raw > 0.90 THEN 'high'
           WHEN v.vix_percentile_raw > 0.80 THEN 'medium'
           WHEN v.vix_percentile_raw < 0.10 THEN 'low'
           ELSE 'normal' END AS vix_mean_reversion_status
    FROM rsi r
    LEFT JOIN boll b ON r.date = b.b_date
    LEFT JOIN zscore z ON r.date = z.z_date
    LEFT JOIN vix v ON r.date = v.v_date
    CROSS JOIN anchor a
    WHERE r.date >= CAST(a.today - INTERVAL 36 MONTH AS DATE)
  """
  }

  // ------------------------------------------------------------------
  // commodity_market_signals
  // ------------------------------------------------------------------

  /** named commodity staging: (commodity_name, date, price), the
    * price the close rounded to 4 decimals. */
  private def namedCommodity(s: SparkSession, dir: String, names: PriceBars.Universe): DataFrame =
    PriceBars.daily(PriceBars.lines(s, dir), Seq(names.col.as("commodity_name")))
      .select(col("commodity_name"), col("date"), QueryDef.r4(col("close")).as("price"))

  private val inputs = PriceBars.named(col("l_partkey") % 6, "l_partkey % 6",
    Seq("gold", "copper", "aluminum", "lumber", "steel", "cotton"))
  private val energies = PriceBars.named(col("l_suppkey") % 4, "l_suppkey % 4",
    Seq("crude_oil", "natural_gas", "gasoline", "heating_oil"))

  private def commodityMarketSignals(s: SparkSession, dir: String): DataFrame = {
    val input  = namedCommodity(s, dir, inputs)
    val energy = namedCommodity(s, dir, energies)
    val spy = adjStaging(s, dir, spyQqq, withVolume = false)
      .filter(col("symbol") === "SPY" && col("adj_close").isNotNull && col("adj_close") > 0)
      .select(col("date").as("s_date"), col("adj_close").as("spy_price"))
    def series(df: DataFrame, nm: String, out: String) = df
      .filter(col("commodity_name") === nm && col("price").isNotNull && col("price") > 0)
      .select(col("date").as(s"${out}_date"), col("price").as(out))
    val gold   = series(input, "gold", "gold_price")
    val copper = series(input, "copper", "copper_price")
    val oil    = series(energy, "crude_oil", "oil_price")

    val allDates = gold.select(col("gold_price_date").as("date"))
      .union(spy.select(col("s_date"))).distinct()
    val combined = allDates
      .join(broadcast(gold), col("date") === col("gold_price_date"), "left")
      .join(broadcast(copper), col("date") === col("copper_price_date"), "left")
      .join(broadcast(oil), col("date") === col("oil_price_date"), "left")
      .join(broadcast(spy), col("date") === col("s_date"), "left")
      .filter(col("gold_price").isNotNull || col("spy_price").isNotNull)
      .select(col("date"), col("gold_price"), col("copper_price"), col("oil_price"), col("spy_price"))

    val wd = Window.orderBy(col("date"))
    def dw(n: Int) = wd.rowsBetween(-(n - 1), 0)
    def exAvgR(c: Column, n: Int, outScale: Int): Column =
      rdiv(sum(c.cast(DecimalType(18, 6))).over(dw(n)), count(c).over(dw(n)), outScale)

    val cgRatio = when(col("gold_price") > 0 && col("copper_price").isNotNull,
      col("copper_price") / col("gold_price") * 1000)
    val gsRatio = when(col("spy_price") > 0 && col("gold_price").isNotNull,
      col("gold_price") / col("spy_price"))
    val calc = combined
      .withColumn("copper_gold_ratio_raw", cgRatio)
      .withColumn("gold_spy_ratio_raw", gsRatio)
      .withColumn("oil_sma_20_raw", davgOver(col("oil_price"), dw(20)))
      .withColumn("oil_sma_50_raw", davgOver(col("oil_price"), dw(50)))
      .withColumn("oil_sma_20", exAvgR(col("oil_price"), 20, 2))
      .withColumn("oil_sma_50", exAvgR(col("oil_price"), 50, 2))
      .withColumn("copper_gold_sma_20", round(davgOver(cgRatio, dw(20)), 4))
      .withColumn("gold_spy_sma_20", round(davgOver(gsRatio, dw(20)), 4))
      .withColumn("copper_gold_sma_20_raw", davgOver(cgRatio, dw(20)))

    val anchor = allDates.agg(max(col("date")).as("today"))
    calc
      .crossJoin(broadcast(anchor))
      .filter(col("date") >= add_months(col("today"), -24))
      .select(
        col("date"), col("gold_price"), col("copper_price"), col("oil_price"), col("spy_price"),
        round(col("copper_gold_ratio_raw"), 4).as("copper_gold_ratio"),
        round(col("gold_spy_ratio_raw"), 4).as("gold_spy_ratio"),
        col("oil_sma_20"), col("oil_sma_50"),
        col("copper_gold_sma_20"), col("gold_spy_sma_20"),
        when(col("oil_price").isNotNull && col("oil_sma_20_raw") > 0,
          round((col("oil_price") - col("oil_sma_20_raw")) / col("oil_sma_20_raw") * 100, 2))
          .as("oil_momentum_pct"),
        when(col("copper_gold_ratio_raw").isNotNull && col("copper_gold_sma_20_raw") > 0,
          round((col("copper_gold_ratio_raw") - col("copper_gold_sma_20_raw")) /
            col("copper_gold_sma_20_raw") * 100, 2))
          .as("copper_gold_momentum_pct"),
        when(col("oil_price") > col("oil_sma_20_raw") && col("oil_sma_20_raw") > col("oil_sma_50_raw"), 1)
          .when(col("oil_price") < col("oil_sma_20_raw") && col("oil_sma_20_raw") < col("oil_sma_50_raw"), -1)
          .otherwise(0).cast("long").as("oil_trend_signal"))
  }

  private val commodityMarketSignalsSql: String = {
    val idxCte = adjStagingSql(spyQqq, withVolume = false)
    def exAvgRaw(c: String, win: String) =
      s"CAST(SUM(CAST($c AS DECIMAL(18,6))) OVER $win AS DOUBLE) / COUNT($c) OVER $win"
    def exAvgR(c: String, win: String, n: Int) = oDivRound(
      s"CAST(SUM(CAST($c AS DECIMAL(18,6))) OVER $win * 1000000 AS HUGEINT)",
      s"COUNT($c) OVER $win", n)
    s"""
    WITH inputc AS (
      SELECT ${inputs.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS price
      FROM lineitem GROUP BY 1, 2
    ),
    energyc AS (
      SELECT ${energies.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS price
      FROM lineitem GROUP BY 1, 2
    ),
    gold AS (SELECT date AS g_date, price AS gold_price FROM inputc
             WHERE commodity_name = 'gold' AND price IS NOT NULL AND price > 0),
    copper AS (SELECT date AS c_date, price AS copper_price FROM inputc
               WHERE commodity_name = 'copper' AND price IS NOT NULL AND price > 0),
    oil AS (SELECT date AS o_date, price AS oil_price FROM energyc
            WHERE commodity_name = 'crude_oil' AND price IS NOT NULL AND price > 0),
    spy AS (SELECT date AS s_date, adj_close AS spy_price FROM $idxCte
            WHERE symbol = 'SPY' AND adj_close IS NOT NULL AND adj_close > 0),
    all_dates AS (
      SELECT DISTINCT g_date AS date FROM gold
      UNION SELECT DISTINCT s_date FROM spy
    ),
    combined AS (
      SELECT d.date, g.gold_price, c.copper_price, o.oil_price, s.spy_price
      FROM all_dates d
      LEFT JOIN gold g ON d.date = g.g_date
      LEFT JOIN copper c ON d.date = c.c_date
      LEFT JOIN oil o ON d.date = o.o_date
      LEFT JOIN spy s ON d.date = s.s_date
      WHERE g.gold_price IS NOT NULL OR s.spy_price IS NOT NULL
    ),
    anchor AS (SELECT MAX(date) AS today FROM all_dates),
    calc AS (
      SELECT *,
        CASE WHEN gold_price > 0 AND copper_price IS NOT NULL
             THEN copper_price / gold_price * 1000 END AS copper_gold_ratio_raw,
        CASE WHEN spy_price > 0 AND gold_price IS NOT NULL
             THEN gold_price / spy_price END AS gold_spy_ratio_raw,
        ${exAvgRaw("oil_price", "w20")} AS oil_sma_20_raw,
        ${exAvgRaw("oil_price", "w50")} AS oil_sma_50_raw,
        ${exAvgR("oil_price", "w20", 2)} AS oil_sma_20,
        ${exAvgR("oil_price", "w50", 2)} AS oil_sma_50,
        ROUND(${exAvgRaw(
      "CASE WHEN gold_price > 0 AND copper_price IS NOT NULL THEN copper_price / gold_price * 1000 END",
      "w20")}, 4) + 0.0 AS copper_gold_sma_20,
        ${exAvgRaw(
      "CASE WHEN gold_price > 0 AND copper_price IS NOT NULL THEN copper_price / gold_price * 1000 END",
      "w20")} AS copper_gold_sma_20_raw,
        ROUND(${exAvgRaw(
      "CASE WHEN spy_price > 0 AND gold_price IS NOT NULL THEN gold_price / spy_price END",
      "w20")}, 4) + 0.0 AS gold_spy_sma_20
      FROM combined
      WINDOW w20 AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        w50 AS (ORDER BY date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
    )
    SELECT date, gold_price, copper_price, oil_price, spy_price,
      ROUND(copper_gold_ratio_raw, 4) + 0.0 AS copper_gold_ratio,
      ROUND(gold_spy_ratio_raw, 4) + 0.0 AS gold_spy_ratio,
      oil_sma_20, oil_sma_50, copper_gold_sma_20, gold_spy_sma_20,
      CASE WHEN oil_price IS NOT NULL AND oil_sma_20_raw > 0
           THEN ROUND((oil_price - oil_sma_20_raw) / oil_sma_20_raw * 100, 2) + 0.0
      END AS oil_momentum_pct,
      CASE WHEN copper_gold_ratio_raw IS NOT NULL AND copper_gold_sma_20_raw > 0
           THEN ROUND((copper_gold_ratio_raw - copper_gold_sma_20_raw) / copper_gold_sma_20_raw * 100, 2) + 0.0
      END AS copper_gold_momentum_pct,
      CAST(CASE WHEN oil_price > oil_sma_20_raw AND oil_sma_20_raw > oil_sma_50_raw THEN 1
                WHEN oil_price < oil_sma_20_raw AND oil_sma_20_raw < oil_sma_50_raw THEN -1
                ELSE 0 END AS BIGINT) AS oil_trend_signal
    FROM calc, anchor
    WHERE date >= CAST(today - INTERVAL 24 MONTH AS DATE)
  """
  }

  // ------------------------------------------------------------------
  // reddit_cross_subreddit_activity
  // ------------------------------------------------------------------

  private def redditCrossSubreddit(s: SparkSession, dir: String): DataFrame = {
    // long-title fixture: the staging title (events props) is < 20
    // chars, which would silently empty the title-overlap branch
    val posts = MiscModelQueries.redditPosts(s, dir)
      .filter(!col("is_deleted"))
      .withColumn("title", concat(lit("Discussion thread: "), col("title")))
    val selfDomains = Seq("self.investing", "self.stocks", "self.wallstreetbets",
      "self.economics", "self.economy")
    def overlapAgg(df: DataFrame, keys: Seq[Column]) = df
      .groupBy(keys: _*)
      .agg(
        countDistinct(col("subreddit")).as("subreddit_count"),
        array_sort(collect_set(col("subreddit"))).as("subs_arr"),
        sum(col("score")).cast("long").as("total_score"),
        sum(col("num_comments")).cast("long").as("total_comments"),
        sum(col("engagement_score")).cast("long").as("total_engagement"),
        min(col("post_id")).as("first_post_id"))
      .filter(col("subreddit_count") >= 2)
    val urlOverlap = overlapAgg(
      posts.filter(!col("is_self_post") && col("url").isNotNull && length(col("url")) > 0 &&
        !col("domain").isin(selfDomains: _*)),
      Seq(col("url"), col("domain"), col("partition_date")))
      .select(lit("url_match").as("match_type"), col("url").as("match_key"),
        col("domain").as("match_domain"), col("partition_date"),
        col("subreddit_count"), col("subs_arr"), col("total_score"),
        col("total_comments"), col("total_engagement"), col("first_post_id"))
    val titleOverlap = overlapAgg(
      posts.filter(length(col("title")) > 20)
        .withColumn("normalized_title", lower(trim(col("title")))),
      Seq(col("normalized_title"), col("partition_date")))
      .select(lit("title_match").as("match_type"), col("normalized_title").as("match_key"),
        lit(null).cast("string").as("match_domain"), col("partition_date"),
        col("subreddit_count"), col("subs_arr"), col("total_score"),
        col("total_comments"), col("total_engagement"), col("first_post_id"))
    val titles = posts.select(col("post_id").as("p_post_id"), col("title").as("post_title"))
    urlOverlap.unionByName(titleOverlap)
      .join(titles, col("first_post_id") === col("p_post_id"), "left")
      .select(
        col("match_type"), col("match_key"), col("match_domain"), col("partition_date"),
        col("subreddit_count"),
        concat_ws(",", col("subs_arr")).as("subreddits"),
        col("total_score"), col("total_comments"), col("total_engagement"),
        col("first_post_id"), col("post_title"),
        when(col("subreddit_count") >= 3, "viral")
          .when(col("total_engagement") >= 500, "high_attention")
          .otherwise("normal").as("attention_level"),
        (array_contains(col("subs_arr"), "wallstreetbets") &&
          (array_contains(col("subs_arr"), "economics") || array_contains(col("subs_arr"), "economy")))
          .as("retail_to_academic_crossover"))
  }

  private val redditCrossSubredditSql: String = s"""
    WITH posts AS (
      SELECT * REPLACE ('Discussion thread: ' || title AS title)
      FROM (${MiscModelQueries.redditPostsSql})
      WHERE NOT is_deleted
    ),
    url_overlap AS (
      SELECT 'url_match' AS match_type, url AS match_key, domain AS match_domain,
        partition_date, subreddit_count, subs_arr, total_score, total_comments,
        total_engagement, first_post_id
      FROM (
        SELECT url, domain, partition_date,
          CAST(COUNT(DISTINCT subreddit) AS BIGINT) AS subreddit_count,
          LIST_SORT(LIST(DISTINCT subreddit)) AS subs_arr,
          CAST(SUM(score) AS BIGINT) AS total_score,
          CAST(SUM(num_comments) AS BIGINT) AS total_comments,
          CAST(SUM(engagement_score) AS BIGINT) AS total_engagement,
          MIN(post_id) AS first_post_id
        FROM posts
        WHERE NOT is_self_post AND url IS NOT NULL AND LENGTH(url) > 0
          AND domain NOT IN ('self.investing', 'self.stocks', 'self.wallstreetbets',
                             'self.economics', 'self.economy')
        GROUP BY url, domain, partition_date
        HAVING COUNT(DISTINCT subreddit) >= 2
      )
    ),
    title_overlap AS (
      SELECT 'title_match' AS match_type, normalized_title AS match_key,
        CAST(NULL AS VARCHAR) AS match_domain,
        partition_date, subreddit_count, subs_arr, total_score, total_comments,
        total_engagement, first_post_id
      FROM (
        SELECT LOWER(TRIM(title)) AS normalized_title, partition_date,
          CAST(COUNT(DISTINCT subreddit) AS BIGINT) AS subreddit_count,
          LIST_SORT(LIST(DISTINCT subreddit)) AS subs_arr,
          CAST(SUM(score) AS BIGINT) AS total_score,
          CAST(SUM(num_comments) AS BIGINT) AS total_comments,
          CAST(SUM(engagement_score) AS BIGINT) AS total_engagement,
          MIN(post_id) AS first_post_id
        FROM posts
        WHERE LENGTH(title) > 20
        GROUP BY LOWER(TRIM(title)), partition_date
        HAVING COUNT(DISTINCT subreddit) >= 2
      )
    ),
    combined AS (SELECT * FROM url_overlap UNION ALL SELECT * FROM title_overlap)
    SELECT c.match_type, c.match_key, c.match_domain, c.partition_date,
      c.subreddit_count,
      ARRAY_TO_STRING(c.subs_arr, ',') AS subreddits,
      c.total_score, c.total_comments, c.total_engagement, c.first_post_id,
      p.title AS post_title,
      CASE WHEN c.subreddit_count >= 3 THEN 'viral'
           WHEN c.total_engagement >= 500 THEN 'high_attention'
           ELSE 'normal' END AS attention_level,
      (LIST_CONTAINS(c.subs_arr, 'wallstreetbets')
        AND (LIST_CONTAINS(c.subs_arr, 'economics') OR LIST_CONTAINS(c.subs_arr, 'economy')))
        AS retail_to_academic_crossover
    FROM combined c
    LEFT JOIN posts p ON c.first_post_id = p.post_id
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_market_breadth_signals", marketBreadthSignals, Some(marketBreadthSignalsSql)),
    QueryDef("q_technical_signals", technicalSignals, Some(technicalSignalsSql)),
    QueryDef("q_commodity_market_signals", commodityMarketSignals, Some(commodityMarketSignalsSql)),
    QueryDef("q_reddit_cross_subreddit_activity", redditCrossSubreddit, Some(redditCrossSubredditSql))
  )
}
