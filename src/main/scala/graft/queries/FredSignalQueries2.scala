package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.queries.QueryDef.{davgOver, maxDate, maxDateSql, mMaxSql, nullif, oSnap, r4, rsnap}
import graft.runtime.Tables
import graft.queries.FredSignalQueries.{dateOf, panel, stgFred, stgFredSql}

/** Second batch of FRED-staged signals-schema named models (refs
  * dbt_project/models/signals/{housing,trade,sentiment,
  * financial_conditions,economic_acceleration,credit_market}_signals
  * .sql). Same staging / parity conventions as [[FredSignalQueries]].
  *
  * credit_market_signals' trailing 5y/10y spread percentiles are the
  * reference's correlated subqueries re-expressed join-free: each row
  * folds a (date, value) struct array collected over a fixed day-RANGE
  * frame, filtering to the exact calendar window with add_months — at
  * 100 TB this is O(frame) work per row inside one per-series window
  * sort instead of a x1800 row-amplifying self-join.
  */
object FredSignalQueries2 {

  // ------------------------------------------------------------------
  // housing_signals (ref signals/housing_signals.sql, 154 LoC)
  // ------------------------------------------------------------------

  private def housingSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("HOUST", "PERMIT", "MORTGAGE30US", "MSACSR"))

    val combined = panel(stg, "month", "literal")(
      ("HOUST", "max", "starts"), ("PERMIT", "max", "permits"),
      ("MORTGAGE30US", "mean", "avg_mortgage_rate"), ("MSACSR", "max", "months_of_supply"))

    val wd = Window.orderBy(col("date"))
    val f3 = wd.rowsBetween(-2, 0)
    val wt = combined
      .withColumn("starts_12m_ago", lag(col("starts"), 12).over(wd))
      .withColumn("starts_3m_ago", lag(col("starts"), 3).over(wd))
      .withColumn("permits_starts_ratio", rsnap(col("permits") / nullif(col("starts")), 3))
      .withColumn("mortgage_3m_ago", lag(col("avg_mortgage_rate"), 3).over(wd))
      .withColumn("mortgage_12m_ago", lag(col("avg_mortgage_rate"), 12).over(wd))
      .withColumn("supply_3m_ago", lag(col("months_of_supply"), 3).over(wd))
      .withColumn("starts_3m_avg", avg(col("starts")).over(f3))
      .withColumn("permits_3m_avg", avg(col("permits")).over(f3))

    def yoyPct = (col("starts") - col("starts_12m_ago")) / nullif(col("starts_12m_ago")) * 100
    wt.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("starts"), col("permits"), col("avg_mortgage_rate"),
        col("months_of_supply"), col("permits_starts_ratio"),
        rsnap(yoyPct, 2).as("starts_yoy_pct"),
        rsnap((col("starts") - col("starts_3m_ago")) / nullif(col("starts_3m_ago")) * 100, 2)
          .as("starts_3m_pct"),
        rsnap(col("avg_mortgage_rate") - col("mortgage_3m_ago"), 2).as("mortgage_3m_change"),
        rsnap(col("avg_mortgage_rate") - col("mortgage_12m_ago"), 2).as("mortgage_12m_change"),
        when(col("starts_12m_ago").isNotNull && yoyPct < -10, "high")
          .when(col("starts_12m_ago").isNotNull && yoyPct < -5, "medium")
          .when(col("starts_12m_ago").isNotNull && yoyPct > 10, "low")
          .otherwise("normal").as("starts_momentum_status"),
        when(col("permits") / nullif(col("starts")) < 0.9, "medium")
          .when(col("permits") / nullif(col("starts")) > 1.15, "low")
          .otherwise("normal").as("permits_pipeline_status"),
        when(col("avg_mortgage_rate") > 7.5, "high")
          .when(col("avg_mortgage_rate") > 6.5, "medium")
          .when(col("avg_mortgage_rate") < 4.0, "low")
          .otherwise("normal").as("mortgage_stress_status"),
        when(col("months_of_supply") > 7, "high")
          .when(col("months_of_supply") > 6, "medium")
          .when(col("months_of_supply") < 4, "medium")
          .otherwise("normal").as("supply_status"))
  }

  private val housingSql: String = s"""
    WITH ${stgFredSql(Seq("HOUST", "PERMIT", "MORTGAGE30US", "MSACSR"))},
    housing_starts AS (${mMaxSql("HOUST", "starts")}),
    building_permits AS (${mMaxSql("PERMIT", "permits")}),
    mortgage_monthly AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        CAST(SUM(CAST(literal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_mortgage_rate,
        MAX(literal) AS max_mortgage_rate
      FROM stg WHERE series_code = 'MORTGAGE30US' AND literal IS NOT NULL GROUP BY 1
    ),
    months_supply AS (${mMaxSql("MSACSR", "months_of_supply")}),
    combined AS (
      SELECT COALESCE(hs.month_date, bp.month_date, mm.month_date, ms.month_date) AS date,
        hs.starts, bp.permits, mm.avg_mortgage_rate, ms.months_of_supply
      FROM housing_starts AS hs
      FULL OUTER JOIN building_permits AS bp ON hs.month_date = bp.month_date
      FULL OUTER JOIN mortgage_monthly AS mm
        ON COALESCE(hs.month_date, bp.month_date) = mm.month_date
      FULL OUTER JOIN months_supply AS ms
        ON COALESCE(hs.month_date, bp.month_date, mm.month_date) = ms.month_date
    ),
    with_trends AS (
      SELECT *,
        LAG(starts, 12) OVER (ORDER BY date) AS starts_12m_ago,
        LAG(starts, 3) OVER (ORDER BY date) AS starts_3m_ago,
        ${oSnap("permits / NULLIF(starts, 0)", 3)} AS permits_starts_ratio,
        LAG(avg_mortgage_rate, 3) OVER (ORDER BY date) AS mortgage_3m_ago,
        LAG(avg_mortgage_rate, 12) OVER (ORDER BY date) AS mortgage_12m_ago,
        LAG(months_of_supply, 3) OVER (ORDER BY date) AS supply_3m_ago
      FROM combined
    )
    SELECT date, starts, permits, avg_mortgage_rate, months_of_supply, permits_starts_ratio,
      ${oSnap("((starts - starts_12m_ago) / NULLIF(starts_12m_ago, 0)) * 100", 2)} AS starts_yoy_pct,
      ${oSnap("((starts - starts_3m_ago) / NULLIF(starts_3m_ago, 0)) * 100", 2)} AS starts_3m_pct,
      ${oSnap("avg_mortgage_rate - mortgage_3m_ago", 2)} AS mortgage_3m_change,
      ${oSnap("avg_mortgage_rate - mortgage_12m_ago", 2)} AS mortgage_12m_change,
      CASE WHEN starts_12m_ago IS NOT NULL AND ((starts - starts_12m_ago) / NULLIF(starts_12m_ago, 0)) * 100 < -10 THEN 'high'
           WHEN starts_12m_ago IS NOT NULL AND ((starts - starts_12m_ago) / NULLIF(starts_12m_ago, 0)) * 100 < -5 THEN 'medium'
           WHEN starts_12m_ago IS NOT NULL AND ((starts - starts_12m_ago) / NULLIF(starts_12m_ago, 0)) * 100 > 10 THEN 'low'
           ELSE 'normal' END AS starts_momentum_status,
      CASE WHEN permits / NULLIF(starts, 0) < 0.9 THEN 'medium'
           WHEN permits / NULLIF(starts, 0) > 1.15 THEN 'low'
           ELSE 'normal' END AS permits_pipeline_status,
      CASE WHEN avg_mortgage_rate > 7.5 THEN 'high'
           WHEN avg_mortgage_rate > 6.5 THEN 'medium'
           WHEN avg_mortgage_rate < 4.0 THEN 'low'
           ELSE 'normal' END AS mortgage_stress_status,
      CASE WHEN months_of_supply > 7 THEN 'high'
           WHEN months_of_supply > 6 THEN 'medium'
           WHEN months_of_supply < 4 THEN 'medium'
           ELSE 'normal' END AS supply_status
    FROM with_trends
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  // ------------------------------------------------------------------
  // trade_signals (ref signals/trade_signals.sql, 116 LoC)
  // ------------------------------------------------------------------

  private def tradeSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("DTWEXBGS", "DTWEXEMEGS", "BOPGSTB"))

    val tb = stg.filter(col("series_code") === "BOPGSTB" && col("value").isNotNull)
      .select(col("date").as("tb_m"), col("value").as("trade_balance"))

    val wd = Window.orderBy(col("date"))
    val combined = panel(stg, "month", "value")(
        ("DTWEXBGS", "mean", "dollar_broad_avg"), ("DTWEXEMEGS", "mean", "em_dollar_avg"))
      .filter(col("dollar_broad_avg").isNotNull)
      .join(tb, col("date") === col("tb_m"), "left")
      .select(col("date"), col("dollar_broad_avg"), col("em_dollar_avg"),
        col("trade_balance"),
        lag(col("dollar_broad_avg"), 3).over(wd).as("dollar_3m_ago"),
        lag(col("dollar_broad_avg"), 6).over(wd).as("dollar_6m_ago"),
        lag(col("dollar_broad_avg"), 12).over(wd).as("dollar_12m_ago"),
        lag(col("trade_balance"), 12).over(wd).as("trade_12m_ago"))

    def pc(c: Column, ago: Column): Column =
      when(ago > 0, (c - ago) / ago * 100)
    val wc = combined.select(
      col("date"), col("dollar_broad_avg"), col("em_dollar_avg"), col("trade_balance"),
      pc(col("dollar_broad_avg"), col("dollar_3m_ago")).as("dollar_3m_pct_change"),
      pc(col("dollar_broad_avg"), col("dollar_6m_ago")).as("dollar_6m_pct_change"),
      pc(col("dollar_broad_avg"), col("dollar_12m_ago")).as("dollar_12m_pct_change"),
      when(col("trade_12m_ago").isNotNull && col("trade_12m_ago") =!= 0,
        (col("trade_balance") - col("trade_12m_ago")) / abs(col("trade_12m_ago")) * 100)
        .as("trade_12m_pct_change"),
      when(col("dollar_broad_avg") > 0 && col("em_dollar_avg") > 0,
        ((col("em_dollar_avg") / lag(col("em_dollar_avg"), 3).over(wd) - 1)
          - (col("dollar_broad_avg") / col("dollar_3m_ago") - 1)) * 100)
        .as("em_broad_divergence"))

    wc.select(
      col("date"), col("dollar_broad_avg"), col("em_dollar_avg"), col("trade_balance"),
      col("dollar_3m_pct_change"), col("dollar_6m_pct_change"), col("dollar_12m_pct_change"),
      col("trade_12m_pct_change"), col("em_broad_divergence"),
      when(abs(col("dollar_3m_pct_change")) > 5, "high")
        .when(abs(col("dollar_3m_pct_change")) > 3, "medium")
        .when(abs(col("dollar_3m_pct_change")) > 1, "low")
        .otherwise("normal").as("dollar_momentum_status"),
      when(col("trade_12m_pct_change") < -15, "high")
        .when(col("trade_12m_pct_change") < -10, "medium")
        .when(col("trade_12m_pct_change") < 0, "low")
        .otherwise("normal").as("trade_deficit_status"),
      when(col("em_broad_divergence") > 3, "high")
        .when(col("em_broad_divergence") > 1.5, "medium")
        .when(col("em_broad_divergence") > 0, "low")
        .otherwise("normal").as("em_stress_status"))
  }

  private val tradeSql: String = s"""
    WITH ${stgFredSql(Seq("DTWEXBGS", "DTWEXEMEGS", "BOPGSTB"))},
    dollar_broad AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS mth,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS dollar_broad_avg
      FROM stg WHERE series_code = 'DTWEXBGS' AND value IS NOT NULL GROUP BY 1
    ),
    dollar_em AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS mth,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS em_dollar_avg
      FROM stg WHERE series_code = 'DTWEXEMEGS' AND value IS NOT NULL GROUP BY 1
    ),
    trade_balance AS (
      SELECT date AS mth, value AS trade_balance
      FROM stg WHERE series_code = 'BOPGSTB' AND value IS NOT NULL
    ),
    combined AS (
      SELECT db.mth AS date, db.dollar_broad_avg, de.em_dollar_avg, tb.trade_balance,
        LAG(db.dollar_broad_avg, 3) OVER (ORDER BY db.mth) AS dollar_3m_ago,
        LAG(db.dollar_broad_avg, 6) OVER (ORDER BY db.mth) AS dollar_6m_ago,
        LAG(db.dollar_broad_avg, 12) OVER (ORDER BY db.mth) AS dollar_12m_ago,
        LAG(tb.trade_balance, 12) OVER (ORDER BY db.mth) AS trade_12m_ago
      FROM dollar_broad db
      LEFT JOIN dollar_em de ON db.mth = de.mth
      LEFT JOIN trade_balance tb ON db.mth = tb.mth
    ),
    with_changes AS (
      SELECT date, dollar_broad_avg, em_dollar_avg, trade_balance,
        CASE WHEN dollar_3m_ago > 0
          THEN ((dollar_broad_avg - dollar_3m_ago) / dollar_3m_ago) * 100 END AS dollar_3m_pct_change,
        CASE WHEN dollar_6m_ago > 0
          THEN ((dollar_broad_avg - dollar_6m_ago) / dollar_6m_ago) * 100 END AS dollar_6m_pct_change,
        CASE WHEN dollar_12m_ago > 0
          THEN ((dollar_broad_avg - dollar_12m_ago) / dollar_12m_ago) * 100 END AS dollar_12m_pct_change,
        CASE WHEN trade_12m_ago IS NOT NULL AND trade_12m_ago != 0
          THEN ((trade_balance - trade_12m_ago) / ABS(trade_12m_ago)) * 100 END AS trade_12m_pct_change,
        CASE WHEN dollar_broad_avg > 0 AND em_dollar_avg > 0
          THEN ((em_dollar_avg / LAG(em_dollar_avg, 3) OVER (ORDER BY date) - 1)
              - (dollar_broad_avg / dollar_3m_ago - 1)) * 100 END AS em_broad_divergence
      FROM combined
    )
    SELECT date, dollar_broad_avg, em_dollar_avg, trade_balance,
      dollar_3m_pct_change, dollar_6m_pct_change, dollar_12m_pct_change,
      trade_12m_pct_change, em_broad_divergence,
      CASE WHEN ABS(dollar_3m_pct_change) > 5 THEN 'high'
           WHEN ABS(dollar_3m_pct_change) > 3 THEN 'medium'
           WHEN ABS(dollar_3m_pct_change) > 1 THEN 'low'
           ELSE 'normal' END AS dollar_momentum_status,
      CASE WHEN trade_12m_pct_change < -15 THEN 'high'
           WHEN trade_12m_pct_change < -10 THEN 'medium'
           WHEN trade_12m_pct_change < 0 THEN 'low'
           ELSE 'normal' END AS trade_deficit_status,
      CASE WHEN em_broad_divergence > 3 THEN 'high'
           WHEN em_broad_divergence > 1.5 THEN 'medium'
           WHEN em_broad_divergence > 0 THEN 'low'
           ELSE 'normal' END AS em_stress_status
    FROM with_changes
  """

  // ------------------------------------------------------------------
  // sentiment_signals (ref signals/sentiment_signals.sql, 214 LoC)
  // ------------------------------------------------------------------

  private def sentimentSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("UMCSENT", "CSCICP03USM665S", "IPMAN", "NEWORDER",
      "PCUOMFG", "MANEMP", "MNFCTRMPCIMSA"))

    val combined = panel(stg, "month", "literal")(
        ("UMCSENT", "max", "umcsent"), ("CSCICP03USM665S", "max", "confidence"),
        ("IPMAN", "max", "ipman"), ("NEWORDER", "max", "new_orders"),
        ("PCUOMFG", "max", "prices"), ("MANEMP", "max", "employment"),
        ("MNFCTRMPCIMSA", "max", "inventories"))
      .select(
        dateOf("umcsent", "confidence", "ipman").as("date"),
        col("umcsent"), col("confidence"), col("ipman"), col("new_orders"),
        col("prices"), col("employment"), col("inventories"))

    val wd  = Window.orderBy(col("date"))
    val f24 = wd.rowsBetween(-23, 0)
    val ws = combined
      .withColumn("umcsent_24m_avg", davgOver(col("umcsent"), f24))
      .withColumn("umcsent_24m_std", stddev_samp(col("umcsent")).over(f24))
      .withColumn("confidence_24m_avg", davgOver(col("confidence"), f24))
      .withColumn("confidence_24m_std", stddev_samp(col("confidence")).over(f24))
      .withColumn("ipman_12m_ago", lag(col("ipman"), 12).over(wd))
      .withColumn("ipman_3m_ago", lag(col("ipman"), 3).over(wd))
      .withColumn("ipman_6m_ago", lag(col("ipman"), 6).over(wd))
      .withColumn("new_orders_12m_ago", lag(col("new_orders"), 12).over(wd))
      .withColumn("new_orders_prev", lag(col("new_orders"), 1).over(wd))
      .withColumn("prices_12m_ago", lag(col("prices"), 12).over(wd))
      .withColumn("inventories_12m_ago", lag(col("inventories"), 12).over(wd))

    def yoy(c: Column, ago: Column): Column = lit(100.0) * (c - ago) / nullif(ago)
    def z(c: Column, a: Column, sd: Column): Column = (c - a) / nullif(sd)
    val wy = ws
      .withColumn("ipman_yoy_pct", rsnap(yoy(col("ipman"), col("ipman_12m_ago")), 2))
      .withColumn("new_orders_yoy_pct", rsnap(yoy(col("new_orders"), col("new_orders_12m_ago")), 2))
      .withColumn("prices_yoy_pct", rsnap(yoy(col("prices"), col("prices_12m_ago")), 2))
      .withColumn("inventories_yoy_pct", rsnap(yoy(col("inventories"), col("inventories_12m_ago")), 2))
      .withColumn("umcsent_zscore",
        rsnap(z(col("umcsent"), col("umcsent_24m_avg"), col("umcsent_24m_std")), 2))
      .withColumn("confidence_zscore",
        rsnap(z(col("confidence"), col("confidence_24m_avg"), col("confidence_24m_std")), 2))
      .withColumn("confidence_sentiment_divergence",
        rsnap(z(col("confidence"), col("confidence_24m_avg"), col("confidence_24m_std"))
          - z(col("umcsent"), col("umcsent_24m_avg"), col("umcsent_24m_std")), 2))

    wy.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("umcsent"), col("confidence"), col("ipman"), col("new_orders"),
        col("prices").as("mfg_prices"), col("employment").as("mfg_employment"),
        col("inventories").as("mfg_inventories"),
        col("umcsent_zscore"), col("confidence_zscore"), col("confidence_sentiment_divergence"),
        col("ipman_yoy_pct"), col("new_orders_yoy_pct"), col("prices_yoy_pct"),
        col("inventories_yoy_pct"),
        rsnap(yoy(col("ipman"), col("ipman_3m_ago")), 2).as("ipman_3m_change_pct"),
        rsnap(yoy(col("ipman"), col("ipman_6m_ago")), 2).as("ipman_6m_change_pct"),
        when(abs(col("confidence_sentiment_divergence")) > 1.5, "high")
          .when(abs(col("confidence_sentiment_divergence")) > 1.0, "medium")
          .otherwise("normal").as("divergence_status"),
        when(col("ipman_yoy_pct") < -5, "high")
          .when(col("ipman_yoy_pct") < -2, "medium")
          .when(col("ipman_yoy_pct") > 5, "low")
          .otherwise("normal").as("mfg_production_status"),
        when(col("new_orders_yoy_pct") < -5 && col("prices_yoy_pct") > 5, "high")
          .when(col("new_orders_yoy_pct") < 0 && col("prices_yoy_pct") > 3, "medium")
          .otherwise("normal").as("stagflation_status"),
        when(col("new_orders_yoy_pct") < -10, "high")
          .when(col("new_orders_yoy_pct") < -5 && col("new_orders_prev").isNotNull &&
            col("new_orders") < col("new_orders_prev"), "medium")
          .otherwise("normal").as("new_orders_status"),
        when(col("new_orders_yoy_pct") < -5 && col("inventories_yoy_pct") > 5, "high")
          .when(col("new_orders_yoy_pct") < 0 && col("inventories_yoy_pct") > 0, "medium")
          .when(col("new_orders_yoy_pct") < col("inventories_yoy_pct"), "low")
          .otherwise("normal").as("orders_inventories_status"))
  }

  private val sentimentSql: String = s"""
    WITH ${stgFredSql(Seq("UMCSENT", "CSCICP03USM665S", "IPMAN", "NEWORDER", "PCUOMFG", "MANEMP", "MNFCTRMPCIMSA"))},
    consumer_sentiment AS (${mMaxSql("UMCSENT", "umcsent")}),
    consumer_confidence AS (${mMaxSql("CSCICP03USM665S", "confidence")}),
    mfg_production AS (${mMaxSql("IPMAN", "ipman")}),
    mfg_new_orders AS (${mMaxSql("NEWORDER", "new_orders")}),
    mfg_prices AS (${mMaxSql("PCUOMFG", "prices")}),
    mfg_employment AS (${mMaxSql("MANEMP", "employment")}),
    mfg_inventories AS (${mMaxSql("MNFCTRMPCIMSA", "inventories")}),
    combined AS (
      SELECT COALESCE(cs.month_date, cc.month_date, mp.month_date) AS date,
        cs.umcsent, cc.confidence, mp.ipman, mo.new_orders, mpr.prices,
        me.employment, mi.inventories
      FROM consumer_sentiment AS cs
      FULL OUTER JOIN consumer_confidence AS cc ON cs.month_date = cc.month_date
      FULL OUTER JOIN mfg_production AS mp
        ON COALESCE(cs.month_date, cc.month_date) = mp.month_date
      FULL OUTER JOIN mfg_new_orders AS mo
        ON COALESCE(cs.month_date, cc.month_date, mp.month_date) = mo.month_date
      FULL OUTER JOIN mfg_prices AS mpr
        ON COALESCE(cs.month_date, cc.month_date, mp.month_date, mo.month_date) = mpr.month_date
      FULL OUTER JOIN mfg_employment AS me
        ON COALESCE(cs.month_date, cc.month_date, mp.month_date, mo.month_date, mpr.month_date) = me.month_date
      FULL OUTER JOIN mfg_inventories AS mi
        ON COALESCE(cs.month_date, cc.month_date, mp.month_date, mo.month_date, mpr.month_date, me.month_date) = mi.month_date
    ),
    with_stats AS (
      SELECT *,
        CAST(SUM(CAST(umcsent AS DECIMAL(18,6))) OVER f24 AS DOUBLE) / COUNT(umcsent) OVER f24 AS umcsent_24m_avg,
        STDDEV_SAMP(umcsent) OVER f24 AS umcsent_24m_std,
        CAST(SUM(CAST(confidence AS DECIMAL(18,6))) OVER f24 AS DOUBLE) / COUNT(confidence) OVER f24 AS confidence_24m_avg,
        STDDEV_SAMP(confidence) OVER f24 AS confidence_24m_std,
        LAG(ipman, 12) OVER (ORDER BY date) AS ipman_12m_ago,
        LAG(ipman, 3) OVER (ORDER BY date) AS ipman_3m_ago,
        LAG(ipman, 6) OVER (ORDER BY date) AS ipman_6m_ago,
        LAG(new_orders, 12) OVER (ORDER BY date) AS new_orders_12m_ago,
        LAG(new_orders, 1) OVER (ORDER BY date) AS new_orders_prev,
        LAG(prices, 12) OVER (ORDER BY date) AS prices_12m_ago,
        LAG(inventories, 12) OVER (ORDER BY date) AS inventories_12m_ago
      FROM combined
      WINDOW f24 AS (ORDER BY date ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ),
    with_yoy AS (
      SELECT *,
        ${oSnap("100.0 * (ipman - ipman_12m_ago) / NULLIF(ipman_12m_ago, 0)", 2)} AS ipman_yoy_pct,
        ${oSnap("100.0 * (new_orders - new_orders_12m_ago) / NULLIF(new_orders_12m_ago, 0)", 2)} AS new_orders_yoy_pct,
        ${oSnap("100.0 * (prices - prices_12m_ago) / NULLIF(prices_12m_ago, 0)", 2)} AS prices_yoy_pct,
        ${oSnap("100.0 * (inventories - inventories_12m_ago) / NULLIF(inventories_12m_ago, 0)", 2)} AS inventories_yoy_pct,
        ${oSnap("(umcsent - umcsent_24m_avg) / NULLIF(umcsent_24m_std, 0)", 2)} AS umcsent_zscore,
        ${oSnap("(confidence - confidence_24m_avg) / NULLIF(confidence_24m_std, 0)", 2)} AS confidence_zscore,
        ${oSnap(
      "((confidence - confidence_24m_avg) / NULLIF(confidence_24m_std, 0)) - ((umcsent - umcsent_24m_avg) / NULLIF(umcsent_24m_std, 0))",
      2)} AS confidence_sentiment_divergence
      FROM with_stats
    )
    SELECT date, umcsent, confidence, ipman, new_orders,
      prices AS mfg_prices, employment AS mfg_employment, inventories AS mfg_inventories,
      umcsent_zscore, confidence_zscore, confidence_sentiment_divergence,
      ipman_yoy_pct, new_orders_yoy_pct, prices_yoy_pct, inventories_yoy_pct,
      ${oSnap("100.0 * (ipman - ipman_3m_ago) / NULLIF(ipman_3m_ago, 0)", 2)} AS ipman_3m_change_pct,
      ${oSnap("100.0 * (ipman - ipman_6m_ago) / NULLIF(ipman_6m_ago, 0)", 2)} AS ipman_6m_change_pct,
      CASE WHEN ABS(confidence_sentiment_divergence) > 1.5 THEN 'high'
           WHEN ABS(confidence_sentiment_divergence) > 1.0 THEN 'medium'
           ELSE 'normal' END AS divergence_status,
      CASE WHEN ipman_yoy_pct < -5 THEN 'high'
           WHEN ipman_yoy_pct < -2 THEN 'medium'
           WHEN ipman_yoy_pct > 5 THEN 'low'
           ELSE 'normal' END AS mfg_production_status,
      CASE WHEN new_orders_yoy_pct < -5 AND prices_yoy_pct > 5 THEN 'high'
           WHEN new_orders_yoy_pct < 0 AND prices_yoy_pct > 3 THEN 'medium'
           ELSE 'normal' END AS stagflation_status,
      CASE WHEN new_orders_yoy_pct < -10 THEN 'high'
           WHEN new_orders_yoy_pct < -5 AND new_orders_prev IS NOT NULL AND new_orders < new_orders_prev THEN 'medium'
           ELSE 'normal' END AS new_orders_status,
      CASE WHEN new_orders_yoy_pct < -5 AND inventories_yoy_pct > 5 THEN 'high'
           WHEN new_orders_yoy_pct < 0 AND inventories_yoy_pct > 0 THEN 'medium'
           WHEN new_orders_yoy_pct < inventories_yoy_pct THEN 'low'
           ELSE 'normal' END AS orders_inventories_status
    FROM with_yoy
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_housing_signals", housingSignals, Some(housingSql)),
    QueryDef("q_trade_signals", tradeSignals, Some(tradeSql)),
    QueryDef("q_sentiment_signals", sentimentSignals, Some(sentimentSql))
  )
}
