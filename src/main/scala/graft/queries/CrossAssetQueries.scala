package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.models.PriceBars
import graft.queries.QueryDef.{davgOver, r4}
import graft.runtime.{Materialized, Tables}

/** The cross-asset signal family part 1 (SURVEY §2.M; refs
  * dbt_project/models/signals/factor_signals.sql and
  * int_cross_asset_{breadth,confirmation,risk_confirmation}_signals
  * .sql): ETF-ratio trend signals (value/growth, small/large, equal/
  * cap-weight, defensive, AUD-risk, semis), Dow-theory non-confirmation
  * flags, and their 50/200-day SMA context.
  *
  * Staging: one symbol-price table maps `l_suppkey % 13` onto the
  * reference's ETF universe (SPY/IWM/RSP/DIA/IYT/SOXX/IWD/IWF/XLP/XLY/
  * FXA/HYG/GOVT) with adj_close = exact round-4 daily mean — the
  * reference's stg_major_indices / stg_us_sectors / stg_currency /
  * stg_fixed_income collapse to symbol slices of it.
  *
  * `as_of_date` parameterization: every entry point takes the dbt
  * var('as_of_date') as an Option — None is the reference's
  * CURRENT_DATE() default (replaced by the corpus max ship date),
  * Some("yyyy-mm-dd") pins the anchor like `--vars as_of_date:...`.
  *
  * Parity: SMAs of round-4 closes are decimal-exact and ship raw; SMAs
  * and CORRs of arbitrary ratio values are order-sensitive across
  * engines and ship round-4 on both sides (documented quantization,
  * same convention as the window/corr operator queries). Trend flags
  * compare raw values — elementwise IEEE over bit-identical inputs.
  */
object CrossAssetQueries {

  val Symbols: Seq[String] = Seq("SPY", "IWM", "RSP", "DIA", "IYT", "SOXX",
    "IWD", "IWF", "XLP", "XLY", "FXA", "HYG", "GOVT")
  private val symbols = PriceBars.named(col("l_suppkey") % 13, "l_suppkey % 13", Symbols)

  /** Symbol-price staging: (symbol, date, adj_close). The round-4 daily
    * mean is an int-ratio quotient (decimal sum / count) that can land
    * on an exact rounding half — staged through the exact-decimal
    * division pair ([[QueryDef.rdiv]]/[[QueryDef.oDivRound]]) because
    * these values ship RAW in several outputs. */
  def stgPrices(s: SparkSession, dir: String): DataFrame =
    Materialized(s, dir, "stg_cross_asset_prices") {
      // materialized once per session: every symPrices slice (13+ per
      // divergences run) reads the one cached aggregate instead of
      // re-scanning the fact table per symbol
      Tables(s, dir).lineitem
        .groupBy(symbols.col.as("symbol"), to_date(col("l_shipdate")).as("date"))
        .agg(QueryDef.rdiv(
          sum(col("l_extendedprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("adj_close"))
    }

  val stgPricesSql: String = {
    s"""
    prices AS (
      SELECT ${symbols.sql} AS symbol,
             CAST(l_shipdate AS DATE) AS date,
             ${QueryDef.oDivRound(
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(*)", 4)} AS adj_close
      FROM lineitem GROUP BY 1, 2
    )"""
  }

  /** as_of anchor: the dbt var or the corpus max ship date. The
    * None-case fact scan is materialized once per session — every
    * symPrices slice broadcasts this 1-row frame, and without the memo
    * each slice re-ran the max() pass over the fact table. */
  def asOfFrame(s: SparkSession, dir: String, asOf: Option[String]): DataFrame =
    asOf match {
      case Some(d) => s.range(1).select(lit(d).cast("date").as("__asof"))
      case None =>
        Materialized(s, dir, "asof_max_shipdate") {
          Tables(s, dir).lineitem.agg(max(to_date(col("l_shipdate"))).as("__asof"))
        }
    }

  def asOfSql(asOf: Option[String]): String =
    asOf.map(d => s"DATE '$d'")
      .getOrElse("(SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)")

  /** One symbol's (date, adj_close) within the trailing 3y window. */
  def symPrices(s: SparkSession, dir: String, asOf: Option[String],
      symbol: String, dcol: String, vcol: String): DataFrame =
    stgPrices(s, dir)
      .filter(col("symbol") === symbol && col("adj_close").isNotNull)
      .crossJoin(broadcast(asOfFrame(s, dir, asOf)))
      .filter(col("date") >= add_months(col("__asof"), -36))
      .select(col("date").as(dcol), col("adj_close").as(vcol))

  def symPricesSql(asOf: Option[String], symbol: String, vcol: String): String =
    s"""SELECT date, adj_close AS $vcol FROM prices
        WHERE symbol = '$symbol' AND adj_close IS NOT NULL
          AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH"""

  /** Oracle mirror of a decimal-exact SMA (`davgOver` over the trailing n-row frame). */
  def exSmaSql(x: String, ord: String, n: Int): String =
    s"""CAST(SUM(CAST($x AS DECIMAL(18,6))) OVER
        (ORDER BY $ord ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS DOUBLE)
        / COUNT($x) OVER
        (ORDER BY $ord ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"""

  /** round-4 SMA of an arbitrary-double ratio (order-portable form). */
  def r4Sma(c: Column, w: WindowSpec, n: Int): Column =
    r4(avg(c).over(w.rowsBetween(-(n - 1), 0)))

  def r4SmaSql(x: String, ord: String, n: Int): String =
    s"""ROUND(AVG($x) OVER
        (ORDER BY $ord ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW), 4) + 0.0"""

  // ------------------------------------------------------------------
  // factor_signals (ref signals/factor_signals.sql, 124 LoC)
  // ------------------------------------------------------------------

  def factorSignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val iwd = symPrices(s, dir, asOf, "IWD", "iwd_d", "iwd_close")
    val iwf = symPrices(s, dir, asOf, "IWF", "iwf_d", "iwf_close")
    val iwm = symPrices(s, dir, asOf, "IWM", "iwm_d", "iwm_close")
    val spy = symPrices(s, dir, asOf, "SPY", "spy_d", "spy_close")

    val wv = Window.orderBy(col("vg_d"))
    val vg = iwd.join(broadcast(iwf), col("iwd_d") === col("iwf_d"))
      .select(col("iwd_d").as("vg_d"), col("iwd_close"), col("iwf_close"),
        when(col("iwf_close") > 0, col("iwd_close") / col("iwf_close")).as("iwd_iwf_ratio"))
      .select(col("vg_d"), col("iwd_close"), col("iwf_close"), col("iwd_iwf_ratio"),
        r4Sma(col("iwd_iwf_ratio"), wv, 50).as("iwd_iwf_sma_50"),
        r4Sma(col("iwd_iwf_ratio"), wv, 200).as("iwd_iwf_sma_200"))

    val ws = Window.orderBy(col("sl_d"))
    val sl = spy.join(broadcast(iwm), col("spy_d") === col("iwm_d"))
      .select(col("spy_d").as("sl_d"),
        when(col("spy_close") > 0, col("iwm_close") / col("spy_close")).as("iwm_spy_ratio"))
      .select(col("sl_d"), col("iwm_spy_ratio"),
        r4Sma(col("iwm_spy_ratio"), ws, 50).as("iwm_spy_sma_50"),
        r4Sma(col("iwm_spy_ratio"), ws, 200).as("iwm_spy_sma_200"))

    vg.join(broadcast(sl), col("vg_d") === col("sl_d"), "left")
      .select(col("vg_d").as("date"), col("iwd_close"), col("iwf_close"),
        col("iwd_iwf_ratio"), col("iwd_iwf_sma_50"), col("iwd_iwf_sma_200"),
        col("iwm_spy_ratio"), col("iwm_spy_sma_50"), col("iwm_spy_sma_200"))
  }

  def factorSql(asOf: Option[String]): String = s"""
    WITH $stgPricesSql,
    value_growth_ratio AS (
      SELECT iwd.date, iwd.iwd_close, iwf.iwf_close,
        CASE WHEN iwf.iwf_close > 0 THEN iwd.iwd_close / iwf.iwf_close END AS iwd_iwf_ratio
      FROM (${symPricesSql(asOf, "IWD", "iwd_close")}) iwd
      INNER JOIN (${symPricesSql(asOf, "IWF", "iwf_close")}) iwf ON iwd.date = iwf.date
    ),
    value_growth_indicators AS (
      SELECT date, iwd_close, iwf_close, iwd_iwf_ratio,
        ${r4SmaSql("iwd_iwf_ratio", "date", 50)} AS iwd_iwf_sma_50,
        ${r4SmaSql("iwd_iwf_ratio", "date", 200)} AS iwd_iwf_sma_200
      FROM value_growth_ratio
    ),
    small_large_ratio AS (
      SELECT s.date,
        CASE WHEN s.spy_close > 0 THEN i.iwm_close / s.spy_close END AS iwm_spy_ratio
      FROM (${symPricesSql(asOf, "SPY", "spy_close")}) s
      INNER JOIN (${symPricesSql(asOf, "IWM", "iwm_close")}) i ON s.date = i.date
    ),
    small_large_indicators AS (
      SELECT date, iwm_spy_ratio,
        ${r4SmaSql("iwm_spy_ratio", "date", 50)} AS iwm_spy_sma_50,
        ${r4SmaSql("iwm_spy_ratio", "date", 200)} AS iwm_spy_sma_200
      FROM small_large_ratio
    )
    SELECT vg.date, vg.iwd_close, vg.iwf_close, vg.iwd_iwf_ratio,
      vg.iwd_iwf_sma_50, vg.iwd_iwf_sma_200,
      sl.iwm_spy_ratio, sl.iwm_spy_sma_50, sl.iwm_spy_sma_200
    FROM value_growth_indicators vg
    LEFT JOIN small_large_indicators sl ON vg.date = sl.date
  """

  // ------------------------------------------------------------------
  // int_cross_asset_breadth_signals (ref, 61 LoC)
  // ------------------------------------------------------------------

  def breadthSignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val spy = symPrices(s, dir, asOf, "SPY", "spy_d", "spy_close")

    def ratioInd(symbol: String, rname: String): DataFrame = {
      val o = symPrices(s, dir, asOf, symbol, "o_d", "o_close")
      val w = Window.orderBy(col("r_d"))
      spy.join(broadcast(o), col("spy_d") === col("o_d"))
        .select(col("spy_d").as("r_d"),
          when(col("spy_close") =!= 0, col("o_close") / col("spy_close"))
            .as(rname))
        .select(col("r_d"), col(rname),
          r4Sma(col(rname), w, 50).as(s"${rname.stripSuffix("_ratio")}_sma_50"),
          r4Sma(col(rname), w, 200).as(s"${rname.stripSuffix("_ratio")}_sma_200"))
    }

    val i = ratioInd("IWM", "iwm_spy_ratio")
      .withColumnRenamed("r_d", "i_d")
    val r = ratioInd("RSP", "rsp_spy_ratio")

    i.join(broadcast(r), col("i_d") === col("r_d"), "left")
      .select(col("i_d").as("date"), col("iwm_spy_ratio"), col("iwm_spy_sma_50"),
        col("iwm_spy_sma_200"), col("rsp_spy_ratio"), col("rsp_spy_sma_50"),
        col("rsp_spy_sma_200"))
  }

  def breadthCtesSql(asOf: Option[String]): String = s"""
    iwm_spy_indicators AS (
      SELECT date, iwm_spy_ratio,
        ${r4SmaSql("iwm_spy_ratio", "date", 50)} AS iwm_spy_sma_50,
        ${r4SmaSql("iwm_spy_ratio", "date", 200)} AS iwm_spy_sma_200
      FROM (
        SELECT s.date,
          CASE WHEN s.spy_close != 0 THEN i.iwm_close / s.spy_close END AS iwm_spy_ratio
        FROM (${symPricesSql(asOf, "SPY", "spy_close")}) s
        INNER JOIN (${symPricesSql(asOf, "IWM", "iwm_close")}) i ON s.date = i.date
      )
    ),
    rsp_spy_indicators AS (
      SELECT date, rsp_spy_ratio,
        ${r4SmaSql("rsp_spy_ratio", "date", 50)} AS rsp_spy_sma_50,
        ${r4SmaSql("rsp_spy_ratio", "date", 200)} AS rsp_spy_sma_200
      FROM (
        SELECT s.date,
          CASE WHEN s.spy_close != 0 THEN r.rsp_close / s.spy_close END AS rsp_spy_ratio
        FROM (${symPricesSql(asOf, "SPY", "spy_close")}) s
        INNER JOIN (${symPricesSql(asOf, "RSP", "rsp_close")}) r ON s.date = r.date
      )
    ),
    breadth AS (
      SELECT i.date, i.iwm_spy_ratio, i.iwm_spy_sma_50, i.iwm_spy_sma_200,
        r.rsp_spy_ratio, r.rsp_spy_sma_50, r.rsp_spy_sma_200
      FROM iwm_spy_indicators AS i
      LEFT JOIN rsp_spy_indicators AS r ON i.date = r.date
    )"""

  def breadthSql(asOf: Option[String]): String = s"""
    WITH $stgPricesSql,
    ${breadthCtesSql(asOf)}
    SELECT * FROM breadth
  """

  // ------------------------------------------------------------------
  // int_cross_asset_confirmation_signals (ref, 67 LoC)
  // ------------------------------------------------------------------

  def confirmationSignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val wsp = Window.orderBy(col("spy_d"))
    val spy = symPrices(s, dir, asOf, "SPY", "spy_d", "spy_close")
      .withColumn("spy_high_252d",
        max(col("spy_close")).over(wsp.rowsBetween(-251, 0)))

    val dia = symPrices(s, dir, asOf, "DIA", "dia_d", "dia_close")
    val iyt = symPrices(s, dir, asOf, "IYT", "iyt_d", "iyt_close")
    val wdow = Window.orderBy(col("dow_d"))
    val dow = dia.join(broadcast(iyt), col("dia_d") === col("iyt_d"))
      .select(col("dia_d").as("dow_d"), col("dia_close"), col("iyt_close"))
      .select(col("dow_d"), col("dia_close"), col("iyt_close"),
        max(col("dia_close")).over(wdow.rowsBetween(-251, 0)).as("dia_high_252d"),
        max(col("iyt_close")).over(wdow.rowsBetween(-251, 0)).as("iyt_high_252d"))

    val soxx = symPrices(s, dir, asOf, "SOXX", "sx_d", "sx_close")
    val wsx  = Window.orderBy(col("sxr_d"))
    val soxxInd = spy.select(col("spy_d").as("__sd"), col("spy_close").as("__sc"))
      .join(broadcast(soxx), col("__sd") === col("sx_d"))
      .select(col("__sd").as("sxr_d"),
        when(col("__sc") =!= 0, col("sx_close") / col("__sc")).as("soxx_spy_ratio"))
      .select(col("sxr_d"), col("soxx_spy_ratio"),
        r4Sma(col("soxx_spy_ratio"), wsx, 200).as("soxx_spy_sma_200"))

    spy
      .join(broadcast(dow), col("spy_d") === col("dow_d"), "left")
      .join(broadcast(soxxInd), col("spy_d") === col("sxr_d"), "left")
      .select(
        col("spy_d").as("date"), col("dia_close"), col("iyt_close"),
        col("dia_high_252d"), col("iyt_high_252d"),
        when(col("dia_close") >= col("dia_high_252d") &&
          col("iyt_close") < col("iyt_high_252d") * 0.98, 1).otherwise(0).cast("long")
          .as("dow_non_confirmation_flag"),
        col("soxx_spy_ratio"), col("soxx_spy_sma_200"),
        when(col("soxx_spy_ratio") < col("soxx_spy_sma_200") &&
          col("spy_close") >= col("spy_high_252d") * 0.98, 1).otherwise(0).cast("long")
          .as("semis_divergence_flag"))
  }

  def confirmationCtesSql(asOf: Option[String]): String = s"""
    spy_conf AS (
      SELECT date, adj_close AS spy_close,
        MAX(adj_close) OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
          AS spy_high_252d
      FROM prices WHERE symbol = 'SPY' AND adj_close IS NOT NULL
        AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
    ),
    dow_theory AS (
      SELECT d.date, d.dia_close, i.iyt_close,
        MAX(d.dia_close) OVER (ORDER BY d.date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
          AS dia_high_252d,
        MAX(i.iyt_close) OVER (ORDER BY i.date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
          AS iyt_high_252d
      FROM (${symPricesSql(asOf, "DIA", "dia_close")}) d
      INNER JOIN (${symPricesSql(asOf, "IYT", "iyt_close")}) i ON d.date = i.date
    ),
    soxx_spy_indicators AS (
      SELECT date, soxx_spy_ratio,
        ${r4SmaSql("soxx_spy_ratio", "date", 200)} AS soxx_spy_sma_200
      FROM (
        SELECT s.date,
          CASE WHEN s.spy_close != 0 THEN x.soxx_close / s.spy_close END AS soxx_spy_ratio
        FROM spy_conf s
        INNER JOIN (${symPricesSql(asOf, "SOXX", "soxx_close")}) x ON s.date = x.date
      )
    ),
    confirmation AS (
      SELECT s.date, dow.dia_close, dow.iyt_close, dow.dia_high_252d, dow.iyt_high_252d,
        CAST(CASE WHEN dow.dia_close >= dow.dia_high_252d
                   AND dow.iyt_close < dow.iyt_high_252d * 0.98 THEN 1 ELSE 0 END AS BIGINT)
          AS dow_non_confirmation_flag,
        soxx.soxx_spy_ratio, soxx.soxx_spy_sma_200,
        CAST(CASE WHEN soxx.soxx_spy_ratio < soxx.soxx_spy_sma_200
                   AND s.spy_close >= s.spy_high_252d * 0.98 THEN 1 ELSE 0 END AS BIGINT)
          AS semis_divergence_flag
      FROM spy_conf AS s
      LEFT JOIN dow_theory AS dow ON s.date = dow.date
      LEFT JOIN soxx_spy_indicators AS soxx ON s.date = soxx.date
    )"""

  def confirmationSql(asOf: Option[String]): String = s"""
    WITH $stgPricesSql,
    ${confirmationCtesSql(asOf)}
    SELECT * FROM confirmation
  """

  // ------------------------------------------------------------------
  // int_cross_asset_risk_confirmation_signals (ref, 70 LoC)
  // ------------------------------------------------------------------

  def riskConfirmationSignals(s: SparkSession, dir: String, asOf: Option[String]): DataFrame = {
    val wsp = Window.orderBy(col("spy_d"))
    val spy = symPrices(s, dir, asOf, "SPY", "spy_d", "spy_close")
      .withColumn("spy_sma_50", davgOver(col("spy_close"), wsp.rowsBetween(-49, 0)))

    val xlp = symPrices(s, dir, asOf, "XLP", "xlp_d", "xlp_close")
    val xly = symPrices(s, dir, asOf, "XLY", "xly_d", "xly_close")
    val wdf = Window.orderBy(col("df_d"))
    val defensive = xlp.join(broadcast(xly), col("xlp_d") === col("xly_d"))
      .select(col("xlp_d").as("df_d"),
        when(col("xly_close") =!= 0, col("xlp_close") / col("xly_close"))
          .as("xlp_xly_ratio"))
      .select(col("df_d"), col("xlp_xly_ratio"),
        r4Sma(col("xlp_xly_ratio"), wdf, 50).as("xlp_xly_sma_50"),
        r4Sma(col("xlp_xly_ratio"), wdf, 200).as("xlp_xly_sma_200"))

    val fxa = symPrices(s, dir, asOf, "FXA", "fxa_d", "fxa_close")
    val wfx = Window.orderBy(col("fx_d"))
    val fxaInd = spy.select(col("spy_d").as("__sd"), col("spy_close").as("__sc"))
      .join(broadcast(fxa), col("__sd") === col("fxa_d"))
      .select(col("__sd").as("fx_d"),
        when(col("__sc") =!= 0, col("fxa_close") / col("__sc")).as("fxa_spy_ratio"))
      .select(col("fx_d"), col("fxa_spy_ratio"),
        r4Sma(col("fxa_spy_ratio"), wfx, 50).as("fxa_spy_sma_50"))

    spy
      .join(broadcast(defensive), col("spy_d") === col("df_d"), "left")
      .join(broadcast(fxaInd), col("spy_d") === col("fx_d"), "left")
      .select(
        col("spy_d").as("date"), col("xlp_xly_ratio"), col("xlp_xly_sma_50"),
        col("xlp_xly_sma_200"),
        when(col("xlp_xly_ratio") > col("xlp_xly_sma_50") &&
          col("xlp_xly_sma_50") > col("xlp_xly_sma_200"), 1).otherwise(0).cast("long")
          .as("defensive_ratio_uptrend_flag"),
        col("fxa_spy_ratio"), col("fxa_spy_sma_50"),
        when(col("fxa_spy_ratio") < col("fxa_spy_sma_50") &&
          col("spy_close") > col("spy_sma_50"), 1).otherwise(0).cast("long")
          .as("aud_risk_divergence_flag"))
  }

  def riskCtesSql(asOf: Option[String]): String = s"""
    spy_risk AS (
      SELECT date, adj_close AS spy_close,
        ${exSmaSql("adj_close", "date", 50)} AS spy_sma_50
      FROM prices WHERE symbol = 'SPY' AND adj_close IS NOT NULL
        AND date >= ${asOfSql(asOf)} - INTERVAL 36 MONTH
    ),
    defensive_indicators AS (
      SELECT date, xlp_xly_ratio,
        ${r4SmaSql("xlp_xly_ratio", "date", 50)} AS xlp_xly_sma_50,
        ${r4SmaSql("xlp_xly_ratio", "date", 200)} AS xlp_xly_sma_200
      FROM (
        SELECT xlp.date,
          CASE WHEN xly.xly_close != 0 THEN xlp.xlp_close / xly.xly_close END AS xlp_xly_ratio
        FROM (${symPricesSql(asOf, "XLP", "xlp_close")}) xlp
        INNER JOIN (${symPricesSql(asOf, "XLY", "xly_close")}) xly ON xlp.date = xly.date
      )
    ),
    fxa_spy_indicators AS (
      SELECT date, fxa_spy_ratio,
        ${r4SmaSql("fxa_spy_ratio", "date", 50)} AS fxa_spy_sma_50
      FROM (
        SELECT s.date,
          CASE WHEN s.spy_close != 0 THEN f.fxa_close / s.spy_close END AS fxa_spy_ratio
        FROM spy_risk s
        INNER JOIN (${symPricesSql(asOf, "FXA", "fxa_close")}) f ON s.date = f.date
      )
    ),
    risk AS (
      SELECT s.date, d.xlp_xly_ratio, d.xlp_xly_sma_50, d.xlp_xly_sma_200,
        CAST(CASE WHEN d.xlp_xly_ratio > d.xlp_xly_sma_50
                   AND d.xlp_xly_sma_50 > d.xlp_xly_sma_200 THEN 1 ELSE 0 END AS BIGINT)
          AS defensive_ratio_uptrend_flag,
        f.fxa_spy_ratio, f.fxa_spy_sma_50,
        CAST(CASE WHEN f.fxa_spy_ratio < f.fxa_spy_sma_50
                   AND s.spy_close > s.spy_sma_50 THEN 1 ELSE 0 END AS BIGINT)
          AS aud_risk_divergence_flag
      FROM spy_risk AS s
      LEFT JOIN defensive_indicators AS d ON s.date = d.date
      LEFT JOIN fxa_spy_indicators AS f ON s.date = f.date
    )"""

  def riskSql(asOf: Option[String]): String = s"""
    WITH $stgPricesSql,
    ${riskCtesSql(asOf)}
    SELECT * FROM risk
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_factor_signals", (s, d) => factorSignals(s, d, None), Some(factorSql(None))),
    QueryDef("q_cross_asset_breadth_signals",
      (s, d) => breadthSignals(s, d, None), Some(breadthSql(None))),
    QueryDef("q_cross_asset_confirmation_signals",
      (s, d) => confirmationSignals(s, d, None), Some(confirmationSql(None))),
    QueryDef("q_cross_asset_risk_confirmation_signals",
      (s, d) => riskConfirmationSignals(s, d, None), Some(riskSql(None)))
  )
}
