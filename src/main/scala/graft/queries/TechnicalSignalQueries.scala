package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.WindowOps
import graft.queries.QueryDef.{oDivRound, rdiv}
import graft.runtime.Tables

/** The FULL 14-entry technical signal registry + latest-bar setups view
  * (SURVEY §2.J; refs dbt_project/models/signals/
  * technical_signal_events.sql:30-261 and technical_current_setups
  * .sql): golden/death cross, price x SMA200 up/down, RSI oversold
  * recovery / overbought reversal, MACD bullish/bearish cross,
  * stochastic oversold/overbought cross, Bollinger squeeze breakout
  * up/down, Donchian breakout up/down — each with the reference's
  * setup/trigger predicates, signal_value expression, and the
  * setup → triggered → active → completed/expired state machine
  * (max_holding_bars = 21), plus volume confirmation.
  *
  * Every setup/trigger/value expression lives ONCE as a portable SQL
  * string (SAFE_DIVIDE spelled as `/ NULLIF`), evaluated by Spark via
  * `expr()` and embedded verbatim in the DuckDB oracle — the registry
  * itself cannot drift between engines.
  *
  * The indicator frame replicates technical_indicator_daily's OUTPUT
  * quantization (per-column ROUND + warmup gates) before the registry
  * reads it, exactly as the reference's model boundary does — which is
  * also what makes the cross comparisons engine-portable.
  *
  * Scale shape: one (symbol) window family for all indicators, one
  * explode for the 14 signals (no 14-way self-union of the fact), and
  * the state machine is one more window family on (symbol, signal) —
  * three exchanges total at any data size.
  */
object TechnicalSignalQueries {

  private val MaxHoldingBars = 21

  final case class Signal(name: String, family: String, side: String,
      setup: String, trigger: String, value: String)

  /** ref technical_signal_events.sql:30-143, SAFE_DIVIDE → `/ NULLIF`. */
  val Registry: Seq[Signal] = Seq(
    Signal("golden_cross", "sma", "bullish",
      "sma_50 < sma_200 AND (sma_200 - sma_50) / NULLIF(sma_200, 0) < 0.01",
      "sma_50 > sma_200 AND prev_sma_50 <= prev_sma_200",
      "(sma_50 - sma_200) / NULLIF(sma_200, 0)"),
    Signal("death_cross", "sma", "bearish",
      "sma_50 > sma_200 AND (sma_50 - sma_200) / NULLIF(sma_200, 0) < 0.01",
      "sma_50 < sma_200 AND prev_sma_50 >= prev_sma_200",
      "(sma_50 - sma_200) / NULLIF(sma_200, 0)"),
    Signal("price_cross_sma200_up", "sma", "bullish",
      "close < sma_200 AND (sma_200 - close) / NULLIF(sma_200, 0) < 0.02",
      "close > sma_200 AND prev_close <= prev_sma_200",
      "(close - sma_200) / NULLIF(sma_200, 0)"),
    Signal("price_cross_sma200_down", "sma", "bearish",
      "close > sma_200 AND (close - sma_200) / NULLIF(sma_200, 0) < 0.02",
      "close < sma_200 AND prev_close >= prev_sma_200",
      "(close - sma_200) / NULLIF(sma_200, 0)"),
    Signal("rsi_oversold_recovery", "rsi", "bullish",
      "rsi_14 < 30",
      "rsi_14 >= 30 AND prev_rsi_14 < 30",
      "rsi_14"),
    Signal("rsi_overbought_reversal", "rsi", "bearish",
      "rsi_14 > 70",
      "rsi_14 <= 70 AND prev_rsi_14 > 70",
      "rsi_14"),
    Signal("macd_bullish_cross", "macd", "bullish",
      "macd_line < macd_signal AND macd_histogram > prev_macd_histogram",
      "macd_line > macd_signal AND prev_macd_line <= prev_macd_signal",
      "macd_histogram"),
    Signal("macd_bearish_cross", "macd", "bearish",
      "macd_line > macd_signal AND macd_histogram < prev_macd_histogram",
      "macd_line < macd_signal AND prev_macd_line >= prev_macd_signal",
      "macd_histogram"),
    Signal("stoch_oversold_cross", "stochastic", "bullish",
      "stoch_k_14 < 20",
      "prev_stoch_k_14 < 20 AND stoch_k_14 > stoch_d_3 AND prev_stoch_k_14 <= prev_stoch_d_3",
      "stoch_k_14"),
    Signal("stoch_overbought_cross", "stochastic", "bearish",
      "stoch_k_14 > 80",
      "prev_stoch_k_14 > 80 AND stoch_k_14 < stoch_d_3 AND prev_stoch_k_14 >= prev_stoch_d_3",
      "stoch_k_14"),
    Signal("bollinger_squeeze_breakout_up", "bollinger", "bullish",
      "bb_bandwidth_pctile_126 <= 0.10 AND close <= bb_upper_20",
      "prev_bb_bandwidth_pctile_126 <= 0.10 AND close > bb_upper_20",
      "bb_bandwidth_pctile_126"),
    Signal("bollinger_squeeze_breakout_down", "bollinger", "bearish",
      "bb_bandwidth_pctile_126 <= 0.10 AND close >= bb_lower_20",
      "prev_bb_bandwidth_pctile_126 <= 0.10 AND close < bb_lower_20",
      "bb_bandwidth_pctile_126"),
    Signal("donchian_breakout_up", "donchian", "bullish",
      "close <= donchian_high_20 AND (donchian_high_20 - close) / NULLIF(donchian_high_20, 0) < 0.01",
      "close > donchian_high_20",
      "(close - donchian_high_20) / NULLIF(donchian_high_20, 0)"),
    Signal("donchian_breakout_down", "donchian", "bearish",
      "close >= donchian_low_20 AND (close - donchian_low_20) / NULLIF(donchian_low_20, 0) < 0.01",
      "close < donchian_low_20",
      "(close - donchian_low_20) / NULLIF(donchian_low_20, 0)")
  )

  // ------------------------------------------------------------------
  // Quantized indicator frame (mirrors technical_indicator_daily's
  // output rounds + warmup gates for the columns the registry reads)
  // ------------------------------------------------------------------

  private def indicators(s: SparkSession, dir: String): DataFrame = {
    val b = ModelQueries.bars(s, dir)
    val w = Window.partitionBy(col("symbol")).orderBy(col("d"))
    def tw(n: Int)    = w.rowsBetween(-(n - 1), 0)
    def prior(n: Int) = w.rowsBetween(-n, -1)
    def smaDec(c: Column, n: Int): Column =
      sum(c.cast(DecimalType(18, 4))).over(tw(n))
    def gate(c: Column, minBars: Int): Column = when(col("bars") >= minBars, c)

    val alphaW = 1.0 / 14.0
    val prevClose = lag(col("close"), 1).over(w)
    val s1 = b
      .withColumn("bars", row_number().over(w).cast("long"))
      .withColumn("pos", row_number().over(w).cast("double"))
      .withColumn("gain",
        when(col("close") > prevClose, col("close") - prevClose)
          .otherwise(when(prevClose.isNotNull, 0.0)))
      .withColumn("loss",
        when(col("close") < prevClose, prevClose - col("close"))
          .otherwise(when(prevClose.isNotNull, 0.0)))
    val s2 = s1.select(
      col("symbol"), col("d"), col("close"), col("volume"), col("bars"),
      gate(rdiv(smaDec(col("close"), 50), count(col("close")).over(tw(50)), 4), 50)
        .as("sma_50"),
      gate(rdiv(smaDec(col("close"), 200), count(col("close")).over(tw(200)), 4), 200)
        .as("sma_200"),
      WindowOps.ewm(col("gain"), col("pos"), w, 60, alphaW).as("avg_gain"),
      WindowOps.ewm(col("loss"), col("pos"), w, 60, alphaW).as("avg_loss"),
      WindowOps.ewm(col("close"), col("pos"), w, 60, 2.0 / 13.0).as("ema12"),
      WindowOps.ewm(col("close"), col("pos"), w, 60, 2.0 / 27.0).as("ema26"),
      (sum(col("close").cast(DecimalType(18, 4))).over(tw(20)).cast("double") /
        count(col("close")).over(tw(20))).as("bb_mid_raw"),
      stddev_samp(col("close")).over(tw(20)).as("std20"),
      min(col("low")).over(tw(14)).as("low14"),
      max(col("high")).over(tw(14)).as("high14"),
      gate(rdiv(
        max(col("high")).over(prior(20)).cast(DecimalType(18, 4)), lit(1), 4), 21)
        .as("donchian_high_20"),
      gate(rdiv(
        min(col("low")).over(prior(20)).cast(DecimalType(18, 4)), lit(1), 4), 21)
        .as("donchian_low_20"),
      (sum(col("volume").cast(DecimalType(18, 4))).over(tw(20)).cast("double") /
        count(col("volume")).over(tw(20))).as("vol_sma20_raw"),
      col("pos"))
    val s3 = s2
      .withColumn("rsi_raw",
        when(col("avg_loss") === 0.0 && col("avg_gain").isNotNull, 100.0)
          .otherwise(lit(100.0) -
            lit(100.0) / (lit(1.0) + col("avg_gain") / when(col("avg_loss") =!= 0, col("avg_loss")))))
      .withColumn("macd_raw", col("ema12") - col("ema26"))
      .withColumn("macd_sig_raw",
        WindowOps.ewm(col("macd_raw"), col("pos"), w, 40, 2.0 / 10.0))
      .withColumn("stoch_k_raw",
        lit(100.0) * (col("close") - col("low14")) /
          when(col("high14") - col("low14") =!= 0, col("high14") - col("low14")))
      .withColumn("bw_raw",
        (lit(4.0) * col("std20")) / when(col("bb_mid_raw") =!= 0, col("bb_mid_raw")))
    val s4 = s3
      .withColumn("stoch_d_raw", avg(col("stoch_k_raw")).over(tw(3)))
      .withColumn("bw_min126", min(col("bw_raw")).over(tw(126)))
      .withColumn("bw_max126", max(col("bw_raw")).over(tw(126)))
    s4.select(
      col("symbol"), col("d"), col("bars"), col("close"),
      col("sma_50"), col("sma_200"),
      gate(round(col("rsi_raw"), 2), 15).as("rsi_14"),
      gate(round(col("macd_raw"), 4), 26).as("macd_line"),
      gate(round(col("macd_sig_raw"), 4), 35).as("macd_signal"),
      gate(round(col("macd_raw") - col("macd_sig_raw"), 4), 35).as("macd_histogram"),
      gate(round(col("stoch_k_raw"), 2), 14).as("stoch_k_14"),
      gate(round(col("stoch_d_raw"), 2), 16).as("stoch_d_3"),
      gate(round(col("bb_mid_raw") + lit(2.0) * col("std20"), 4), 20).as("bb_upper_20"),
      gate(round(col("bb_mid_raw") - lit(2.0) * col("std20"), 4), 20).as("bb_lower_20"),
      gate(round((col("bw_raw") - col("bw_min126")) /
        when(col("bw_max126") - col("bw_min126") =!= 0,
          col("bw_max126") - col("bw_min126")), 4), 126)
        .as("bb_bandwidth_pctile_126"),
      col("donchian_high_20"), col("donchian_low_20"),
      gate(round(col("volume") / when(col("vol_sma20_raw") =!= 0, col("vol_sma20_raw")), 4), 20)
        .as("relative_volume"))
  }

  /** Oracle mirror of [[indicators]] (`ti` CTE; needs `bars`). */
  val indicatorsSql: String = {
    def ewmSql(x: String, decay: String, win: String): String =
      s"""(SUM($x * POW($decay, -pos)) OVER $win
         / SUM(CASE WHEN $x IS NOT NULL THEN POW($decay, -pos) END) OVER $win)"""
    s"""
    s1 AS (
      SELECT symbol, d, close, high, low, volume,
        CAST(ROW_NUMBER() OVER wsym AS BIGINT) AS bars,
        CAST(ROW_NUMBER() OVER wsym AS DOUBLE) AS pos,
        LAG(close, 1) OVER wsym AS prev_close_raw
      FROM bars
      WINDOW wsym AS (PARTITION BY symbol ORDER BY d)
    ),
    s1b AS (
      SELECT *,
        CASE WHEN close > prev_close_raw THEN close - prev_close_raw
             WHEN prev_close_raw IS NOT NULL THEN 0.0 END AS gain,
        CASE WHEN close < prev_close_raw THEN prev_close_raw - close
             WHEN prev_close_raw IS NOT NULL THEN 0.0 END AS loss
      FROM s1
    ),
    s2 AS (
      SELECT symbol, d, bars, pos, close, volume,
        CASE WHEN bars >= 50 THEN ${oDivRound(
      "CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w50 * 1000000 AS HUGEINT)",
      "COUNT(close) OVER w50", 4)} END AS sma_50,
        CASE WHEN bars >= 200 THEN ${oDivRound(
      "CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w200 * 1000000 AS HUGEINT)",
      "COUNT(close) OVER w200", 4)} END AS sma_200,
        ${ewmSql("gain", "(13.0/14.0)", "w60")} AS avg_gain,
        ${ewmSql("loss", "(13.0/14.0)", "w60")} AS avg_loss,
        ${ewmSql("close", "(11.0/13.0)", "w60")} AS ema12,
        ${ewmSql("close", "(25.0/27.0)", "w60")} AS ema26,
        CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(close) OVER w20 AS bb_mid_raw,
        STDDEV_SAMP(close) OVER w20 AS std20,
        MIN(low) OVER w14 AS low14,
        MAX(high) OVER w14 AS high14,
        CASE WHEN bars >= 21 THEN ${oDivRound(
      "CAST(CAST(MAX(high) OVER p20 AS DECIMAL(18,4)) * 1000000 AS HUGEINT)", "1", 4)} END AS donchian_high_20,
        CASE WHEN bars >= 21 THEN ${oDivRound(
      "CAST(CAST(MIN(low) OVER p20 AS DECIMAL(18,4)) * 1000000 AS HUGEINT)", "1", 4)} END AS donchian_low_20,
        CAST(SUM(CAST(volume AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(volume) OVER w20 AS vol_sma20_raw
      FROM s1b
      WINDOW
        w14 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        w20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        p20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
        w50 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
        w60 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
        w200 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
    ),
    s3 AS (
      SELECT *,
        CASE WHEN avg_loss = 0.0 AND avg_gain IS NOT NULL THEN 100.0
             ELSE 100.0 - 100.0 / (1.0 + avg_gain / NULLIF(avg_loss, 0)) END AS rsi_raw,
        ema12 - ema26 AS macd_raw,
        ${ewmSql("(ema12 - ema26)", "(8.0/10.0)", "w40")} AS macd_sig_raw,
        100.0 * (close - low14) / NULLIF(high14 - low14, 0) AS stoch_k_raw,
        (4.0 * std20) / NULLIF(bb_mid_raw, 0) AS bw_raw
      FROM s2
      WINDOW w40 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 39 PRECEDING AND CURRENT ROW)
    ),
    s4 AS (
      SELECT *,
        AVG(stoch_k_raw) OVER w3 AS stoch_d_raw,
        MIN(bw_raw) OVER w126 AS bw_min126,
        MAX(bw_raw) OVER w126 AS bw_max126
      FROM s3
      WINDOW
        w3 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        w126 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 125 PRECEDING AND CURRENT ROW)
    ),
    ti AS (
      SELECT symbol, d, bars, close, sma_50, sma_200,
        CASE WHEN bars >= 15 THEN ROUND(rsi_raw, 2) + 0.0 END AS rsi_14,
        CASE WHEN bars >= 26 THEN ROUND(macd_raw, 4) + 0.0 END AS macd_line,
        CASE WHEN bars >= 35 THEN ROUND(macd_sig_raw, 4) + 0.0 END AS macd_signal,
        CASE WHEN bars >= 35 THEN ROUND(macd_raw - macd_sig_raw, 4) + 0.0 END AS macd_histogram,
        CASE WHEN bars >= 14 THEN ROUND(stoch_k_raw, 2) + 0.0 END AS stoch_k_14,
        CASE WHEN bars >= 16 THEN ROUND(stoch_d_raw, 2) + 0.0 END AS stoch_d_3,
        CASE WHEN bars >= 20 THEN ROUND(bb_mid_raw + 2.0 * std20, 4) + 0.0 END AS bb_upper_20,
        CASE WHEN bars >= 20 THEN ROUND(bb_mid_raw - 2.0 * std20, 4) + 0.0 END AS bb_lower_20,
        CASE WHEN bars >= 126 THEN
          ROUND((bw_raw - bw_min126) / NULLIF(bw_max126 - bw_min126, 0), 4) + 0.0
        END AS bb_bandwidth_pctile_126,
        donchian_high_20, donchian_low_20,
        CASE WHEN bars >= 20 THEN ROUND(volume / NULLIF(vol_sma20_raw, 0), 4) + 0.0 END
          AS relative_volume
      FROM s4
    )"""
  }

  // ------------------------------------------------------------------
  // technical_signal_events — flagged → stated → classified
  // ------------------------------------------------------------------

  def signalEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("d"))
    val withPrev = indicators(s, dir)
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("prev_sma_50", lag(col("sma_50"), 1).over(w))
      .withColumn("prev_sma_200", lag(col("sma_200"), 1).over(w))
      .withColumn("prev_rsi_14", lag(col("rsi_14"), 1).over(w))
      .withColumn("prev_macd_line", lag(col("macd_line"), 1).over(w))
      .withColumn("prev_macd_signal", lag(col("macd_signal"), 1).over(w))
      .withColumn("prev_macd_histogram", lag(col("macd_histogram"), 1).over(w))
      .withColumn("prev_stoch_k_14", lag(col("stoch_k_14"), 1).over(w))
      .withColumn("prev_stoch_d_3", lag(col("stoch_d_3"), 1).over(w))
      .withColumn("prev_bb_bandwidth_pctile_126",
        lag(col("bb_bandwidth_pctile_126"), 1).over(w))

    val flagged = withPrev
      .select(col("*"), explode(array(Registry.map { sg =>
        struct(
          lit(sg.name).as("signal_name"),
          lit(sg.family).as("indicator_name"),
          lit(sg.side).as("signal_side"),
          coalesce(expr(sg.setup), lit(false)).as("is_setup"),
          coalesce(expr(sg.trigger), lit(false)).as("is_trigger"),
          expr(sg.value).cast("double").as("signal_value"))
      }: _*)).as("sg"))
      .select(col("symbol"), col("d"), col("bars"), col("close"), col("relative_volume"),
        col("sg.signal_name").as("signal_name"), col("sg.indicator_name").as("indicator_name"),
        col("sg.signal_side").as("signal_side"), col("sg.is_setup").as("is_setup"),
        col("sg.is_trigger").as("is_trigger"), col("sg.signal_value").as("signal_value"))

    val wSig = Window.partitionBy(col("symbol"), col("signal_name")).orderBy(col("d"))
    val cum  = wSig.rowsBetween(Window.unboundedPreceding, 0)
    val stated = flagged
      .withColumn("last_trigger_bar", max(when(col("is_trigger"), col("bars"))).over(cum))
      .withColumn("last_trigger_date", max(when(col("is_trigger"), col("d"))).over(cum))
      .withColumn("last_setup_date", max(when(col("is_setup"), col("d"))).over(cum))
      .withColumn("prev_is_setup", lag(col("is_setup"), 1).over(wSig))

    val bst = col("bars") - col("last_trigger_bar")
    stated
      .withColumn("bars_since_trigger", bst)
      .withColumn("signal_state",
        when(col("is_trigger"), "triggered")
          .when(bst.between(1, MaxHoldingBars - 1), "active")
          .when(bst === MaxHoldingBars, "completed")
          .when(col("is_setup"), "setup")
          .when(coalesce(col("prev_is_setup"), lit(false)) && !col("is_setup"), "expired"))
      .filter(col("signal_state").isNotNull)
      .select(
        col("symbol"), col("d"), col("indicator_name"), col("signal_name"),
        col("signal_side"), col("signal_state"),
        round(col("signal_value"), 6).as("signal_value"),
        col("close"), col("relative_volume"),
        coalesce(col("relative_volume") >= 1.5, lit(false)).as("volume_confirmed"),
        col("is_setup"), col("is_trigger"),
        col("last_trigger_date").as("trigger_date"),
        col("last_setup_date").as("setup_date"),
        col("bars_since_trigger").cast("long").as("bars_since_trigger"),
        lit(MaxHoldingBars).cast("long").as("max_holding_bars"))
  }

  val eventsCteSql: String = {
    val flaggedSelects = Registry.map { sg =>
      s"""SELECT symbol, d, bars, close, relative_volume,
          '${sg.name}' AS signal_name, '${sg.family}' AS indicator_name,
          '${sg.side}' AS signal_side,
          COALESCE(${sg.setup}, FALSE) AS is_setup,
          COALESCE(${sg.trigger}, FALSE) AS is_trigger,
          CAST(${sg.value} AS DOUBLE) AS signal_value
          FROM indicators"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    indicators AS (
      SELECT *,
        LAG(close, 1) OVER wsig AS prev_close,
        LAG(sma_50, 1) OVER wsig AS prev_sma_50,
        LAG(sma_200, 1) OVER wsig AS prev_sma_200,
        LAG(rsi_14, 1) OVER wsig AS prev_rsi_14,
        LAG(macd_line, 1) OVER wsig AS prev_macd_line,
        LAG(macd_signal, 1) OVER wsig AS prev_macd_signal,
        LAG(macd_histogram, 1) OVER wsig AS prev_macd_histogram,
        LAG(stoch_k_14, 1) OVER wsig AS prev_stoch_k_14,
        LAG(stoch_d_3, 1) OVER wsig AS prev_stoch_d_3,
        LAG(bb_bandwidth_pctile_126, 1) OVER wsig AS prev_bb_bandwidth_pctile_126
      FROM ti
      WINDOW wsig AS (PARTITION BY symbol ORDER BY d)
    ),
    flagged AS (
      $flaggedSelects
    ),
    stated AS (
      SELECT *,
        MAX(CASE WHEN is_trigger THEN bars END) OVER wcum AS last_trigger_bar,
        MAX(CASE WHEN is_trigger THEN d END) OVER wcum AS last_trigger_date,
        MAX(CASE WHEN is_setup THEN d END) OVER wcum AS last_setup_date,
        LAG(is_setup) OVER (PARTITION BY symbol, signal_name ORDER BY d) AS prev_is_setup
      FROM flagged
      WINDOW wcum AS (PARTITION BY symbol, signal_name ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    classified AS (
      SELECT *,
        bars - last_trigger_bar AS bars_since_trigger,
        CASE
          WHEN is_trigger THEN 'triggered'
          WHEN bars - last_trigger_bar BETWEEN 1 AND ${MaxHoldingBars - 1} THEN 'active'
          WHEN bars - last_trigger_bar = $MaxHoldingBars THEN 'completed'
          WHEN is_setup THEN 'setup'
          WHEN COALESCE(prev_is_setup, FALSE) AND NOT is_setup THEN 'expired'
        END AS signal_state
      FROM stated
    ),
    events AS (
      SELECT symbol, d, indicator_name, signal_name, signal_side, signal_state,
        ROUND(signal_value, 6) + 0.0 AS signal_value,
        close, relative_volume,
        COALESCE(relative_volume >= 1.5, FALSE) AS volume_confirmed,
        is_setup, is_trigger,
        last_trigger_date AS trigger_date,
        last_setup_date AS setup_date,
        CAST(bars_since_trigger AS BIGINT) AS bars_since_trigger,
        CAST($MaxHoldingBars AS BIGINT) AS max_holding_bars
      FROM classified
      WHERE signal_state IS NOT NULL
    )"""
  }

  private val eventsSql: String = s"""
    WITH ${ModelQueries.barsSqlPublic},
    $indicatorsSql,
    $eventsCteSql
    SELECT * FROM events
  """

  // ------------------------------------------------------------------
  // technical_current_setups — latest bar per symbol, 14-day staleness
  // ------------------------------------------------------------------

  /** current_setups over the `mart_signal_events` frame (declared in
    * [[SharedMarts]]). Persisted: the latest-bar derivation AND the
    * final join read it; built inline, the indicator/event pipeline
    * would otherwise run twice. Only the one-row max-date spine still
    * derives from `(s, dir)`. */
  private[queries] def currentSetupsFrom(
      s: SparkSession, dir: String, eventsIn: DataFrame): DataFrame = {
    val events = eventsIn.persist()
    val maxD = Tables(s, dir).lineitem.agg(max(to_date(col("l_shipdate"))).as("__maxd"))
    val latest = events.groupBy(col("symbol").as("lb_sym")).agg(max(col("d")).as("latest_date"))
      .crossJoin(broadcast(maxD))
      .filter(col("latest_date") >= date_sub(col("__maxd"), 14))
      .drop("__maxd")
    events
      .join(latest, col("symbol") === col("lb_sym") && col("d") === col("latest_date"))
      .filter(col("signal_state").isin("setup", "triggered", "active"))
      .drop("lb_sym", "latest_date")
  }

  val currentSetupsSql: String = s"""
    WITH ${ModelQueries.barsSqlPublic},
    $indicatorsSql,
    $eventsCteSql,
    latest_bar AS (
      SELECT symbol AS lb_sym, MAX(d) AS latest_date
      FROM events
      GROUP BY symbol
      HAVING MAX(d) >= (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem) - INTERVAL 14 DAY
    )
    SELECT e.*
    FROM events e
    INNER JOIN latest_bar l ON e.symbol = l.lb_sym AND e.d = l.latest_date
    WHERE e.signal_state IN ('setup', 'triggered', 'active')
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_technical_signal_events", signalEvents, Some(eventsSql)),
    SharedMarts.query("q_technical_current_setups", Some(currentSetupsSql))
  )
}
