package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators.WindowOps
import graft.queries.QueryDef.davgOver

/** The reference's wide per-instrument technical-indicator model
  * (SURVEY.md §2.J; ref dbt_project/models/markets/technical/
  * technical_indicator_daily.sql, 252 LoC): SMA/EMA/RSI/MACD/
  * Bollinger/ATR/stochastic/Williams %R/ROC/OBV/Donchian/52-week/
  * relative-volume/z-score with warmup gating.
  *
  * Everything is Window + Column composition on one (keys, date)
  * ordering — Catalyst collapses the stacked windows into a single
  * shuffle+sort per frame family, which is the right physical shape at
  * 100 TB: one exchange keyed by instrument, then pipelined window
  * evaluation.
  *
  * EWM indicators use the reference's finite-window weight-normalized
  * formulation (60-row trailing arrays; ref ta_primitives.sql:84-126),
  * NOT the infinite-history recursive EMA.
  */
object TechnicalIndicators {

  val EwmWindow = 60

  /** bars: keys ++ (dateCol, open, high, low, close, volume).
    * Returns bars + indicator columns, warmup-gated like the reference
    * (CASE WHEN bars_available >= k). */
  def compute(bars: DataFrame, keys: Seq[String], dateCol: String): DataFrame = {
    val kCols = keys.map(col)
    val w     = Window.partitionBy(kCols: _*).orderBy(col(dateCol))
    def tw(n: Int)    = w.rowsBetween(-(n - 1), 0)
    def prior(n: Int) = w.rowsBetween(-n, -1)
    val cum           = w.rowsBetween(Window.unboundedPreceding, 0)
    val w52 = Window
      .partitionBy(kCols: _*)
      .orderBy(epochDay(col(dateCol)))
      .rangeBetween(-365, 0)

    val alphaEma12  = 2.0 / 13.0
    val alphaEma26  = 2.0 / 27.0
    val alphaWilder = 1.0 / 14.0

    // ---- stage 1: positions, lags, raw window stats, first-order EWMs
    val prevClose = lag(col("close"), 1).over(w)
    val s1 = bars
      .withColumn("bars_available", row_number().over(w).cast("long"))
      .withColumn("pos", row_number().over(w).cast("double"))
      .withColumn("prev_close", prevClose)
      .withColumn("gain", when(col("close") > col("prev_close"), col("close") - col("prev_close")).otherwise(when(col("prev_close").isNotNull, 0.0)))
      .withColumn("loss", when(col("close") < col("prev_close"), col("prev_close") - col("close")).otherwise(when(col("prev_close").isNotNull, 0.0)))
      .withColumn(
        "tr",
        when(col("prev_close").isNotNull,
          greatest(
            col("high") - col("low"),
            abs(col("high") - col("prev_close")),
            abs(col("low") - col("prev_close"))
          )
        )
      )
      .withColumn("obv_delta",
        when(col("close") > col("prev_close"), col("volume"))
          .when(col("close") < col("prev_close"), -col("volume"))
          .otherwise(when(col("prev_close").isNotNull, 0.0)))

    val s2 = s1
      .withColumn("sma20", davgOver(col("close"), tw(20), 4))
      .withColumn("sma50", davgOver(col("close"), tw(50), 4))
      .withColumn("vol_sma20", davgOver(col("volume"), tw(20), 4))
      .withColumn("std20", stddev_samp(col("close")).over(tw(20)))
      .withColumn("ema12", WindowOps.ewm(col("close"), col("pos"), w, EwmWindow, alphaEma12))
      .withColumn("ema26", WindowOps.ewm(col("close"), col("pos"), w, EwmWindow, alphaEma26))
      .withColumn("avg_gain", WindowOps.ewm(col("gain"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("avg_loss", WindowOps.ewm(col("loss"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("atr14", WindowOps.ewm(col("tr"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("low14", min(col("low")).over(tw(14)))
      .withColumn("high14", max(col("high")).over(tw(14)))
      .withColumn("donchian_high20", max(col("high")).over(prior(20)))
      .withColumn("donchian_low20", min(col("low")).over(prior(20)))
      .withColumn("high52w", max(col("high")).over(w52))
      .withColumn("low52w", min(col("low")).over(w52))
      .withColumn("close_20_ago", lag(col("close"), 20).over(w))
      .withColumn("obv",
        sum(col("obv_delta").cast(DecimalType(18, 4))).over(cum).cast("double"))
      .withColumn("zscore60", WindowOps.zscore(col("close"), w, 60))

    // ---- stage 2: composites of stage-1 columns
    val s3 = s2
      .withColumn("macd", col("ema12") - col("ema26"))
      .withColumn("rs", safeDivide(col("avg_gain"), col("avg_loss")))
      .withColumn(
        "rsi14",
        when(col("avg_loss") === 0.0 && col("avg_gain").isNotNull, 100.0)
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("rs")))
      )
      .withColumn("boll_upper", col("sma20") + lit(2.0) * col("std20"))
      .withColumn("boll_lower", col("sma20") - lit(2.0) * col("std20"))
      .withColumn("pct_b",
        safeDivide(col("close") - col("boll_lower"), col("boll_upper") - col("boll_lower")))
      .withColumn("bandwidth", safeDivide(col("boll_upper") - col("boll_lower"), col("sma20")))
      .withColumn("stoch_k",
        lit(100.0) * safeDivide(col("close") - col("low14"), col("high14") - col("low14")))
      .withColumn("williams_r",
        lit(-100.0) * safeDivide(col("high14") - col("close"), col("high14") - col("low14")))
      .withColumn("natr14", lit(100.0) * safeDivide(col("atr14"), col("close")))
      .withColumn("roc20",
        lit(100.0) * safeDivide(col("close") - col("close_20_ago"), col("close_20_ago")))
      .withColumn("rel_volume", safeDivide(col("volume"), col("vol_sma20")))
      .withColumn("pct_off_52w_high", safeDivide(col("close") - col("high52w"), col("high52w")))

    // ---- stage 3: EWMs over stage-2 columns (MACD signal, stoch %D),
    // directional movement (+DI/-DI/DX), CCI mean-abs-dev, MFI
    val prevHigh = lag(col("high"), 1).over(w)
    val prevLow  = lag(col("low"), 1).over(w)
    val s3b = s3
      .withColumn("plus_dm",
        when(col("prev_close").isNotNull &&
          (col("high") - prevHigh) > (prevLow - col("low")) && (col("high") - prevHigh) > 0,
          col("high") - prevHigh).otherwise(when(col("prev_close").isNotNull, 0.0)))
      .withColumn("minus_dm",
        when(col("prev_close").isNotNull &&
          (prevLow - col("low")) > (col("high") - prevHigh) && (prevLow - col("low")) > 0,
          prevLow - col("low")).otherwise(when(col("prev_close").isNotNull, 0.0)))
      .withColumn("tp", (col("high") + col("low") + col("close")) / 3.0)
    val s3c = s3b
      .withColumn("sm_plus_dm", WindowOps.ewm(col("plus_dm"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("sm_minus_dm", WindowOps.ewm(col("minus_dm"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("prev_tp", lag(col("tp"), 1).over(w))
      .withColumn("sma_tp20",
        sum(col("tp")).over(tw(20)) / count(col("tp")).over(tw(20)))
      .withColumn("tp_arr", collect_list(col("tp")).over(tw(20)))
      .withColumn("pos_mf",
        when(col("tp") > col("prev_tp"), col("tp") * col("volume"))
          .otherwise(when(col("prev_tp").isNotNull, 0.0)))
      .withColumn("neg_mf",
        when(col("tp") < col("prev_tp"), col("tp") * col("volume"))
          .otherwise(when(col("prev_tp").isNotNull, 0.0)))
    val s3d = s3c
      .withColumn("plus_di", lit(100.0) * safeDivide(col("sm_plus_dm"), col("atr14")))
      .withColumn("minus_di", lit(100.0) * safeDivide(col("sm_minus_dm"), col("atr14")))
      .withColumn("mad20",
        aggregate(col("tp_arr"), lit(0.0), (a, x) => a + abs(x - col("sma_tp20"))) /
          size(col("tp_arr")))
      .withColumn("cci20",
        safeDivide(col("tp") - col("sma_tp20"), lit(0.015) * col("mad20")))
      .withColumn("mf_ratio",
        safeDivide(sum(col("pos_mf")).over(tw(14)), sum(col("neg_mf")).over(tw(14))))
      .withColumn("mfi14",
        when(sum(col("neg_mf")).over(tw(14)) === 0.0 && sum(col("pos_mf")).over(tw(14)).isNotNull, 100.0)
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("mf_ratio"))))
    val s3e = s3d
      .withColumn("dx",
        lit(100.0) * safeDivide(abs(col("plus_di") - col("minus_di")), col("plus_di") + col("minus_di")))
    val s4 = s3e
      .withColumn("adx14", WindowOps.ewm(col("dx"), col("pos"), w, EwmWindow, alphaWilder))
      .withColumn("macd_signal", WindowOps.ewm(col("macd"), col("pos"), w, EwmWindow, 2.0 / 10.0))
      .withColumn("stoch_d", avg(col("stoch_k")).over(tw(3)))
      .withColumn("macd_hist", col("macd") - col("macd_signal"))

    // ---- warmup gating (ref technical_indicator_daily.sql:202-250)
    def gate(c: Column, minBars: Int): Column =
      when(col("bars_available") >= minBars, c)

    s4.select(
      (kCols :+ col(dateCol) :+ col("open") :+ col("high") :+ col("low") :+
        col("close") :+ col("volume") :+ col("bars_available") :+
        gate(col("sma20"), 20).as("sma20") :+
        gate(col("sma50"), 50).as("sma50") :+
        gate(col("ema12"), 12).as("ema12") :+
        gate(col("ema26"), 26).as("ema26") :+
        gate(col("macd"), 26).as("macd") :+
        gate(col("macd_signal"), 35).as("macd_signal") :+
        gate(col("macd_hist"), 35).as("macd_hist") :+
        gate(col("rsi14"), 15).as("rsi14") :+
        gate(col("boll_upper"), 20).as("boll_upper") :+
        gate(col("boll_lower"), 20).as("boll_lower") :+
        gate(col("pct_b"), 20).as("pct_b") :+
        gate(col("bandwidth"), 20).as("bandwidth") :+
        gate(col("atr14"), 15).as("atr14") :+
        gate(col("natr14"), 15).as("natr14") :+
        gate(col("stoch_k"), 14).as("stoch_k") :+
        gate(col("stoch_d"), 16).as("stoch_d") :+
        gate(col("williams_r"), 14).as("williams_r") :+
        gate(col("roc20"), 21).as("roc20") :+
        gate(col("obv"), 2).as("obv") :+
        gate(col("donchian_high20"), 21).as("donchian_high20") :+
        gate(col("donchian_low20"), 21).as("donchian_low20") :+
        gate(col("high52w"), 1).as("high52w") :+
        gate(col("low52w"), 1).as("low52w") :+
        gate(col("pct_off_52w_high"), 1).as("pct_off_52w_high") :+
        gate(col("rel_volume"), 20).as("rel_volume") :+
        gate(col("zscore60"), 60).as("zscore60") :+
        gate(col("plus_di"), 15).as("plus_di") :+
        gate(col("minus_di"), 15).as("minus_di") :+
        gate(col("adx14"), 15).as("adx14") :+
        gate(col("cci20"), 20).as("cci20") :+
        gate(col("mfi14"), 15).as("mfi14")): _*
    )
  }
}
