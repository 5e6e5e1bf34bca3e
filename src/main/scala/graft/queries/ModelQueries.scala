package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.models.{PriceBars, TechnicalIndicators}
import graft.operators.CorporateActions
import graft.queries.QueryDef.r4

/** Model-level queries: the reference's flagship wide models re-run
  * over OHLCV bars synthesized deterministically from lineitem
  * (per-(flag, day) open/high/low/close/volume).
  */
object ModelQueries {

  /** The model family's OHLCV bars: per-(flag, day) [[PriceBars.daily]],
    * rounded to 4 decimals, day column `d`. */
  def bars(s: SparkSession, dir: String): DataFrame =
    PriceBars.daily(PriceBars.lines(s, dir), Seq(PriceBars.Flags.col.as("symbol")))
      .select(col("symbol") +: col("date").as("d") +:
        Seq("open", "high", "low", "close", "volume").map(c => r4(col(c)).as(c)): _*)

  /** Shared bars CTE for oracle SQL (also used by MarketModelQueries). */
  val barsSqlPublic: String = s"""
    bars AS (
      SELECT ${PriceBars.Flags.sql} AS symbol, CAST(l_shipdate AS DATE) AS d,
        ROUND(${PriceBars.openSql}, 4) + 0.0 AS open,
        ROUND(MAX(l_extendedprice), 4) + 0.0 AS high,
        ROUND(MIN(l_extendedprice), 4) + 0.0 AS low,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS volume
      FROM lineitem GROUP BY 1, 2
    )"""

  /** Finite-window weight-normalized EWM in SQL via the pow-ratio
    * identity (weights cancel), matching WindowOps.ewm exactly. */
  private def ewmSql(x: String, decaySql: String): String =
    s"""(SUM($x * POW($decaySql, -rn)) OVER w60
       / SUM(CASE WHEN $x IS NOT NULL THEN POW($decaySql, -rn) END) OVER w60)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_ta_indicator_daily",
      (s, dir) => {
        val out = TechnicalIndicators.compute(bars(s, dir), Seq("symbol"), "d")
        val floatCols = Seq(
          "sma20", "sma50", "ema12", "ema26", "macd", "macd_signal", "macd_hist",
          "rsi14", "boll_upper", "boll_lower", "pct_b", "bandwidth", "atr14",
          "natr14", "stoch_k", "stoch_d", "williams_r", "roc20", "obv",
          "donchian_high20", "donchian_low20", "high52w", "low52w",
          "pct_off_52w_high", "rel_volume", "zscore60",
          "plus_di", "minus_di", "adx14", "cci20", "mfi14"
        )
        out.select(out.columns.map(c =>
          if (floatCols.contains(c)) r4(col(c)).as(c) else col(c)): _*)
      },
      Some(s"""
        WITH $barsSqlPublic,
        s1 AS (
          SELECT symbol, d, open, high, low, close, volume,
            CAST(ROW_NUMBER() OVER wsym AS BIGINT) AS bars_available,
            CAST(ROW_NUMBER() OVER wsym AS DOUBLE) AS rn,
            LAG(close, 1) OVER wsym AS prev_close,
            LAG(close, 20) OVER wsym AS close_20_ago,
            LAG(high, 1) OVER wsym AS prev_high,
            LAG(low, 1) OVER wsym AS prev_low
          FROM bars
          WINDOW wsym AS (PARTITION BY symbol ORDER BY d)
        ),
        s2 AS (
          SELECT *,
            CASE WHEN close > prev_close THEN close - prev_close
                 WHEN prev_close IS NOT NULL THEN 0.0 END AS gain,
            CASE WHEN close < prev_close THEN prev_close - close
                 WHEN prev_close IS NOT NULL THEN 0.0 END AS loss,
            CASE WHEN prev_close IS NOT NULL THEN
              GREATEST(high - low, ABS(high - prev_close), ABS(low - prev_close)) END AS tr,
            CASE WHEN close > prev_close THEN volume
                 WHEN close < prev_close THEN -volume
                 WHEN prev_close IS NOT NULL THEN 0.0 END AS obv_delta,
            CASE WHEN prev_close IS NOT NULL AND (high - prev_high) > (prev_low - low)
                      AND (high - prev_high) > 0 THEN high - prev_high
                 WHEN prev_close IS NOT NULL THEN 0.0 END AS plus_dm,
            CASE WHEN prev_close IS NOT NULL AND (prev_low - low) > (high - prev_high)
                      AND (prev_low - low) > 0 THEN prev_low - low
                 WHEN prev_close IS NOT NULL THEN 0.0 END AS minus_dm,
            (high + low + close) / 3.0 AS tp
          FROM s1
        ),
        s2b AS (
          SELECT *,
            CASE WHEN tp > LAG(tp, 1) OVER wsym THEN tp * volume
                 WHEN LAG(tp, 1) OVER wsym IS NOT NULL THEN 0.0 END AS pos_mf,
            CASE WHEN tp < LAG(tp, 1) OVER wsym THEN tp * volume
                 WHEN LAG(tp, 1) OVER wsym IS NOT NULL THEN 0.0 END AS neg_mf
          FROM s2
          WINDOW wsym AS (PARTITION BY symbol ORDER BY d)
        ),
        s3 AS (
          SELECT symbol, d, open, high, low, close, volume, bars_available, rn,
            close_20_ago, prev_close,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(close) OVER w20 AS sma20,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w50 AS DOUBLE) / COUNT(close) OVER w50 AS sma50,
            CAST(SUM(CAST(volume AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(volume) OVER w20 AS vol_sma20,
            STDDEV_SAMP(close) OVER w20 AS std20,
            ${ewmSql("close", "(1.0 - 2.0/13.0)")} AS ema12,
            ${ewmSql("close", "(1.0 - 2.0/27.0)")} AS ema26,
            ${ewmSql("gain", "(1.0 - 1.0/14.0)")} AS avg_gain,
            ${ewmSql("loss", "(1.0 - 1.0/14.0)")} AS avg_loss,
            ${ewmSql("tr", "(1.0 - 1.0/14.0)")} AS atr14,
            MIN(low) OVER w14 AS low14,
            MAX(high) OVER w14 AS high14,
            MAX(high) OVER p20 AS donchian_high20,
            MIN(low) OVER p20 AS donchian_low20,
            MAX(high) OVER wr52 AS high52w,
            MIN(low) OVER wr52 AS low52w,
            CAST(SUM(CAST(obv_delta AS DECIMAL(18,4))) OVER cum AS DOUBLE) AS obv,
            (close - AVG(close) OVER w60x) / NULLIF(STDDEV_SAMP(close) OVER w60x, 0) AS zscore60,
            ${ewmSql("plus_dm", "(1.0 - 1.0/14.0)")} AS sm_plus_dm,
            ${ewmSql("minus_dm", "(1.0 - 1.0/14.0)")} AS sm_minus_dm,
            SUM(tp) OVER w20 / COUNT(tp) OVER w20 AS sma_tp20,
            ARRAY_AGG(tp) OVER w20 AS tp_arr,
            SUM(pos_mf) OVER w14 AS mf_pos_sum,
            SUM(neg_mf) OVER w14 AS mf_neg_sum,
            tp
          FROM s2b
          WINDOW
            w60 AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
            w60x AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
            w20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
            w50 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
            w14 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
            p20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
            wr52 AS (PARTITION BY symbol ORDER BY (d - DATE '1970-01-01') RANGE BETWEEN 365 PRECEDING AND CURRENT ROW),
            cum AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        s4 AS (
          SELECT *,
            ema12 - ema26 AS macd,
            CASE WHEN avg_loss = 0.0 AND avg_gain IS NOT NULL THEN 100.0
                 ELSE 100.0 - 100.0 / (1.0 + (CASE WHEN avg_loss <> 0 AND avg_loss IS NOT NULL
                                              THEN avg_gain / avg_loss END)) END AS rsi14,
            sma20 + 2.0 * std20 AS boll_upper,
            sma20 - 2.0 * std20 AS boll_lower,
            100.0 * (CASE WHEN high14 - low14 <> 0 THEN (close - low14) / (high14 - low14) END) AS stoch_k,
            -100.0 * (CASE WHEN high14 - low14 <> 0 THEN (high14 - close) / (high14 - low14) END) AS williams_r,
            100.0 * (CASE WHEN close <> 0 THEN atr14 / close END) AS natr14,
            100.0 * (CASE WHEN close_20_ago <> 0 THEN (close - close_20_ago) / close_20_ago END) AS roc20,
            (CASE WHEN vol_sma20 <> 0 THEN volume / vol_sma20 END) AS rel_volume,
            (CASE WHEN high52w <> 0 THEN (close - high52w) / high52w END) AS pct_off_52w_high,
            100.0 * (CASE WHEN atr14 <> 0 AND atr14 IS NOT NULL THEN sm_plus_dm / atr14 END) AS plus_di,
            100.0 * (CASE WHEN atr14 <> 0 AND atr14 IS NOT NULL THEN sm_minus_dm / atr14 END) AS minus_di,
            list_sum(list_transform(tp_arr, x -> ABS(x - sma_tp20))) / len(tp_arr) AS mad20,
            (CASE WHEN mf_neg_sum = 0.0 AND mf_pos_sum IS NOT NULL THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + (CASE WHEN mf_neg_sum <> 0 AND mf_neg_sum IS NOT NULL
                                               THEN mf_pos_sum / mf_neg_sum END)) END) AS mfi14
          FROM s3
        ),
        s4b AS (
          SELECT *,
            (CASE WHEN 0.015 * mad20 <> 0 AND mad20 IS NOT NULL
                  THEN (tp - sma_tp20) / (0.015 * mad20) END) AS cci20,
            100.0 * (CASE WHEN plus_di + minus_di <> 0 AND plus_di + minus_di IS NOT NULL
                          THEN ABS(plus_di - minus_di) / (plus_di + minus_di) END) AS dx
          FROM s4
        ),
        s5 AS (
          SELECT *,
            ${ewmSql("macd", "(1.0 - 2.0/10.0)")} AS macd_signal,
            ${ewmSql("dx", "(1.0 - 1.0/14.0)")} AS adx14,
            AVG(stoch_k) OVER w3 AS stoch_d
          FROM s4b
          WINDOW
            w60 AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
            w3 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, d, open, high, low, close, volume, bars_available,
          ROUND(CASE WHEN bars_available >= 20 THEN sma20 END, 4) + 0.0 AS sma20,
          ROUND(CASE WHEN bars_available >= 50 THEN sma50 END, 4) + 0.0 AS sma50,
          ROUND(CASE WHEN bars_available >= 12 THEN ema12 END, 4) + 0.0 AS ema12,
          ROUND(CASE WHEN bars_available >= 26 THEN ema26 END, 4) + 0.0 AS ema26,
          ROUND(CASE WHEN bars_available >= 26 THEN macd END, 4) + 0.0 AS macd,
          ROUND(CASE WHEN bars_available >= 35 THEN macd_signal END, 4) + 0.0 AS macd_signal,
          ROUND(CASE WHEN bars_available >= 35 THEN macd - macd_signal END, 4) + 0.0 AS macd_hist,
          ROUND(CASE WHEN bars_available >= 15 THEN rsi14 END, 4) + 0.0 AS rsi14,
          ROUND(CASE WHEN bars_available >= 20 THEN boll_upper END, 4) + 0.0 AS boll_upper,
          ROUND(CASE WHEN bars_available >= 20 THEN boll_lower END, 4) + 0.0 AS boll_lower,
          ROUND(CASE WHEN bars_available >= 20 THEN
            (CASE WHEN boll_upper - boll_lower <> 0 THEN (close - boll_lower) / (boll_upper - boll_lower) END) END, 4) + 0.0 AS pct_b,
          ROUND(CASE WHEN bars_available >= 20 THEN
            (CASE WHEN sma20 <> 0 THEN (boll_upper - boll_lower) / sma20 END) END, 4) + 0.0 AS bandwidth,
          ROUND(CASE WHEN bars_available >= 15 THEN atr14 END, 4) + 0.0 AS atr14,
          ROUND(CASE WHEN bars_available >= 15 THEN natr14 END, 4) + 0.0 AS natr14,
          ROUND(CASE WHEN bars_available >= 14 THEN stoch_k END, 4) + 0.0 AS stoch_k,
          ROUND(CASE WHEN bars_available >= 16 THEN stoch_d END, 4) + 0.0 AS stoch_d,
          ROUND(CASE WHEN bars_available >= 14 THEN williams_r END, 4) + 0.0 AS williams_r,
          ROUND(CASE WHEN bars_available >= 21 THEN roc20 END, 4) + 0.0 AS roc20,
          ROUND(CASE WHEN bars_available >= 2 THEN obv END, 4) + 0.0 AS obv,
          ROUND(CASE WHEN bars_available >= 21 THEN donchian_high20 END, 4) + 0.0 AS donchian_high20,
          ROUND(CASE WHEN bars_available >= 21 THEN donchian_low20 END, 4) + 0.0 AS donchian_low20,
          ROUND(high52w, 4) + 0.0 AS high52w,
          ROUND(low52w, 4) + 0.0 AS low52w,
          ROUND(pct_off_52w_high, 4) + 0.0 AS pct_off_52w_high,
          ROUND(CASE WHEN bars_available >= 20 THEN rel_volume END, 4) + 0.0 AS rel_volume,
          ROUND(CASE WHEN bars_available >= 60 THEN zscore60 END, 4) + 0.0 AS zscore60,
          ROUND(CASE WHEN bars_available >= 15 THEN plus_di END, 4) + 0.0 AS plus_di,
          ROUND(CASE WHEN bars_available >= 15 THEN minus_di END, 4) + 0.0 AS minus_di,
          ROUND(CASE WHEN bars_available >= 15 THEN adx14 END, 4) + 0.0 AS adx14,
          ROUND(CASE WHEN bars_available >= 20 THEN cci20 END, 4) + 0.0 AS cci20,
          ROUND(CASE WHEN bars_available >= 15 THEN mfi14 END, 4) + 0.0 AS mfi14
        FROM s5
      """)
    ),
    // Corporate actions + split adjustment (SURVEY §2.I): heuristic
    // ratio detection UNION synthetic API events -> banded ±5-day
    // dedup -> cumulative FUTURE split factor adjustment.
    QueryDef(
      "q_split_adjusted_prices",
      (s, dir) => {
        // bars feeds three branches (api events, heuristic detection,
        // adjustment) — cache to avoid re-aggregating the fact table
        val b    = bars(s, dir).cache()
        val wVol = Window.partitionBy(col("symbol")).orderBy(col("volume").desc, col("d"))
        val api = b
          .withColumn("rn", row_number().over(wVol))
          .filter(col("rn") <= 3)
          .select(col("symbol"), col("d"), lit(2.0).as("split_factor"), lit("api").as("source"))
        // Powers-of-two factors only (target 0.5 -> factor 2), tight
        // tolerance: keeps the cumulative product an exact 2^k so the
        // adjusted prices are bit-identical across engines.
        val heur = CorporateActions.detectHeuristicSplits(
          b, Seq("symbol"), "d", targets = Seq(0.5), tolerance = 0.02)
        val deduped = CorporateActions.dedupeEvents(
          api.unionByName(heur),
          Seq("symbol"), "d", 5,
          Map("api" -> 0, "heuristic" -> 1)
        )
        CorporateActions
          .applySplitAdjustment(b, deduped, Seq("symbol"), "d")
          // adj_* stay unrounded: cum_future_factor is snapped to the
          // exact split product, so close/cum is bit-identical across
          // engines (rounding it could split a half-boundary).
          .select(
            col("symbol"), col("d"), col("close"), col("volume"), col("split_factor"),
            col("cum_future_factor"),
            col("adj_close"),
            col("adj_volume")
          )
      },
      Some {
        val heurCase = Seq(0.5)
          .map(r => s"WHEN ABS(ratio - ($r)) <= (${0.02 * r}) THEN (${1.0 / r})")
          .mkString("\n              ")
        s"""
        WITH $barsSqlPublic,
        api AS (
          SELECT symbol, d, 2.0 AS split_factor, 0 AS src_rank FROM (
            SELECT symbol, d, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY volume DESC, d) AS rn
            FROM bars
          ) WHERE rn <= 3
        ),
        heur AS (
          SELECT symbol, d,
            CASE $heurCase END AS split_factor,
            1 AS src_rank
          FROM (
            SELECT symbol, d, open / LAG(close, 1) OVER (PARTITION BY symbol ORDER BY d) AS ratio
            FROM bars
          )
          WHERE CASE $heurCase END IS NOT NULL
        ),
        events AS (SELECT * FROM api UNION ALL SELECT * FROM heur),
        deduped AS (
          SELECT symbol, d, split_factor FROM events l
          WHERE NOT EXISTS (
            SELECT 1 FROM events r
            WHERE r.symbol = l.symbol AND ABS(l.d - r.d) <= 5
              AND (r.src_rank < l.src_rank
                   OR (r.src_rank = l.src_rank AND r.d < l.d)
                   OR (r.src_rank = l.src_rank AND r.d = l.d AND r.split_factor > l.split_factor))
          )
        ),
        joined AS (
          SELECT b.symbol, b.d, b.close, b.volume, e.split_factor
          FROM bars b LEFT JOIN deduped e ON b.symbol = e.symbol AND b.d = e.d
        ),
        cumd AS (
          SELECT *,
            ROUND(COALESCE(EXP(SUM(LN(COALESCE(split_factor, 1.0)))
              OVER (PARTITION BY symbol ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)), 1.0), 6)
              AS cum_future_factor
          FROM joined
        )
        SELECT symbol, d, close, volume, split_factor,
          cum_future_factor,
          close / cum_future_factor AS adj_close,
          volume * cum_future_factor AS adj_volume
        FROM cumd
      """
      }
    )
  )
}
