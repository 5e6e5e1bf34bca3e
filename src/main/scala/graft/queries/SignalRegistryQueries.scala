package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.{davgOver, r4}

/** Multi-signal event registry (SURVEY §2.J; ref
  * technical_signal_events.sql:30-143 — 14-entry registry of
  * golden/death cross, price x SMA, Donchian breakouts, Bollinger
  * squeeze breakouts, stochastic crosses). Six signal definitions
  * evaluated over one shared indicator frame, emitted long-format as
  * trigger events with per-signal sequence numbers.
  */
object SignalRegistryQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_signal_registry_events",
      (s, dir) => {
        val b = ModelQueries.bars(s, dir)
        val w = Window.partitionBy(col("symbol")).orderBy(col("d"))

        val ind = b
          .withColumn("bars", row_number().over(w).cast("long"))
          .withColumn("sma20", davgOver(col("close"), w.rowsBetween(-19, 0), 4))
          .withColumn("sma50", davgOver(col("close"), w.rowsBetween(-49, 0), 4))
          .withColumn("std20", stddev_samp(col("close")).over(w.rowsBetween(-19, 0)))
          .withColumn("don_high20", max(col("high")).over(w.rowsBetween(-20, -1)))
          .withColumn("low14", min(col("low")).over(w.rowsBetween(-13, 0)))
          .withColumn("high14", max(col("high")).over(w.rowsBetween(-13, 0)))
        val ind2 = ind
          .withColumn("boll_upper", col("sma20") + lit(2.0) * col("std20"))
          .withColumn("bandwidth",
            when(col("sma20") =!= 0.0, (lit(4.0) * col("std20")) / col("sma20")))
          .withColumn("stoch_k",
            lit(100.0) * when(col("high14") - col("low14") =!= 0.0,
              (col("close") - col("low14")) / (col("high14") - col("low14"))))
        val ind3 = ind2
          .withColumn("bw_avg126", avg(col("bandwidth")).over(w.rowsBetween(-125, 0)))
          .withColumn("prev_sma20", lag(col("sma20"), 1).over(w))
          .withColumn("prev_sma50", lag(col("sma50"), 1).over(w))
          .withColumn("prev_close", lag(col("close"), 1).over(w))
          .withColumn("prev_k", lag(col("stoch_k"), 1).over(w))
          .withColumn("prev_squeeze",
            lag(col("bandwidth") < lit(0.5) * col("bw_avg126"), 1).over(w))
          .filter(col("bars") >= 127) // all indicators + lags warmed up

        val signals = ind3.select(
          col("symbol"), col("d"), col("bars"),
          array(
            struct(lit("golden_cross").as("signal"),
              (col("sma20") > col("sma50") && col("prev_sma20") <= col("prev_sma50")).as("t")),
            struct(lit("death_cross").as("signal"),
              (col("sma20") < col("sma50") && col("prev_sma20") >= col("prev_sma50")).as("t")),
            struct(lit("price_cross_sma50").as("signal"),
              (col("close") > col("sma50") && col("prev_close") <= col("prev_sma50")).as("t")),
            struct(lit("donchian_breakout").as("signal"),
              (col("close") > col("don_high20")).as("t")),
            struct(lit("boll_squeeze_breakout").as("signal"),
              (col("prev_squeeze") && col("close") > col("boll_upper")).as("t")),
            struct(lit("stoch_recovery").as("signal"),
              (col("stoch_k") > 20.0 && col("prev_k") <= 20.0).as("t"))
          ).as("sigs")
        )
        val events = signals
          .select(col("symbol"), col("d"), explode(col("sigs")).as("sg"))
          .filter(col("sg.t"))
          .select(col("symbol"), col("d"), col("sg.signal").as("signal"))
        val wSig = Window.partitionBy(col("symbol"), col("signal")).orderBy(col("d"))
        events.withColumn("event_seq", row_number().over(wSig).cast("long"))
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        ind AS (
          SELECT symbol, d, close, high, low,
            CAST(ROW_NUMBER() OVER wsym AS BIGINT) AS bars,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(close) OVER w20 AS sma20,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w50 AS DOUBLE) / COUNT(close) OVER w50 AS sma50,
            STDDEV_SAMP(close) OVER w20 AS std20,
            MAX(high) OVER p20 AS don_high20,
            MIN(low) OVER w14 AS low14,
            MAX(high) OVER w14 AS high14
          FROM bars
          WINDOW wsym AS (PARTITION BY symbol ORDER BY d),
            w20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
            w50 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
            p20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
            w14 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ),
        ind2 AS (
          SELECT *,
            sma20 + 2.0 * std20 AS boll_upper,
            (CASE WHEN sma20 <> 0.0 THEN (4.0 * std20) / sma20 END) AS bandwidth,
            100.0 * (CASE WHEN high14 - low14 <> 0.0 THEN (close - low14) / (high14 - low14) END) AS stoch_k
          FROM ind
        ),
        ind3 AS (
          SELECT *,
            AVG(bandwidth) OVER (PARTITION BY symbol ORDER BY d ROWS BETWEEN 125 PRECEDING AND CURRENT ROW) AS bw_avg126,
            LAG(sma20, 1) OVER wsym AS prev_sma20,
            LAG(sma50, 1) OVER wsym AS prev_sma50,
            LAG(close, 1) OVER wsym AS prev_close,
            LAG(stoch_k, 1) OVER wsym AS prev_k
          FROM ind2
          WINDOW wsym AS (PARTITION BY symbol ORDER BY d)
        ),
        ind4 AS (
          SELECT *, LAG(bandwidth < 0.5 * bw_avg126, 1) OVER (PARTITION BY symbol ORDER BY d) AS prev_squeeze
          FROM ind3
        ),
        warmed AS (SELECT * FROM ind4 WHERE bars >= 127),
        events AS (
          SELECT symbol, d, 'golden_cross' AS signal FROM warmed
            WHERE sma20 > sma50 AND prev_sma20 <= prev_sma50
          UNION ALL
          SELECT symbol, d, 'death_cross' FROM warmed
            WHERE sma20 < sma50 AND prev_sma20 >= prev_sma50
          UNION ALL
          SELECT symbol, d, 'price_cross_sma50' FROM warmed
            WHERE close > sma50 AND prev_close <= prev_sma50
          UNION ALL
          SELECT symbol, d, 'donchian_breakout' FROM warmed
            WHERE close > don_high20
          UNION ALL
          SELECT symbol, d, 'boll_squeeze_breakout' FROM warmed
            WHERE prev_squeeze AND close > boll_upper
          UNION ALL
          SELECT symbol, d, 'stoch_recovery' FROM warmed
            WHERE stoch_k > 20.0 AND prev_k <= 20.0
        )
        SELECT symbol, d, signal,
          CAST(ROW_NUMBER() OVER (PARTITION BY symbol, signal ORDER BY d) AS BIGINT) AS event_seq
        FROM events
      """)
    )
  )
}
