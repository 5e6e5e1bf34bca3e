package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.runtime.Tables
import graft.queries.QueryDef.{davgOver, dsum, r4}

/** Reference market-model families (SURVEY.md §2.M signals/analysis):
  * volatility estimators, signal-event state machine, market breadth,
  * diffusion index, regime classification — all pure window/agg
  * shapes with full DuckDB oracles.
  */
object MarketModelQueries {

  /** Per-bucket daily series (breadth panels). Buckets of suppliers
    * stand in for the reference's per-symbol universe. */
  private def bucketSeries(s: SparkSession, dir: String, buckets: Int): DataFrame =
    Tables(s, dir).lineitem
      .groupBy((col("l_suppkey") % buckets).cast("long").as("asset"), to_date(col("l_shipdate")).as("d"))
      .agg(r4(dsum(col("l_extendedprice"))).as("v"))

  private def bucketSeriesSql(buckets: Int) = s"""
    series AS (
      SELECT CAST(l_suppkey % $buckets AS BIGINT) AS asset, CAST(l_shipdate AS DATE) AS d,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
      FROM lineitem GROUP BY 1, 2
    )"""

  val defs: Seq[QueryDef] = Seq(
    // Realized / Parkinson / Garman-Klass volatility estimators
    // (market_volatility_signals.sql:63-106)
    QueryDef(
      "q_volatility_estimators",
      (s, dir) => {
        val b   = ModelQueries.bars(s, dir)
        val w   = Window.partitionBy(col("symbol")).orderBy(col("d"))
        val f20 = w.rowsBetween(-19, 0)
        val logRet = log(col("close") / lag(col("close"), 1).over(w))
        val logHl  = log(col("high") / col("low"))
        val logCo  = log(col("close") / col("open"))
        b.withColumn("log_ret", logRet)
          .withColumn("log_hl", logHl)
          .withColumn("log_co", logCo)
          .withColumn("n20", count(col("log_ret")).over(f20))
          .withColumn("realized_vol20",
            stddev_samp(col("log_ret")).over(f20) * math.sqrt(252.0) * 100.0)
          .withColumn("parkinson20",
            sqrt(sum(col("log_hl") * col("log_hl")).over(f20) / (4.0 * 20.0 * math.log(2.0))) *
              math.sqrt(252.0) * 100.0)
          .withColumn("gk20",
            sqrt(avg(lit(0.5) * col("log_hl") * col("log_hl") -
              lit(2.0 * math.log(2.0) - 1.0) * col("log_co") * col("log_co")).over(f20)) *
              math.sqrt(252.0) * 100.0)
          .filter(col("n20") === 20)
          .select(col("symbol"), col("d"),
            r4(col("realized_vol20")).as("realized_vol20"),
            r4(col("parkinson20")).as("parkinson20"),
            r4(col("gk20")).as("gk20"))
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        logs AS (
          SELECT symbol, d,
            LN(close / LAG(close, 1) OVER w) AS log_ret,
            LN(high / low) AS log_hl,
            LN(close / open) AS log_co
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY d)
        ),
        vols AS (
          SELECT symbol, d,
            COUNT(log_ret) OVER f20 AS n20,
            STDDEV_SAMP(log_ret) OVER f20 * SQRT(252.0) * 100.0 AS realized_vol20,
            SQRT(SUM(log_hl * log_hl) OVER f20 / (4.0 * 20.0 * LN(2.0))) * SQRT(252.0) * 100.0 AS parkinson20,
            SQRT(AVG(0.5 * log_hl * log_hl - (2.0 * LN(2.0) - 1.0) * log_co * log_co) OVER f20)
              * SQRT(252.0) * 100.0 AS gk20
          FROM logs
          WINDOW f20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, d, ROUND(realized_vol20, 4) + 0.0 AS realized_vol20,
          ROUND(parkinson20, 4) + 0.0 AS parkinson20, ROUND(gk20, 4) + 0.0 AS gk20
        FROM vols WHERE n20 = 20
      """)
    ),
    // Signal-event state machine: golden cross with
    // setup/triggered/active/completed/expired states
    // (technical_signal_events.sql:30-239)
    QueryDef(
      "q_signal_event_states",
      (s, dir) => {
        val b   = ModelQueries.bars(s, dir)
        val w   = Window.partitionBy(col("symbol")).orderBy(col("d"))
        val cum = w.rowsBetween(Window.unboundedPreceding, 0)
        val staged = b
          .withColumn("bars_available", row_number().over(w).cast("long"))
          .withColumn("sma20", davgOver(col("close"), w.rowsBetween(-19, 0), 4))
          .withColumn("sma50", davgOver(col("close"), w.rowsBetween(-49, 0), 4))
        val staged2 = staged
          .withColumn("above", col("sma20") > col("sma50"))
          .withColumn("prev_above", lag(col("above"), 1).over(w))
          .withColumn("trigger",
            col("bars_available") >= 50 && col("above") && col("prev_above") === false)
        val staged3 = staged2
          .withColumn("last_trigger_bar",
            max(when(col("trigger"), col("bars_available"))).over(cum))
          .withColumn("bars_since_trigger", col("bars_available") - col("last_trigger_bar"))
          .withColumn(
            "signal_state",
            when(col("last_trigger_bar").isNull, "none")
              .when(col("trigger"), "triggered")
              .when(col("above") && col("bars_since_trigger") <= 20, "active")
              .when(!col("above"), "completed")
              .otherwise("expired")
          )
        staged3.select(col("symbol"), col("d"), col("bars_available"),
          r4(col("sma20")).as("sma20"), r4(col("sma50")).as("sma50"),
          col("trigger"), col("bars_since_trigger"), col("signal_state"))
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        smas AS (
          SELECT symbol, d, close,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS bars_available,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / COUNT(close) OVER w20 AS sma20,
            CAST(SUM(CAST(close AS DECIMAL(18,4))) OVER w50 AS DOUBLE) / COUNT(close) OVER w50 AS sma50
          FROM bars
          WINDOW w AS (PARTITION BY symbol ORDER BY d),
                 w20 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                 w50 AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        ),
        crossed AS (
          SELECT *, sma20 > sma50 AS above,
            LAG(sma20 > sma50, 1) OVER (PARTITION BY symbol ORDER BY d) AS prev_above
          FROM smas
        ),
        trig AS (
          SELECT *,
            (bars_available >= 50 AND above AND prev_above = false) AS trigger
          FROM crossed
        ),
        st AS (
          SELECT *,
            MAX(CASE WHEN trigger THEN bars_available END)
              OVER (PARTITION BY symbol ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS last_trigger_bar
          FROM trig
        )
        SELECT symbol, d, bars_available,
          ROUND(sma20, 4) + 0.0 AS sma20, ROUND(sma50, 4) + 0.0 AS sma50,
          trigger, bars_available - last_trigger_bar AS bars_since_trigger,
          CASE WHEN last_trigger_bar IS NULL THEN 'none'
               WHEN trigger THEN 'triggered'
               WHEN above AND bars_available - last_trigger_bar <= 20 THEN 'active'
               WHEN NOT above THEN 'completed'
               ELSE 'expired' END AS signal_state
        FROM st
      """)
    ),
    // Market breadth: advancers/decliners, cumulative A/D line,
    // % above SMA20 (market_breadth_signals.sql:93-135)
    QueryDef(
      "q_market_breadth",
      (s, dir) => {
        val series = bucketSeries(s, dir, 8)
        val wAsset = Window.partitionBy(col("asset")).orderBy(col("d"))
        val f20    = wAsset.rowsBetween(-19, 0)
        val marked = series
          .withColumn("prev_v", lag(col("v"), 1).over(wAsset))
          .withColumn("sma20", davgOver(col("v"), f20, 4))
          .withColumn("advancing", col("v") > col("prev_v"))
          .withColumn("above_sma", col("v") > col("sma20"))
          .filter(col("prev_v").isNotNull)
        val daily = marked
          .groupBy(col("d"))
          .agg(
            sum(when(col("advancing"), 1).otherwise(0)).as("n_adv"),
            sum(when(!col("advancing"), 1).otherwise(0)).as("n_dec"),
            sum(when(col("above_sma"), 1).otherwise(0)).as("n_above_sma"),
            count(lit(1)).as("n_assets")
          )
          .withColumn("pct_above_sma",
            col("n_above_sma").cast("double") / col("n_assets"))
        val wDay = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("ad_line", sum(col("n_adv") - col("n_dec")).over(wDay))
          .select(col("d"), col("n_adv"), col("n_dec"), col("n_assets"),
            col("ad_line").cast("long").as("ad_line"),
            r4(col("pct_above_sma")).as("pct_above_sma"))
      },
      Some(s"""
        WITH ${bucketSeriesSql(8)},
        marked AS (
          SELECT d, asset, v,
            LAG(v, 1) OVER wa AS prev_v,
            CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER f20 AS DOUBLE) / COUNT(v) OVER f20 AS sma20
          FROM series
          WINDOW wa AS (PARTITION BY asset ORDER BY d),
                 f20 AS (PARTITION BY asset ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        ),
        daily AS (
          SELECT d,
            CAST(SUM(CASE WHEN v > prev_v THEN 1 ELSE 0 END) AS BIGINT) AS n_adv,
            CAST(SUM(CASE WHEN NOT (v > prev_v) THEN 1 ELSE 0 END) AS BIGINT) AS n_dec,
            CAST(SUM(CASE WHEN v > sma20 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_sma,
            COUNT(*) AS n_assets
          FROM marked WHERE prev_v IS NOT NULL
          GROUP BY d
        )
        SELECT d, n_adv, n_dec, n_assets,
          CAST(SUM(n_adv - n_dec) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ad_line,
          ROUND(CAST(n_above_sma AS DOUBLE) / n_assets, 4) + 0.0 AS pct_above_sma
        FROM daily
      """)
    ),
    // Diffusion index: share of assets improving vs 63 obs ago
    // (diffusion_index_signals.sql:90-93)
    QueryDef(
      "q_diffusion_index",
      (s, dir) => {
        val series = bucketSeries(s, dir, 8)
        val wAsset = Window.partitionBy(col("asset")).orderBy(col("d"))
        val marked = series
          .withColumn("v63", lag(col("v"), 63).over(wAsset))
          .filter(col("v63").isNotNull)
        marked
          .groupBy(col("d"))
          .agg(
            (sum(when(col("v") > col("v63"), 1).otherwise(0)).cast("double") /
              count(lit(1))).as("diffusion"),
            count(lit(1)).as("n_assets")
          )
          .filter(col("n_assets") === 8)
          .select(col("d"), r4(col("diffusion")).as("diffusion"), col("n_assets"))
      },
      Some(s"""
        WITH ${bucketSeriesSql(8)},
        marked AS (
          SELECT d, asset, v, LAG(v, 63) OVER (PARTITION BY asset ORDER BY d) AS v63
          FROM series
        )
        SELECT d,
          ROUND(CAST(SUM(CASE WHEN v > v63 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) + 0.0 AS diffusion,
          COUNT(*) AS n_assets
        FROM marked WHERE v63 IS NOT NULL
        GROUP BY d
        HAVING COUNT(*) = 8
      """)
    ),
    // Rule-based regime classification over pivoted monthly indicators
    // (economic_regime_classification.sql:15-27,151-182)
    QueryDef(
      "q_regime_classification",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val monthly = li
          .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"), col("l_returnflag").as("flag"))
          .agg(r4(dsum(col("l_extendedprice"))).as("v"))
        val w = Window.partitionBy(col("flag")).orderBy(col("month"))
        val withRet = monthly
          .withColumn("ret", safeDivide(col("v") - lag(col("v"), 1).over(w), lag(col("v"), 1).over(w)))
        val pivoted = withRet
          .groupBy(col("month"))
          .agg(
            max(when(col("flag") === "A", col("ret"))).as("ret_a"),
            max(when(col("flag") === "N", col("ret"))).as("ret_n"),
            max(when(col("flag") === "R", col("ret"))).as("ret_r")
          )
          .filter(col("ret_a").isNotNull && col("ret_n").isNotNull && col("ret_r").isNotNull)
        pivoted
          .withColumn(
            "score",
            when(col("ret_a") > 0, 1).otherwise(-1) +
              when(col("ret_n") > 0, 1).otherwise(-1) +
              when(col("ret_r") > 0, 1).otherwise(-1)
          )
          .withColumn(
            "regime",
            when(col("score") >= 2, "expansion")
              .when(col("score") >= 0, "neutral")
              .when(col("score") >= -2, "slowdown")
              .otherwise("contraction")
          )
          .select(col("month"), r4(col("ret_a")).as("ret_a"), r4(col("ret_n")).as("ret_n"),
            r4(col("ret_r")).as("ret_r"), col("score").cast("long").as("score"), col("regime"))
      },
      Some("""
        WITH monthly AS (
          SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS month, l_returnflag AS flag,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
          FROM lineitem GROUP BY 1, 2
        ),
        rets AS (
          SELECT month, flag,
            (v - LAG(v, 1) OVER (PARTITION BY flag ORDER BY month))
              / NULLIF(LAG(v, 1) OVER (PARTITION BY flag ORDER BY month), 0) AS ret
          FROM monthly
        ),
        pivoted AS (
          SELECT month,
            MAX(CASE WHEN flag = 'A' THEN ret END) AS ret_a,
            MAX(CASE WHEN flag = 'N' THEN ret END) AS ret_n,
            MAX(CASE WHEN flag = 'R' THEN ret END) AS ret_r
          FROM rets GROUP BY month
          HAVING MAX(CASE WHEN flag = 'A' THEN ret END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'N' THEN ret END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'R' THEN ret END) IS NOT NULL
        ),
        scored AS (
          SELECT *,
            (CASE WHEN ret_a > 0 THEN 1 ELSE -1 END
             + CASE WHEN ret_n > 0 THEN 1 ELSE -1 END
             + CASE WHEN ret_r > 0 THEN 1 ELSE -1 END) AS score
          FROM pivoted
        )
        SELECT month, ROUND(ret_a, 4) + 0.0 AS ret_a, ROUND(ret_n, 4) + 0.0 AS ret_n, ROUND(ret_r, 4) + 0.0 AS ret_r,
          CAST(score AS BIGINT) AS score,
          CASE WHEN score >= 2 THEN 'expansion'
               WHEN score >= 0 THEN 'neutral'
               WHEN score >= -2 THEN 'slowdown'
               ELSE 'contraction' END AS regime
        FROM scored
      """)
    )
  )
}
