package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.runtime.Tables
import graft.queries.QueryDef.{dsum, r4}

/** Remaining SURVEY §2.M signal families: momentum (TSMOM / dual
  * momentum / Faber TAA / trend score), net-liquidity arithmetic,
  * 3m-annualized-vs-YoY inflation shape, rolling correlation with
  * t-stats and stability. All window/agg compositions with full
  * oracles.
  */
object SignalQueries2 {

  private def series(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"), to_date(col("l_shipdate")).as("d"))
      .agg(r4(dsum(col("l_extendedprice"))).as("v"))

  private val seriesSql = """
    series AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
             ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
      FROM lineitem GROUP BY 1, 2
    )"""

  val defs: Seq[QueryDef] = Seq(
    // Momentum family (momentum_signals.sql:1-189): TSMOM 12m sign,
    // dual momentum vs benchmark, Faber TAA (close vs SMA200), trend
    // score over 21/63/126/252-bar lookbacks.
    QueryDef(
      "q_momentum_signals",
      (s, dir) => {
        val base = series(s, dir)
        val w    = Window.partitionBy(col("flag")).orderBy(col("d"))
        def ret(n: Int) = safeDivide(col("v") - lag(col("v"), n).over(w), lag(col("v"), n).over(w))
        val sma200 = sum(col("v").cast(DecimalType(18, 4))).over(w.rowsBetween(-199, 0)).cast("double") /
          count(col("v")).over(w.rowsBetween(-199, 0))
        val withSig = base
          .withColumn("ret21", ret(21))
          .withColumn("ret63", ret(63))
          .withColumn("ret126", ret(126))
          .withColumn("ret252", ret(252))
          .withColumn("sma200", sma200)
          .withColumn("n", count(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .filter(col("n") >= 253)
        val bench = withSig.filter(col("flag") === "N").select(col("d"), col("ret252").as("bench_ret252"))
        withSig
          .filter(col("flag") =!= "N")
          .join(bench, Seq("d"), "inner")
          .select(
            col("flag"), col("d"),
            r4(col("ret252")).as("ret252"),
            (col("ret252") > 0).as("tsmom_positive"),
            (col("ret252") > col("bench_ret252")).as("dual_momentum"),
            (col("v") > col("sma200")).as("faber_above_sma200"),
            (when(col("ret21") > 0, 1).otherwise(0) + when(col("ret63") > 0, 1).otherwise(0) +
              when(col("ret126") > 0, 1).otherwise(0) + when(col("ret252") > 0, 1).otherwise(0))
              .cast("long").as("trend_score")
          )
      },
      Some(s"""
        WITH $seriesSql,
        sigs AS (
          SELECT flag, d, v,
            (v - LAG(v, 21) OVER w) / NULLIF(LAG(v, 21) OVER w, 0) AS ret21,
            (v - LAG(v, 63) OVER w) / NULLIF(LAG(v, 63) OVER w, 0) AS ret63,
            (v - LAG(v, 126) OVER w) / NULLIF(LAG(v, 126) OVER w, 0) AS ret126,
            (v - LAG(v, 252) OVER w) / NULLIF(LAG(v, 252) OVER w, 0) AS ret252,
            CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w200 AS DOUBLE) / COUNT(v) OVER w200 AS sma200,
            COUNT(v) OVER (PARTITION BY flag ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
          FROM series
          WINDOW w AS (PARTITION BY flag ORDER BY d),
                 w200 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
        ),
        filt AS (SELECT * FROM sigs WHERE n >= 253),
        bench AS (SELECT d, ret252 AS bench_ret252 FROM filt WHERE flag = 'N')
        SELECT f.flag, f.d, ROUND(f.ret252, 4) + 0.0 AS ret252,
          f.ret252 > 0 AS tsmom_positive,
          f.ret252 > b.bench_ret252 AS dual_momentum,
          f.v > f.sma200 AS faber_above_sma200,
          CAST((CASE WHEN f.ret21 > 0 THEN 1 ELSE 0 END) + (CASE WHEN f.ret63 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN f.ret126 > 0 THEN 1 ELSE 0 END) + (CASE WHEN f.ret252 > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS trend_score
        FROM filt f JOIN bench b ON f.d = b.d
        WHERE f.flag <> 'N'
      """)
    ),
    // Net-liquidity arithmetic + smoothing + z-score
    // (net_liquidity_signals.sql:1-124: WALCL - WTREGEN - RRP)
    QueryDef(
      "q_net_liquidity",
      (s, dir) => {
        val wide = series(s, dir)
          .groupBy(col("d"))
          .agg(
            max(when(col("flag") === "A", col("v"))).as("a"),
            max(when(col("flag") === "N", col("v"))).as("n"),
            max(when(col("flag") === "R", col("v"))).as("r")
          )
          .filter(col("a").isNotNull && col("n").isNotNull && col("r").isNotNull)
          .withColumn("net_liq", col("a") - col("n") - col("r"))
        val w   = Window.orderBy(col("d"))
        val f20 = w.rowsBetween(-19, 0)
        val f252 = w.rowsBetween(-251, 0)
        wide
          .withColumn("net_liq_ma20", avg(col("net_liq")).over(f20))
          .withColumn("net_liq_z1y",
            safeDivide(col("net_liq") - avg(col("net_liq")).over(f252),
              stddev_samp(col("net_liq")).over(f252)))
          .withColumn("nn", count(lit(1)).over(f252))
          .filter(col("nn") >= 252)
          .select(col("d"), r4(col("net_liq")).as("net_liq"),
            r4(col("net_liq_ma20")).as("net_liq_ma20"), r4(col("net_liq_z1y")).as("net_liq_z1y"))
      },
      Some(s"""
        WITH $seriesSql,
        wide AS (
          SELECT d,
            MAX(CASE WHEN flag = 'A' THEN v END) AS a,
            MAX(CASE WHEN flag = 'N' THEN v END) AS n,
            MAX(CASE WHEN flag = 'R' THEN v END) AS r
          FROM series GROUP BY d
          HAVING MAX(CASE WHEN flag = 'A' THEN v END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'N' THEN v END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'R' THEN v END) IS NOT NULL
        ),
        nl AS (SELECT d, a - n - r AS net_liq FROM wide),
        sm AS (
          SELECT d, net_liq,
            AVG(net_liq) OVER f20 AS net_liq_ma20,
            (net_liq - AVG(net_liq) OVER f252) / NULLIF(STDDEV_SAMP(net_liq) OVER f252, 0) AS net_liq_z1y,
            COUNT(*) OVER f252 AS nn
          FROM nl
          WINDOW f20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                 f252 AS (ORDER BY d ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
        )
        SELECT d, ROUND(net_liq, 4) + 0.0 AS net_liq, ROUND(net_liq_ma20, 4) + 0.0 AS net_liq_ma20,
               ROUND(net_liq_z1y, 4) + 0.0 AS net_liq_z1y
        FROM sm WHERE nn >= 252
      """)
    ),
    // 3m-annualized vs YoY rate-of-change on a monthly grid
    // (inflation_signals.sql:1-160; fred_quarterly_roc.sql pct_change)
    QueryDef(
      "q_annualized_roc",
      (s, dir) => {
        val monthly = Tables(s, dir).lineitem
          .filter(col("l_returnflag") === "A")
          .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
          .agg(r4(dsum(col("l_extendedprice"))).as("v"))
        val w = Window.orderBy(col("month"))
        monthly
          .withColumn("v3", lag(col("v"), 3).over(w))
          .withColumn("v12", lag(col("v"), 12).over(w))
          .filter(col("v3").isNotNull && col("v12").isNotNull)
          .select(
            col("month"),
            r4(col("v")).as("v"),
            r4((pow(col("v") / col("v3"), 4.0) - 1.0) * 100.0).as("roc_3m_annualized"),
            r4((col("v") / col("v12") - 1.0) * 100.0).as("roc_yoy"),
            ((pow(col("v") / col("v3"), 4.0) - 1.0) > (col("v") / col("v12") - 1.0)).as("accelerating")
          )
      },
      Some("""
        WITH monthly AS (
          SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS month,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
          FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
        ),
        lagged AS (
          SELECT month, v, LAG(v, 3) OVER w AS v3, LAG(v, 12) OVER w AS v12
          FROM monthly WINDOW w AS (ORDER BY month)
        )
        SELECT month, ROUND(v, 4) + 0.0 AS v,
          ROUND((POW(v / v3, 4.0) - 1.0) * 100.0, 4) + 0.0 AS roc_3m_annualized,
          ROUND((v / v12 - 1.0) * 100.0, 4) + 0.0 AS roc_yoy,
          (POW(v / v3, 4.0) - 1.0) > (v / v12 - 1.0) AS accelerating
        FROM lagged WHERE v3 IS NOT NULL AND v12 IS NOT NULL
      """)
    ),
    // Rolling correlation + t-stat + stability + regime bucket
    // (correlation_analysis_enhanced.sql:69-163)
    QueryDef(
      "q_corr_tstat_stability",
      (s, dir) => {
        val wide = series(s, dir)
          .groupBy(col("d"))
          .agg(
            max(when(col("flag") === "A", col("v"))).as("x"),
            max(when(col("flag") === "R", col("v"))).as("y")
          )
          .filter(col("x").isNotNull && col("y").isNotNull)
        val w   = Window.orderBy(col("d"))
        val f63 = w.rowsBetween(-62, 0)
        val staged = wide
          .withColumn("corr63", corr(col("x"), col("y")).over(f63))
          .withColumn("n63", count(lit(1)).over(f63))
        val f126 = Window.orderBy(col("d")).rowsBetween(-125, 0)
        staged
          .withColumn("t_stat",
            col("corr63") * sqrt((col("n63") - 2) /
              when(lit(1.0) - col("corr63") * col("corr63") =!= 0.0,
                lit(1.0) - col("corr63") * col("corr63"))))
          .withColumn("corr_stability", stddev_samp(col("corr63")).over(f126))
          .filter(col("n63") === 63)
          .select(
            col("d"), r4(col("corr63")).as("corr63"), r4(col("t_stat")).as("t_stat"),
            r4(col("corr_stability")).as("corr_stability"),
            when(col("corr63") >= 0.7, "high").when(col("corr63") >= 0.3, "moderate")
              .when(col("corr63") >= -0.3, "weak").otherwise("inverse").as("corr_regime")
          )
      },
      Some(s"""
        WITH $seriesSql,
        wide AS (
          SELECT d,
            MAX(CASE WHEN flag = 'A' THEN v END) AS x,
            MAX(CASE WHEN flag = 'R' THEN v END) AS y
          FROM series GROUP BY d
          HAVING MAX(CASE WHEN flag = 'A' THEN v END) IS NOT NULL
             AND MAX(CASE WHEN flag = 'R' THEN v END) IS NOT NULL
        ),
        c AS (
          SELECT d,
            CORR(x, y) OVER f63 AS corr63,
            COUNT(*) OVER f63 AS n63
          FROM wide
          WINDOW f63 AS (ORDER BY d ROWS BETWEEN 62 PRECEDING AND CURRENT ROW)
        ),
        t AS (
          SELECT d, corr63, n63,
            corr63 * SQRT((n63 - 2) / (CASE WHEN 1.0 - corr63 * corr63 <> 0.0
                                       THEN 1.0 - corr63 * corr63 END)) AS t_stat,
            STDDEV_SAMP(corr63) OVER (ORDER BY d ROWS BETWEEN 125 PRECEDING AND CURRENT ROW)
              AS corr_stability
          FROM c
        )
        SELECT d, ROUND(corr63, 4) + 0.0 AS corr63, ROUND(t_stat, 4) + 0.0 AS t_stat,
          ROUND(corr_stability, 4) + 0.0 AS corr_stability,
          CASE WHEN corr63 >= 0.7 THEN 'high' WHEN corr63 >= 0.3 THEN 'moderate'
               WHEN corr63 >= -0.3 THEN 'weak' ELSE 'inverse' END AS corr_regime
        FROM t WHERE n63 = 63
      """)
    )
  )
}
