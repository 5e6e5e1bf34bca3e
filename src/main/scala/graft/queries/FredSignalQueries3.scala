package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.queries.QueryDef.{davgOver, maxDate, maxDateSql, mMaxSql, nullif, oDivRound, oSnap, r4, rdiv, rsnap}
import graft.runtime.Tables
import graft.queries.FredSignalQueries.{panel, stgFred, stgFredSql}

/** Third batch of FRED-staged signals-schema named models (refs
  * dbt_project/models/signals/{financial_conditions,
  * economic_acceleration,credit_market}_signals.sql). Staging / parity
  * conventions as [[FredSignalQueries]]; int-ratio ROUND outputs (the
  * windowed decimal-sum/count averages and the trailing percentile
  * counts) go through the exact-decimal division pair
  * ([[QueryDef.rdiv]]/[[QueryDef.oDivRound]]).
  *
  * Deviation (documented): economic_acceleration's composite z-score
  * divides by the available-score count with no zero guard — BigQuery
  * would error on the warmup rows where both scores are NULL; both
  * sides here NULLIF the denominator so those rows emit NULL instead.
  */
object FredSignalQueries3 {

  // ------------------------------------------------------------------
  // financial_conditions_signals (ref, 297 LoC)
  // ------------------------------------------------------------------

  private def financialConditions(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("NFCI", "ANFCI", "STLFSI4", "KCFSI", "NFCIRISK",
      "NFCICREDIT", "NFCILEVERAGE", "NFCINONFINLEVERAGE", "DRCCLACBS",
      "DRTSCILM", "DRTSCIS"))

    // monthly-grain series, joined by month onto the daily NFCI rows
    val kf = stg.filter(col("series_code") === "KCFSI" && col("literal").isNotNull)
      .select(col("date").as("kf_d"), col("literal").as("kc_fsi_value"))

    val wd  = Window.orderBy(col("date"))
    val f13 = wd.rowsBetween(-12, 0)
    val nfciCombined = panel(stg, "day", "literal")(
        ("NFCI", "max", "nfci_value"), ("NFCIRISK", "max", "nfci_risk"),
        ("NFCICREDIT", "max", "nfci_credit"), ("NFCILEVERAGE", "max", "nfci_leverage"),
        ("NFCINONFINLEVERAGE", "max", "nfci_nonfinancial_leverage"),
        ("ANFCI", "max", "anfci_value"), ("STLFSI4", "max", "stl_fsi_value"))
      .filter(col("nfci_value").isNotNull)
      .join(kf,
        date_trunc("month", col("date")).cast("date")
          === date_trunc("month", col("kf_d")).cast("date"),
        "left")
      .select(col("date").as("nfc_d"), col("nfci_value"), col("nfci_risk"),
        col("nfci_credit"), col("nfci_leverage"), col("nfci_nonfinancial_leverage"),
        col("anfci_value"), col("stl_fsi_value"), col("kc_fsi_value"),
        lag(col("nfci_value"), 4).over(wd).as("nfci_4w_ago"),
        lag(col("nfci_value"), 13).over(wd).as("nfci_13w_ago"),
        davgOver(col("nfci_value"), f13).as("nfci_13w_avg"))

    val lendingCombined = panel(stg, "month", "literal")(
        ("DRTSCILM", "max", "lending_standards_large"), ("DRTSCIS", "max", "lending_standards_small"))
      .select(
        col("date").as("lc_d"),
        col("lending_standards_large"), col("lending_standards_small"),
        rsnap((coalesce(col("lending_standards_large"), lit(0)) +
          coalesce(col("lending_standards_small"), lit(0))) / 2.0, 2)
          .as("lending_standards_avg"),
        lag(col("lending_standards_large"), 1).over(wd).as("lending_large_prev"),
        lag(col("lending_standards_small"), 1).over(wd).as("lending_small_prev"))

    val cd = panel(stg, "month", "literal")(("DRCCLACBS", "max", "cc_delinquency_rate"))
      .select(col("date").as("cd_m"), col("cc_delinquency_rate"))

    val fin = nfciCombined
      .join(lendingCombined, col("nfc_d") === col("lc_d"), "full_outer")
      .join(cd,
        date_trunc("month", coalesce(col("nfc_d"), col("lc_d"))).cast("date") === col("cd_m"),
        "full_outer")
      .select(
        coalesce(col("nfc_d"), col("lc_d"), col("cd_m")).as("date"),
        col("nfci_value"), col("nfci_risk"), col("nfci_credit"), col("nfci_leverage"),
        col("nfci_nonfinancial_leverage"), col("anfci_value"), col("stl_fsi_value"),
        col("kc_fsi_value"), col("nfci_4w_ago"), col("nfci_13w_ago"), col("nfci_13w_avg"),
        rsnap(col("nfci_value") - col("nfci_4w_ago"), 4).as("nfci_4w_change"),
        rsnap(col("nfci_value") - col("nfci_13w_ago"), 4).as("nfci_13w_change"),
        col("lending_standards_large"), col("lending_standards_small"),
        col("lending_standards_avg"), col("cc_delinquency_rate"),
        when(col("lending_large_prev").isNotNull,
          rsnap(col("lending_standards_large") - col("lending_large_prev"), 2))
          .as("lending_large_change"),
        when(col("lending_small_prev").isNotNull,
          rsnap(col("lending_standards_small") - col("lending_small_prev"), 2))
          .as("lending_small_change"))

    def i(c: Column): Column = when(c, 1).otherwise(0)
    val sub = col("nfci_risk") > 0.5 || col("nfci_credit") > 0.5 || col("nfci_leverage") > 0.5
    fin.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("nfci_value"), col("nfci_risk"), col("nfci_credit"),
        col("nfci_leverage"), col("nfci_nonfinancial_leverage"), col("anfci_value"),
        col("stl_fsi_value"), col("kc_fsi_value"), col("nfci_4w_change"),
        col("nfci_13w_change"), col("nfci_13w_avg"), col("lending_standards_large"),
        col("lending_standards_small"), col("lending_standards_avg"),
        col("cc_delinquency_rate"), col("lending_large_change"), col("lending_small_change"),
        when(col("nfci_value") > 1.0, "high")
          .when(col("nfci_value") > 0.5, "high")
          .when(col("nfci_value") > 0.0, "medium")
          .when(col("nfci_value") < -0.5, "low")
          .otherwise("normal").as("nfci_status"),
        when(col("stl_fsi_value") > 2.0, "high")
          .when(col("stl_fsi_value") > 1.0, "medium")
          .when(col("stl_fsi_value") < -1.0, "low")
          .otherwise("normal").as("stl_fsi_status"),
        when(col("kc_fsi_value") > 2.0, "high")
          .when(col("kc_fsi_value") > 1.0, "medium")
          .when(col("kc_fsi_value") < -1.0, "low")
          .otherwise("normal").as("kc_fsi_status"),
        when(col("nfci_risk") > 1.0 || col("nfci_credit") > 1.0 || col("nfci_leverage") > 1.0,
          "high")
          .when(sub, "medium")
          .when(col("nfci_risk") < -0.5 && col("nfci_credit") < -0.5, "low")
          .otherwise("normal").as("nfci_subindex_status"),
        when(col("nfci_13w_change") > 0.3, "high")
          .when(col("nfci_13w_change") > 0.1, "medium")
          .otherwise("normal").as("nfci_trend_status"),
        when(col("lending_standards_avg") > 60, "high")
          .when(col("lending_standards_avg") > 40, "high")
          .when(col("lending_standards_avg") > 20, "medium")
          .when(col("lending_standards_avg") > 0 && col("lending_large_change") > 0, "low")
          .when(col("lending_standards_avg") > 0, "low")
          .otherwise("normal").as("lending_status"),
        when(abs(col("lending_standards_small") - col("lending_standards_large")) > 20, "high")
          .when(abs(col("lending_standards_small") - col("lending_standards_large")) > 10,
            "medium")
          .when(col("lending_standards_small").isNull || col("lending_standards_large").isNull,
            lit(null).cast("string"))
          .otherwise("normal").as("lending_size_divergence_status"),
        when(i(col("nfci_value") > 1.0) + i(col("stl_fsi_value") > 1.0) +
          i(col("kc_fsi_value") > 1.0) + i(sub) >= 3, "high")
          .when(i(col("nfci_value") > 0.5) + i(col("stl_fsi_value") > 0.5) +
            i(col("kc_fsi_value") > 0.5) + i(sub) >= 2, "medium")
          .otherwise("normal").as("stress_confirmation_status"))
  }

  private val financialConditionsSql: String = {
    def iSql(c: String) = s"CASE WHEN $c THEN 1 ELSE 0 END"
    val sub = "nfci_risk > 0.5 OR nfci_credit > 0.5 OR nfci_leverage > 0.5"
    s"""
    WITH ${stgFredSql(Seq("NFCI", "ANFCI", "STLFSI4", "KCFSI", "NFCIRISK", "NFCICREDIT",
      "NFCILEVERAGE", "NFCINONFINLEVERAGE", "DRCCLACBS", "DRTSCILM", "DRTSCIS"))},
    nfci_combined AS (
      SELECT n.date, n.nfci_value, nr.nfci_risk, nc.nfci_credit, nl.nfci_leverage,
        nnl.nfci_nonfinancial_leverage, an.anfci_value, sf.stl_fsi_value, kf.kc_fsi_value,
        LAG(n.nfci_value, 4) OVER (ORDER BY n.date) AS nfci_4w_ago,
        LAG(n.nfci_value, 13) OVER (ORDER BY n.date) AS nfci_13w_ago,
        CAST(SUM(CAST(n.nfci_value AS DECIMAL(18,6)))
            OVER (ORDER BY n.date ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / COUNT(n.nfci_value)
            OVER (ORDER BY n.date ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS nfci_13w_avg
      FROM (SELECT date, literal AS nfci_value FROM stg
            WHERE series_code = 'NFCI' AND literal IS NOT NULL) n
      LEFT JOIN (SELECT date, literal AS nfci_risk FROM stg
            WHERE series_code = 'NFCIRISK' AND literal IS NOT NULL) nr ON n.date = nr.date
      LEFT JOIN (SELECT date, literal AS nfci_credit FROM stg
            WHERE series_code = 'NFCICREDIT' AND literal IS NOT NULL) nc ON n.date = nc.date
      LEFT JOIN (SELECT date, literal AS nfci_leverage FROM stg
            WHERE series_code = 'NFCILEVERAGE' AND literal IS NOT NULL) nl ON n.date = nl.date
      LEFT JOIN (SELECT date, literal AS nfci_nonfinancial_leverage FROM stg
            WHERE series_code = 'NFCINONFINLEVERAGE' AND literal IS NOT NULL) nnl ON n.date = nnl.date
      LEFT JOIN (SELECT date, literal AS anfci_value FROM stg
            WHERE series_code = 'ANFCI' AND literal IS NOT NULL) an ON n.date = an.date
      LEFT JOIN (SELECT date, literal AS stl_fsi_value FROM stg
            WHERE series_code = 'STLFSI4' AND literal IS NOT NULL) sf ON n.date = sf.date
      LEFT JOIN (SELECT date, literal AS kc_fsi_value FROM stg
            WHERE series_code = 'KCFSI' AND literal IS NOT NULL) kf
        ON CAST(DATE_TRUNC('month', n.date) AS DATE) = CAST(DATE_TRUNC('month', kf.date) AS DATE)
    ),
    lending_combined AS (
      SELECT COALESCE(ll.month_date, ls.month_date) AS date,
        ll.lending_standards_large, ls.lending_standards_small,
        ${oSnap(
      "(COALESCE(ll.lending_standards_large, 0) + COALESCE(ls.lending_standards_small, 0)) / 2.0",
      2)} AS lending_standards_avg,
        LAG(ll.lending_standards_large, 1)
          OVER (ORDER BY COALESCE(ll.month_date, ls.month_date)) AS lending_large_prev,
        LAG(ls.lending_standards_small, 1)
          OVER (ORDER BY COALESCE(ll.month_date, ls.month_date)) AS lending_small_prev
      FROM (${mMaxSql("DRTSCILM", "lending_standards_large")}) AS ll
      FULL OUTER JOIN (${mMaxSql("DRTSCIS", "lending_standards_small")}) AS ls
        ON ll.month_date = ls.month_date
    ),
    cc_delinquency AS (${mMaxSql("DRCCLACBS", "cc_delinquency_rate")}),
    final AS (
      SELECT COALESCE(nc2.date, lc.date, cd.month_date) AS date,
        nc2.nfci_value, nc2.nfci_risk, nc2.nfci_credit, nc2.nfci_leverage,
        nc2.nfci_nonfinancial_leverage, nc2.anfci_value, nc2.stl_fsi_value,
        nc2.kc_fsi_value, nc2.nfci_4w_ago, nc2.nfci_13w_ago, nc2.nfci_13w_avg,
        ${oSnap("nc2.nfci_value - nc2.nfci_4w_ago", 4)} AS nfci_4w_change,
        ${oSnap("nc2.nfci_value - nc2.nfci_13w_ago", 4)} AS nfci_13w_change,
        lc.lending_standards_large, lc.lending_standards_small, lc.lending_standards_avg,
        cd.cc_delinquency_rate,
        CASE WHEN lc.lending_large_prev IS NOT NULL
          THEN ${oSnap("lc.lending_standards_large - lc.lending_large_prev", 2)}
        END AS lending_large_change,
        CASE WHEN lc.lending_small_prev IS NOT NULL
          THEN ${oSnap("lc.lending_standards_small - lc.lending_small_prev", 2)}
        END AS lending_small_change
      FROM nfci_combined AS nc2
      FULL OUTER JOIN lending_combined AS lc ON nc2.date = lc.date
      FULL OUTER JOIN cc_delinquency AS cd
        ON CAST(DATE_TRUNC('month', COALESCE(nc2.date, lc.date)) AS DATE) = cd.month_date
    )
    SELECT date, nfci_value, nfci_risk, nfci_credit, nfci_leverage,
      nfci_nonfinancial_leverage, anfci_value, stl_fsi_value, kc_fsi_value,
      nfci_4w_change, nfci_13w_change, nfci_13w_avg, lending_standards_large,
      lending_standards_small, lending_standards_avg, cc_delinquency_rate,
      lending_large_change, lending_small_change,
      CASE WHEN nfci_value > 1.0 THEN 'high'
           WHEN nfci_value > 0.5 THEN 'high'
           WHEN nfci_value > 0.0 THEN 'medium'
           WHEN nfci_value < -0.5 THEN 'low'
           ELSE 'normal' END AS nfci_status,
      CASE WHEN stl_fsi_value > 2.0 THEN 'high'
           WHEN stl_fsi_value > 1.0 THEN 'medium'
           WHEN stl_fsi_value < -1.0 THEN 'low'
           ELSE 'normal' END AS stl_fsi_status,
      CASE WHEN kc_fsi_value > 2.0 THEN 'high'
           WHEN kc_fsi_value > 1.0 THEN 'medium'
           WHEN kc_fsi_value < -1.0 THEN 'low'
           ELSE 'normal' END AS kc_fsi_status,
      CASE WHEN nfci_risk > 1.0 OR nfci_credit > 1.0 OR nfci_leverage > 1.0 THEN 'high'
           WHEN $sub THEN 'medium'
           WHEN nfci_risk < -0.5 AND nfci_credit < -0.5 THEN 'low'
           ELSE 'normal' END AS nfci_subindex_status,
      CASE WHEN nfci_13w_change > 0.3 THEN 'high'
           WHEN nfci_13w_change > 0.1 THEN 'medium'
           ELSE 'normal' END AS nfci_trend_status,
      CASE WHEN lending_standards_avg > 60 THEN 'high'
           WHEN lending_standards_avg > 40 THEN 'high'
           WHEN lending_standards_avg > 20 THEN 'medium'
           WHEN lending_standards_avg > 0 AND lending_large_change > 0 THEN 'low'
           WHEN lending_standards_avg > 0 THEN 'low'
           ELSE 'normal' END AS lending_status,
      CASE WHEN ABS(lending_standards_small - lending_standards_large) > 20 THEN 'high'
           WHEN ABS(lending_standards_small - lending_standards_large) > 10 THEN 'medium'
           WHEN lending_standards_small IS NULL OR lending_standards_large IS NULL THEN NULL
           ELSE 'normal' END AS lending_size_divergence_status,
      CASE WHEN (${iSql("nfci_value > 1.0")} + ${iSql("stl_fsi_value > 1.0")}
            + ${iSql("kc_fsi_value > 1.0")} + ${iSql(sub)}) >= 3 THEN 'high'
           WHEN (${iSql("nfci_value > 0.5")} + ${iSql("stl_fsi_value > 0.5")}
            + ${iSql("kc_fsi_value > 0.5")} + ${iSql(sub)}) >= 2 THEN 'medium'
           ELSE 'normal' END AS stress_confirmation_status
    FROM final
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """
  }

  // ------------------------------------------------------------------
  // economic_acceleration_signals (ref, 199 LoC)
  // ------------------------------------------------------------------

  private def economicAcceleration(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("PAYEMS", "CPIAUCSL", "GDPC1"))

    def mRaw(code: String, mcol: String, vcol: String): DataFrame =
      stg.filter(col("series_code") === code && col("value").isNotNull)
        .groupBy(date_trunc("month", col("date")).cast("date").as(mcol))
        .agg(max(col("value")).as(vcol))

    def momChain(raw: DataFrame, mcol: String, vcol: String, pfx: String): DataFrame = {
      val w = Window.orderBy(col(mcol))
      raw
        .withColumn("__l1", lag(col(vcol), 1).over(w))
        .withColumn("__l2", lag(col(vcol), 2).over(w))
        .withColumn(s"${pfx}_mom_pct", rsnap((col(vcol) / nullif(col("__l1")) - 1) * 100, 4))
        .withColumn(s"${pfx}_mom_pct_prev", rsnap((col("__l1") / nullif(col("__l2")) - 1) * 100, 4))
        .withColumn(s"${pfx}_acceleration",
          rsnap(col(s"${pfx}_mom_pct") -
            coalesce(col(s"${pfx}_mom_pct_prev"), col(s"${pfx}_mom_pct")), 4))
        .drop("__l1", "__l2")
    }

    val pay = momChain(mRaw("PAYEMS", "p_m", "payems"), "p_m", "payems", "payems")
    val wp  = Window.orderBy(col("p_m"))
    val payGrp = pay.withColumn("payems_accel_group",
      sum(when(col("payems_mom_pct") -
        coalesce(col("payems_mom_pct_prev"), col("payems_mom_pct")) < 0, 0).otherwise(1))
        .over(wp.rowsBetween(Window.unboundedPreceding, 0)))
    val payCons = payGrp.withColumn("payems_consecutive_negative",
      when(col("payems_acceleration") < 0,
        row_number().over(Window.partitionBy(col("payems_accel_group")).orderBy(col("p_m"))))
        .otherwise(0).cast("long"))

    val cpi = momChain(mRaw("CPIAUCSL", "c_m", "cpi"), "c_m", "cpi", "cpi")

    val wg = Window.orderBy(col("g_d"))
    val gdp = stg.filter(col("series_code") === "GDPC1" && col("value").isNotNull)
      .select(col("date").as("g_d"), col("value").as("gdp"))
      .withColumn("__l1", lag(col("gdp"), 1).over(wg))
      .withColumn("__l2", lag(col("gdp"), 2).over(wg))
      .withColumn("gdp_qoq_pct", rsnap((col("gdp") / nullif(col("__l1")) - 1) * 100, 4))
      .withColumn("gdp_qoq_pct_prev", rsnap((col("__l1") / nullif(col("__l2")) - 1) * 100, 4))
      .withColumn("gdp_acceleration",
        rsnap(col("gdp_qoq_pct") - coalesce(col("gdp_qoq_pct_prev"), col("gdp_qoq_pct")), 4))

    val combined = payCons
      .join(cpi, col("p_m") === col("c_m"), "left")
      .join(gdp, date_trunc("quarter", col("p_m")).cast("date") === col("g_d"), "left")
      .select(col("p_m").as("date"), col("payems"), col("payems_mom_pct"),
        col("payems_acceleration"), col("payems_consecutive_negative"),
        col("cpi_mom_pct"), col("cpi_acceleration"), col("gdp_qoq_pct"),
        col("gdp_acceleration"))

    val wd  = Window.orderBy(col("date"))
    val fpr = wd.rowsBetween(-24, -1)
    val ws = combined
      .withColumn("payems_accel_zscore",
        (col("payems_acceleration") - davgOver(col("payems_acceleration"), fpr)) /
          nullif(stddev_samp(col("payems_acceleration")).over(fpr)))
      .withColumn("cpi_accel_zscore",
        (col("cpi_acceleration") - davgOver(col("cpi_acceleration"), fpr)) /
          nullif(stddev_samp(col("cpi_acceleration")).over(fpr)))

    val nz = when(col("payems_accel_zscore").isNotNull, 1).otherwise(0) +
      when(col("cpi_accel_zscore").isNotNull, 1).otherwise(0)
    ws.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("payems"),
        rsnap(col("payems_mom_pct"), 2).as("payems_mom_pct"),
        rsnap(col("payems_acceleration"), 4).as("payems_acceleration"),
        col("payems_consecutive_negative"),
        rsnap(col("payems_accel_zscore"), 2).as("payems_accel_zscore"),
        rsnap(col("cpi_mom_pct"), 2).as("cpi_mom_pct"),
        rsnap(col("cpi_acceleration"), 4).as("cpi_acceleration"),
        rsnap(col("cpi_accel_zscore"), 2).as("cpi_accel_zscore"),
        rsnap(col("gdp_qoq_pct"), 2).as("gdp_qoq_pct"),
        rsnap(col("gdp_acceleration"), 4).as("gdp_acceleration"),
        rsnap((coalesce(col("payems_accel_zscore"), lit(0)) +
          coalesce(col("cpi_accel_zscore"), lit(0))) / nullif(nz), 2)
          .as("composite_accel_zscore"),
        when(col("payems_consecutive_negative") >= 3, "high")
          .when(col("payems_consecutive_negative") >= 2, "medium")
          .when(col("payems_acceleration") < 0, "low")
          .otherwise("normal").as("payems_accel_status"),
        when(col("cpi_acceleration") > 0.1, "high")
          .when(col("cpi_acceleration") > 0, "medium")
          .when(col("cpi_acceleration") < -0.1, "low")
          .otherwise("normal").as("cpi_accel_status"),
        when(col("gdp_acceleration") < -0.5, "high")
          .when(col("gdp_acceleration") < -0.2, "medium")
          .when(col("gdp_acceleration") < 0, "low")
          .otherwise("normal").as("gdp_accel_status"))
  }

  private val economicAccelerationSql: String = s"""
    WITH ${stgFredSql(Seq("PAYEMS", "CPIAUCSL", "GDPC1"))},
    payems_raw AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date, MAX(value) AS payems
      FROM stg WHERE series_code = 'PAYEMS' AND value IS NOT NULL GROUP BY 1
    ),
    payems_derivatives AS (
      SELECT month_date, payems,
        ${oSnap("((payems / NULLIF(LAG(payems, 1) OVER (ORDER BY month_date), 0)) - 1) * 100", 4)} AS payems_mom_pct,
        ${oSnap(
    "((LAG(payems, 1) OVER (ORDER BY month_date) / NULLIF(LAG(payems, 2) OVER (ORDER BY month_date), 0)) - 1) * 100",
    4)} AS payems_mom_pct_prev
      FROM payems_raw
    ),
    payems_accel AS (
      SELECT month_date, payems, payems_mom_pct,
        ${oSnap("payems_mom_pct - COALESCE(payems_mom_pct_prev, payems_mom_pct)", 4)} AS payems_acceleration,
        SUM(CASE WHEN (payems_mom_pct - COALESCE(payems_mom_pct_prev, payems_mom_pct)) < 0
                 THEN 0 ELSE 1 END)
          OVER (ORDER BY month_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS payems_accel_group
      FROM payems_derivatives
    ),
    payems_consecutive AS (
      SELECT month_date, payems, payems_mom_pct, payems_acceleration,
        CASE WHEN payems_acceleration < 0
             THEN ROW_NUMBER() OVER (PARTITION BY payems_accel_group ORDER BY month_date)
             ELSE 0 END AS payems_consecutive_negative
      FROM payems_accel
    ),
    cpi_raw AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date, MAX(value) AS cpi
      FROM stg WHERE series_code = 'CPIAUCSL' AND value IS NOT NULL GROUP BY 1
    ),
    cpi_accel AS (
      SELECT month_date, cpi, cpi_mom_pct,
        ${oSnap("cpi_mom_pct - COALESCE(cpi_mom_pct_prev, cpi_mom_pct)", 4)} AS cpi_acceleration
      FROM (
        SELECT month_date, cpi,
          ${oSnap("((cpi / NULLIF(LAG(cpi, 1) OVER (ORDER BY month_date), 0)) - 1) * 100", 4)} AS cpi_mom_pct,
          ${oSnap(
    "((LAG(cpi, 1) OVER (ORDER BY month_date) / NULLIF(LAG(cpi, 2) OVER (ORDER BY month_date), 0)) - 1) * 100",
    4)} AS cpi_mom_pct_prev
        FROM cpi_raw
      )
    ),
    gdp_accel AS (
      SELECT quarter_date, gdp, gdp_qoq_pct,
        ${oSnap("gdp_qoq_pct - COALESCE(gdp_qoq_pct_prev, gdp_qoq_pct)", 4)} AS gdp_acceleration
      FROM (
        SELECT quarter_date, gdp,
          ${oSnap("((gdp / NULLIF(LAG(gdp, 1) OVER (ORDER BY quarter_date), 0)) - 1) * 100", 4)} AS gdp_qoq_pct,
          ${oSnap(
    "((LAG(gdp, 1) OVER (ORDER BY quarter_date) / NULLIF(LAG(gdp, 2) OVER (ORDER BY quarter_date), 0)) - 1) * 100",
    4)} AS gdp_qoq_pct_prev
        FROM (SELECT date AS quarter_date, value AS gdp FROM stg
              WHERE series_code = 'GDPC1' AND value IS NOT NULL)
      )
    ),
    combined AS (
      SELECT p.month_date AS date, p.payems, p.payems_mom_pct, p.payems_acceleration,
        p.payems_consecutive_negative, c.cpi_mom_pct, c.cpi_acceleration,
        g.gdp_qoq_pct, g.gdp_acceleration
      FROM payems_consecutive p
      LEFT JOIN cpi_accel c ON p.month_date = c.month_date
      LEFT JOIN gdp_accel g ON CAST(DATE_TRUNC('quarter', p.month_date) AS DATE) = g.quarter_date
    ),
    with_stats AS (
      SELECT *,
        (payems_acceleration
          - CAST(SUM(CAST(payems_acceleration AS DECIMAL(18,6))) OVER fpr AS DOUBLE)
            / COUNT(payems_acceleration) OVER fpr)
          / NULLIF(STDDEV_SAMP(payems_acceleration) OVER fpr, 0) AS payems_accel_zscore,
        (cpi_acceleration
          - CAST(SUM(CAST(cpi_acceleration AS DECIMAL(18,6))) OVER fpr AS DOUBLE)
            / COUNT(cpi_acceleration) OVER fpr)
          / NULLIF(STDDEV_SAMP(cpi_acceleration) OVER fpr, 0) AS cpi_accel_zscore
      FROM combined
      WINDOW fpr AS (ORDER BY date ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT date, payems,
      ${oSnap("payems_mom_pct", 2)} AS payems_mom_pct,
      ${oSnap("payems_acceleration", 4)} AS payems_acceleration,
      CAST(payems_consecutive_negative AS BIGINT) AS payems_consecutive_negative,
      ${oSnap("payems_accel_zscore", 2)} AS payems_accel_zscore,
      ${oSnap("cpi_mom_pct", 2)} AS cpi_mom_pct,
      ${oSnap("cpi_acceleration", 4)} AS cpi_acceleration,
      ${oSnap("cpi_accel_zscore", 2)} AS cpi_accel_zscore,
      ${oSnap("gdp_qoq_pct", 2)} AS gdp_qoq_pct,
      ${oSnap("gdp_acceleration", 4)} AS gdp_acceleration,
      ${oSnap(
    """(COALESCE(payems_accel_zscore, 0) + COALESCE(cpi_accel_zscore, 0))
       / NULLIF(CASE WHEN payems_accel_zscore IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN cpi_accel_zscore IS NOT NULL THEN 1 ELSE 0 END, 0)""",
    2)} AS composite_accel_zscore,
      CASE WHEN payems_consecutive_negative >= 3 THEN 'high'
           WHEN payems_consecutive_negative >= 2 THEN 'medium'
           WHEN payems_acceleration < 0 THEN 'low'
           ELSE 'normal' END AS payems_accel_status,
      CASE WHEN cpi_acceleration > 0.1 THEN 'high'
           WHEN cpi_acceleration > 0 THEN 'medium'
           WHEN cpi_acceleration < -0.1 THEN 'low'
           ELSE 'normal' END AS cpi_accel_status,
      CASE WHEN gdp_acceleration < -0.5 THEN 'high'
           WHEN gdp_acceleration < -0.2 THEN 'medium'
           WHEN gdp_acceleration < 0 THEN 'low'
           ELSE 'normal' END AS gdp_accel_status
    FROM with_stats
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  // ------------------------------------------------------------------
  // credit_market_signals (ref, 159 LoC)
  // ------------------------------------------------------------------

  private def creditMarket(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("BAMLH0A0HYM2", "BAMLC0A4CBBB", "BAMLC0A1CAAA"))

    val hy = stg.filter(col("series_code") === "BAMLH0A0HYM2" && col("value").isNotNull)
      .select(col("date").as("h_d"), col("value").as("hy_oas"))
    val bbb = stg.filter(col("series_code") === "BAMLC0A4CBBB" && col("value").isNotNull)
      .select(col("date").as("b_d"), col("value").as("bbb_oas"))
    val aaa = stg.filter(col("series_code") === "BAMLC0A1CAAA" && col("value").isNotNull)
      .select(col("date").as("a_d"), col("value").as("aaa_oas"))

    val wh  = Window.orderBy(epochDay(col("h_d")))
    val f20 = wh.rowsBetween(-19, 0)
    val f60 = wh.rowsBetween(-59, 0)
    val base = hy
      .join(bbb, col("h_d") === col("b_d"), "left")
      .join(aaa, col("h_d") === col("a_d"), "left")
      .select(col("h_d"), col("hy_oas"), col("bbb_oas"), col("aaa_oas"),
        rsnap(col("bbb_oas") - col("aaa_oas"), 4).as("bbb_aaa_spread"),
        rsnap(col("hy_oas") - lag(col("hy_oas"), 20).over(wh), 4).as("hy_oas_20d_change"),
        rsnap(col("hy_oas") - lag(col("hy_oas"), 60).over(wh), 4).as("hy_oas_60d_change"),
        sum(col("hy_oas").cast(DecimalType(18, 6))).over(f20).as("s20_dec"),
        count(col("hy_oas")).over(f20).as("n20"),
        sum(col("hy_oas").cast(DecimalType(18, 6))).over(f60).as("s60_dec"),
        count(col("hy_oas")).over(f60).as("n60"))
      .withColumn("hy_oas_20d_avg", col("s20_dec").cast("double") / col("n20"))
      .withColumn("hy_oas_60d_avg", col("s60_dec").cast("double") / col("n60"))

    val wd   = Window.orderBy(epochDay(col("h_d")))
    val f252 = wd.rowsBetween(-251, 0)
    val wm = base
      .withColumn("chg_1y_avg",
        davgOver(col("hy_oas_20d_change"), f252))
      .withColumn("chg_1y_std", stddev_samp(col("hy_oas_20d_change")).over(f252))
      .withColumn("hy_oas_20d_avg_prev", lag(col("hy_oas_20d_avg"), 1).over(wd))
      .withColumn("hy_oas_60d_avg_prev", lag(col("hy_oas_60d_avg"), 1).over(wd))

    // trailing calendar-window percentiles, join-free (see scaladoc)
    val fP = wd.rowsBetween(-3700, 0) // superset frame; exact calendar cut below
    val histArr = collect_list(struct(col("h_d").as("d"), col("hy_oas").as("v"))).over(
      Window.orderBy(epochDay(col("h_d"))).rangeBetween(-3700, 0))
    val wp = wm.withColumn("hist", histArr)
    def pctCount(monthsBack: Int, le: Boolean): Column = {
      val lo = add_months(col("h_d"), -monthsBack)
      if (le)
        size(filter(col("hist"),
          x => x.getField("d") >= lo && x.getField("v") <= col("hy_oas")))
      else
        size(filter(col("hist"), x => x.getField("d") >= lo))
    }

    val z = (col("hy_oas_20d_change") - col("chg_1y_avg")) / col("chg_1y_std")
    wp.select(
      col("h_d").as("date"),
      rsnap(col("hy_oas"), 4).as("hy_oas"),
      rsnap(col("bbb_oas"), 4).as("bbb_oas"),
      rsnap(col("aaa_oas"), 4).as("aaa_oas"),
      col("bbb_aaa_spread"), col("hy_oas_20d_change"), col("hy_oas_60d_change"),
      rdiv(col("s20_dec"), col("n20"), 4).as("hy_oas_20d_avg"),
      rdiv(col("s60_dec"), col("n60"), 4).as("hy_oas_60d_avg"),
      when(col("chg_1y_std") > 0, rsnap(z, 4)).as("hy_oas_20d_change_zscore"),
      rdiv(pctCount(60, le = true).cast(DecimalType(18, 0)), pctCount(60, le = false), 4)
        .as("hy_oas_percentile_5y"),
      rdiv(pctCount(120, le = true).cast(DecimalType(18, 0)), pctCount(120, le = false), 4)
        .as("hy_oas_percentile_10y"),
      when(col("hy_oas_20d_avg_prev") <= col("hy_oas_60d_avg_prev") &&
        col("hy_oas_20d_avg") > col("hy_oas_60d_avg"), 1).otherwise(0).cast("long")
        .as("hy_oas_bearish_ma_cross_flag"),
      when(col("hy_oas") >= 8.0, "crisis")
        .when(col("hy_oas") >= 6.0, "stress")
        .when(col("hy_oas") >= 4.5, "caution")
        .when(col("hy_oas") >= 3.0, "normal")
        .otherwise("complacent").as("hy_oas_regime"),
      when(col("chg_1y_std") > 0 && z > 2.0, "high")
        .when(col("hy_oas_20d_change") >= 1.0, "medium")
        .when(col("hy_oas_20d_change") < -0.5, "low")
        .otherwise("normal").as("hy_momentum_status"),
      when(col("bbb_aaa_spread") > 2.0, "crisis")
        .when(col("bbb_aaa_spread") >= 1.0, "elevated")
        .when(col("bbb_aaa_spread") >= 0.5, "normal")
        .when(col("bbb_aaa_spread").isNull, lit(null).cast("string"))
        .otherwise("compressed").as("bbb_aaa_spread_status"),
      (pctCount(120, le = true).cast("double") / pctCount(120, le = false))
        .as("__p10_raw"))
      .withColumn("hy_percentile_status",
        when(col("__p10_raw") >= 0.9, "high")
          .when(col("__p10_raw") >= 0.75, "medium")
          .when(col("__p10_raw") <= 0.1, "low")
          .otherwise("normal"))
      .drop("__p10_raw")
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .drop("__maxd")
  }

  private val creditMarketSql: String = s"""
    WITH ${stgFredSql(Seq("BAMLH0A0HYM2", "BAMLC0A4CBBB", "BAMLC0A1CAAA"))},
    hy_oas AS (
      SELECT date, value AS hy_oas FROM stg
      WHERE series_code = 'BAMLH0A0HYM2' AND value IS NOT NULL
    ),
    base AS (
      SELECT hy.date, hy.hy_oas, bbb.bbb_oas, aaa.aaa_oas,
        ${oSnap("bbb.bbb_oas - aaa.aaa_oas", 4)} AS bbb_aaa_spread,
        ${oSnap("hy.hy_oas - LAG(hy.hy_oas, 20) OVER (ORDER BY hy.date)", 4)} AS hy_oas_20d_change,
        ${oSnap("hy.hy_oas - LAG(hy.hy_oas, 60) OVER (ORDER BY hy.date)", 4)} AS hy_oas_60d_change,
        SUM(CAST(hy.hy_oas AS DECIMAL(18,6)))
          OVER (ORDER BY hy.date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20_dec,
        COUNT(hy.hy_oas)
          OVER (ORDER BY hy.date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS n20,
        SUM(CAST(hy.hy_oas AS DECIMAL(18,6)))
          OVER (ORDER BY hy.date ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS s60_dec,
        COUNT(hy.hy_oas)
          OVER (ORDER BY hy.date ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS n60
      FROM hy_oas AS hy
      LEFT JOIN (SELECT date, value AS bbb_oas FROM stg
            WHERE series_code = 'BAMLC0A4CBBB' AND value IS NOT NULL) bbb ON hy.date = bbb.date
      LEFT JOIN (SELECT date, value AS aaa_oas FROM stg
            WHERE series_code = 'BAMLC0A1CAAA' AND value IS NOT NULL) aaa ON hy.date = aaa.date
    ),
    with_momentum AS (
      SELECT *,
        CAST(s20_dec AS DOUBLE) / n20 AS hy_oas_20d_avg,
        CAST(s60_dec AS DOUBLE) / n60 AS hy_oas_60d_avg,
        CAST(SUM(CAST(hy_oas_20d_change AS DECIMAL(18,6)))
            OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / COUNT(hy_oas_20d_change)
            OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW) AS chg_1y_avg,
        STDDEV_SAMP(hy_oas_20d_change)
          OVER (ORDER BY date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW) AS chg_1y_std
      FROM base
    ),
    with_prev AS (
      SELECT *,
        LAG(hy_oas_20d_avg) OVER (ORDER BY date) AS hy_oas_20d_avg_prev,
        LAG(hy_oas_60d_avg) OVER (ORDER BY date) AS hy_oas_60d_avg_prev
      FROM with_momentum
    ),
    with_percentiles AS (
      SELECT cr.*,
        (SELECT COUNT(*) FILTER (WHERE h.hy_oas <= cr.hy_oas) FROM hy_oas h
         WHERE h.date BETWEEN cr.date - INTERVAL 60 MONTH AND cr.date) AS c5,
        (SELECT COUNT(*) FROM hy_oas h
         WHERE h.date BETWEEN cr.date - INTERVAL 60 MONTH AND cr.date) AS n5,
        (SELECT COUNT(*) FILTER (WHERE h.hy_oas <= cr.hy_oas) FROM hy_oas h
         WHERE h.date BETWEEN cr.date - INTERVAL 120 MONTH AND cr.date) AS c10,
        (SELECT COUNT(*) FROM hy_oas h
         WHERE h.date BETWEEN cr.date - INTERVAL 120 MONTH AND cr.date) AS n10
      FROM with_prev AS cr
    )
    SELECT date,
      ${oSnap("hy_oas", 4)} AS hy_oas,
      ${oSnap("bbb_oas", 4)} AS bbb_oas,
      ${oSnap("aaa_oas", 4)} AS aaa_oas,
      bbb_aaa_spread, hy_oas_20d_change, hy_oas_60d_change,
      ${oDivRound("CAST(s20_dec * 1000000 AS HUGEINT)", "n20", 4)} AS hy_oas_20d_avg,
      ${oDivRound("CAST(s60_dec * 1000000 AS HUGEINT)", "n60", 4)} AS hy_oas_60d_avg,
      CASE WHEN chg_1y_std > 0
        THEN ${oSnap("(hy_oas_20d_change - chg_1y_avg) / chg_1y_std", 4)}
      END AS hy_oas_20d_change_zscore,
      ${oDivRound("c5 * 1000000", "n5", 4)} AS hy_oas_percentile_5y,
      ${oDivRound("c10 * 1000000", "n10", 4)} AS hy_oas_percentile_10y,
      CAST(CASE WHEN hy_oas_20d_avg_prev <= hy_oas_60d_avg_prev
                 AND hy_oas_20d_avg > hy_oas_60d_avg THEN 1 ELSE 0 END AS BIGINT)
        AS hy_oas_bearish_ma_cross_flag,
      CASE WHEN hy_oas >= 8.0 THEN 'crisis'
           WHEN hy_oas >= 6.0 THEN 'stress'
           WHEN hy_oas >= 4.5 THEN 'caution'
           WHEN hy_oas >= 3.0 THEN 'normal'
           ELSE 'complacent' END AS hy_oas_regime,
      CASE WHEN chg_1y_std > 0 AND (hy_oas_20d_change - chg_1y_avg) / chg_1y_std > 2.0 THEN 'high'
           WHEN hy_oas_20d_change >= 1.0 THEN 'medium'
           WHEN hy_oas_20d_change < -0.5 THEN 'low'
           ELSE 'normal' END AS hy_momentum_status,
      CASE WHEN bbb_aaa_spread > 2.0 THEN 'crisis'
           WHEN bbb_aaa_spread >= 1.0 THEN 'elevated'
           WHEN bbb_aaa_spread >= 0.5 THEN 'normal'
           WHEN bbb_aaa_spread IS NULL THEN NULL
           ELSE 'compressed' END AS bbb_aaa_spread_status,
      CASE WHEN CAST(c10 AS DOUBLE) / n10 >= 0.9 THEN 'high'
           WHEN CAST(c10 AS DOUBLE) / n10 >= 0.75 THEN 'medium'
           WHEN CAST(c10 AS DOUBLE) / n10 <= 0.1 THEN 'low'
           ELSE 'normal' END AS hy_percentile_status
    FROM with_percentiles
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_financial_conditions_signals", financialConditions, Some(financialConditionsSql)),
    QueryDef("q_economic_acceleration_signals", economicAcceleration, Some(economicAccelerationSql)),
    QueryDef("q_credit_market_signals", creditMarket, Some(creditMarketSql))
  )
}
