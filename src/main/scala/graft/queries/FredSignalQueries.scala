package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.queries.QueryDef.{davg, dsum, maxDate, maxDateSql, mMaxSql, nullif, oSnap, r4, rsnap}
import graft.runtime.{Materialized, Tables}

/** The signals-schema named models driven by `stg_fred_series` (SURVEY
  * §2.M; refs dbt_project/models/signals/{liquidity,inflation,labor,
  * housing,fiscal}_signals.sql + economic_alert_inputs.sql), replicated
  * 1:1: per-series month-trunc aggregation CTEs, FULL OUTER JOIN chains
  * keyed on COALESCE'd month dates, LAG-based growth/momentum columns,
  * threshold CASE status columns, and the trailing CURRENT_DATE cutoff
  * (replaced, as in the FRED family, by the corpus max ship date as a
  * deterministic anchor). The oracles keep the reference's chains; the
  * Spark side builds each model's per-period row in one grouped pivot,
  * [[panel]].
  *
  * Staging: the fred-like series table maps `l_partkey % 97` onto the
  * reference's FRED series codes (one synthetic series per code), with
  * `value` = exact round-4 daily mean and `literal` = value behind the
  * reference's NULL-able raw reading (a deterministic (epoch-day+idx)
  * gate supplies the NULLs that `literal IS NOT NULL` filters exist
  * for). The per-model slice is ONE fact-table scan — filtered to the
  * model's codes, aggregated, then persisted, so however many CTEs the
  * model derives, the 100 TB cost is a single scan + one small shuffle
  * (the reference gets the same effect from materialized staging).
  *
  * Parity: monthly MAX of round-4 values is exact; monthly AVG routes
  * through the DECIMAL(18,6) sum ([[dsum]]); ROUNDed ratio outputs use
  * the DECIMAL snap ([[rsnap]]/[[oSnap]], the FredQueries-proven pair);
  * unrounded outputs are elementwise IEEE ops over bit-identical inputs
  * and ship raw. Global ORDER BY windows mirror the reference and are
  * safe at scale: every frame here is a per-series MONTHLY aggregate
  * (hundreds of rows however big the fact table is).
  */
object FredSignalQueries {

  /** Canonical synthetic-series index: code -> l_partkey % 97 residue. */
  val Codes: Seq[String] = Seq(
    "M2SL", "M1SL", "BUSLOANS", "TOTALSL", "M2V", "WALCL", "RRPONTSYD",
    "CPIAUCSL", "PCEPILFE", "T5YIE", "T10YIE",
    "JTSJOL", "UNEMPLOY", "UNRATE", "SAHMCURRENT", "ICSA", "EMRATIO", "JTSQUR",
    "HOUST", "PERMIT", "MORTGAGE30US", "MSACSR",
    "GFDEGDQ188S", "A091RC1Q027SBEA", "FYFSGDA188S",
    "DTWEXBGS", "DTWEXEMEGS", "BOPGSTB",
    "UMCSENT", "CSCICP03USM665S", "IPMAN", "NEWORDER", "PCUOMFG", "MANEMP",
    "MNFCTRMPCIMSA",
    "NFCI", "ANFCI", "STLFSI4", "KCFSI", "NFCIRISK", "NFCICREDIT",
    "NFCILEVERAGE", "NFCINONFINLEVERAGE", "DRCCLACBS", "DRTSCILM", "DRTSCIS",
    "PAYEMS", "GDPC1",
    "T10Y2Y", "FEDFUNDS", "BAMLH0A0HYM2", "BAMLC0A4CBBB", "BAMLC0A1CAAA",
    "DFII10",
    "INDPRO", "T10Y3M", "CFNAIMA3", "USSLIND",
    "CIVPART", "JTSHIR", "TCU", "RSXFS", "PCEC96", "CSUSHPISA", "EXPGS", "PI",
    "VIXCLS", "WTREGEN")

  def idxOf(code: String): Int = {
    val i = Codes.indexOf(code)
    require(i >= 0, s"unknown series code $code")
    i
  }

  /** Series whose synthetic observations land on month / quarter starts
    * (one row per period) — matching the reference's cadence where a
    * model JOINS on truncated dates and a daily-dense series would
    * either fan out rows or leave the join empty. */
  val MonthlyGrain: Set[String]   = Set("KCFSI")
  val QuarterlyGrain: Set[String] = Set("GDPC1")

  /** stg_fred_series slice for `codes`: ONE lineitem scan, persisted
    * unless an equal slice is cached already ([[Materialized.persist]]).
    * Columns: series_code, date, value, literal; one row per (series,
    * date). Builders read it through [[panel]] when they aggregate series
    * to a period, and through a one-code filter when a series lags over
    * its own rows. */
  def stgFred(s: SparkSession, dir: String, codes: Seq[String]): DataFrame = {
    val idxs   = codes.map(idxOf)
    val idxCol = col("l_partkey") % 97
    val codeExpr = codes.zip(idxs).foldLeft(lit(null).cast("string")) {
      case (acc, (c, i)) => when(idxCol === i, lit(c)).otherwise(acc)
    }
    val monthlyIdxs   = codes.filter(MonthlyGrain).map(idxOf)
    val quarterlyIdxs = codes.filter(QuarterlyGrain).map(idxOf)
    val d0 = to_date(col("l_shipdate"))
    val dateExpr =
      when(idxCol.isin(monthlyIdxs.map(Int.box): _*),
        date_trunc("month", d0).cast("date"))
        .when(idxCol.isin(quarterlyIdxs.map(Int.box): _*),
          date_trunc("quarter", d0).cast("date"))
        .otherwise(d0)
    Materialized.persist(Tables(s, dir).lineitem
      .filter(idxCol.isin(idxs.map(Int.box): _*))
      .groupBy(codeExpr.as("series_code"), (col("l_partkey") % 97).as("sidx"),
        dateExpr.as("date"))
      .agg(r4(dsum(col("l_extendedprice")) / count(lit(1))).as("value"))
      .withColumn("literal",
        when((epochDay(col("date")) + col("sidx")) % 29 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
      .drop("sidx"))
  }

  /** Oracle-side staging CTE (`stg`) for `codes`. */
  def stgFredSql(codes: Seq[String]): String = {
    val idxs  = codes.map(idxOf)
    val cases = codes.zip(idxs)
      .map { case (c, i) => s"WHEN $i THEN '$c'" }.mkString(" ")
    val mIdx = codes.filter(MonthlyGrain).map(idxOf)
    val qIdx = codes.filter(QuarterlyGrain).map(idxOf)
    val dateExpr =
      (if (mIdx.isEmpty && qIdx.isEmpty) "CAST(l_shipdate AS DATE)"
       else {
         val m = if (mIdx.nonEmpty)
           s"WHEN l_partkey % 97 IN (${mIdx.mkString(",")}) THEN CAST(DATE_TRUNC('month', l_shipdate) AS DATE)"
         else ""
         val q = if (qIdx.nonEmpty)
           s"WHEN l_partkey % 97 IN (${qIdx.mkString(",")}) THEN CAST(DATE_TRUNC('quarter', l_shipdate) AS DATE)"
         else ""
         s"CASE $m $q ELSE CAST(l_shipdate AS DATE) END"
       })
    s"""
    stg AS (
      SELECT series_code, date, value,
        CASE WHEN ((date - DATE '1970-01-01') + sidx) % 29 = 0 THEN NULL
             ELSE value END AS literal
      FROM (
        SELECT CASE l_partkey % 97 $cases END AS series_code,
               l_partkey % 97 AS sidx,
               $dateExpr AS date,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) + 0.0 AS value
        FROM lineitem
        WHERE l_partkey % 97 IN (${idxs.mkString(", ")})
        GROUP BY 1, 2, 3
      )
    )"""
  }

  /** The period panel of a [[stgFred]] slice: one row per period start
    * (column `date`) with one column per `(code, agg, alias)`, each
    * `agg(v)` over that code's rows in the period — the reference's
    * per-series aggregate CTEs and their FULL OUTER fan-in in ONE grouped
    * aggregate. `period` is "day", "week" or "month"; `v` is "literal"
    * or "value"; `agg` is "max", "min" or "mean" (the decimal-exact
    * [[davg]]). Only rows of the listed codes with a non-NULL `v` count,
    * so a period is present exactly when some listed code has a row in
    * it — the period set of the coalesce-keyed full-outer chain, whose
    * left-join and partial-coalesce variants the callers recover by
    * filtering on, or gating `date` by, their anchor columns. */
  def panel(stg: DataFrame, period: String, v: String)(cols: (String, String, String)*): DataFrame = {
    require(Set("day", "week", "month")(period), s"unknown period $period")
    val key = if (period == "day") col("date") else date_trunc(period, col("date")).cast("date")
    val aggs = cols.map { case (code, agg, alias) =>
      val x = when(col("series_code") === code, col(v))
      (agg match {
        case "max"  => max(x)
        case "min"  => min(x)
        case "mean" => davg(x)
      }).as(alias)
    }
    stg.filter(col("series_code").isin(cols.map(_._1).distinct: _*) && col(v).isNotNull)
      .groupBy(key.as("date"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A [[panel]]'s `date` where any of `aliases` is non-NULL, else NULL:
    * the chain's COALESCE over just those series' period keys. */
  def dateOf(aliases: String*): Column =
    when(aliases.map(col(_).isNotNull).reduce(_ || _), col("date"))

  private def mAvgSql(code: String, alias: String): String =
    s"""SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        CAST(SUM(CAST(literal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS $alias
        FROM stg WHERE series_code = '$code' AND literal IS NOT NULL GROUP BY 1"""

  // ------------------------------------------------------------------
  // liquidity_signals (ref signals/liquidity_signals.sql, 231 LoC)
  // ------------------------------------------------------------------

  private def liquiditySignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir,
      Seq("M2SL", "M1SL", "BUSLOANS", "TOTALSL", "M2V", "WALCL", "RRPONTSYD"))

    // velocity: latest quarterly row + its 4-obs YoY change (ref :62-86)
    val wv = Window.orderBy(col("date"))
    val vel = stg.filter(col("series_code") === "M2V" && col("literal").isNotNull)
      .select(col("date"), col("literal").as("money_velocity"),
        lag(col("literal"), 4).over(wv).as("velocity_1y_ago"),
        row_number().over(Window.orderBy(col("date").desc)).as("rn"))
      .filter(col("rn") === 1)
      .select(col("money_velocity"),
        when(col("velocity_1y_ago").isNotNull && col("velocity_1y_ago") > 0,
          (col("money_velocity") - col("velocity_1y_ago")) / col("velocity_1y_ago") * 100)
          .as("velocity_yoy_change"))

    val wd = Window.orderBy(col("date"))
    val wal = panel(stg, "month", "literal")(("WALCL", "mean", "walcl_avg"))
      .select(col("date").as("w_m"), col("walcl_avg"),
        lag(col("walcl_avg"), 3).over(wd).as("walcl_3m_ago"),
        lag(col("walcl_avg"), 12).over(wd).as("walcl_12m_ago"))
    val rrp = panel(stg, "month", "literal")(("RRPONTSYD", "mean", "rrp_avg"))
      .select(col("date").as("r_m"), col("rrp_avg"),
        lag(col("rrp_avg"), 3).over(wd).as("rrp_3m_ago"))

    val combined = panel(stg, "month", "literal")(
        ("M2SL", "max", "m2_level"), ("M1SL", "max", "m1_level"),
        ("BUSLOANS", "max", "busloans"), ("TOTALSL", "max", "total_consumer_credit"))
      .join(broadcast(wal), dateOf("m2_level", "m1_level") === col("w_m"), "left")
      .join(broadcast(rrp), dateOf("m2_level", "m1_level") === col("r_m"), "left")
      .select(
        col("date"), col("m2_level"), col("m1_level"), col("busloans"), col("total_consumer_credit"),
        col("walcl_avg"), col("walcl_3m_ago"), col("walcl_12m_ago"),
        col("rrp_avg"), col("rrp_3m_ago"))

    val wg = combined
      .withColumn("m2_12m_ago", lag(col("m2_level"), 12).over(wd))
      .withColumn("m2_3m_ago", lag(col("m2_level"), 3).over(wd))
      .withColumn("m1_12m_ago", lag(col("m1_level"), 12).over(wd))
      .withColumn("busloans_12m_ago", lag(col("busloans"), 12).over(wd))
      .withColumn("credit_12m_ago", lag(col("total_consumer_credit"), 12).over(wd))

    def grw(c: Column, ago: Column, mult: Double): Column =
      (c / nullif(ago)) .minus(lit(1)) * mult
    def statusM2: Column = {
      val g = grw(col("m2_level"), col("m2_12m_ago"), 100)
      when(col("m2_12m_ago").isNotNull && g < 0, "high")
        .when(col("m2_12m_ago").isNotNull && g < 4, "medium")
        .when(col("m2_12m_ago").isNotNull && g > 10, "low")
        .otherwise("normal")
    }

    wg.crossJoin(broadcast(vel))
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("m2_level"), col("m1_level"), col("busloans"),
        col("total_consumer_credit"),
        rsnap(grw(col("m2_level"), col("m2_12m_ago"), 100), 2).as("m2_yoy_growth"),
        rsnap(grw(col("m2_level"), col("m2_3m_ago"), 400), 2).as("m2_3m_annualized"),
        rsnap(grw(col("m1_level"), col("m1_12m_ago"), 100), 2).as("m1_yoy_growth"),
        rsnap(grw(col("busloans"), col("busloans_12m_ago"), 100), 2).as("busloans_yoy_growth"),
        rsnap(grw(col("total_consumer_credit"), col("credit_12m_ago"), 100), 2)
          .as("consumer_credit_yoy_growth"),
        col("money_velocity"),
        rsnap(col("velocity_yoy_change"), 2).as("velocity_yoy_change"),
        col("walcl_avg"),
        rsnap(grw(col("walcl_avg"), col("walcl_3m_ago"), 100), 2).as("walcl_3m_pct_change"),
        rsnap(grw(col("walcl_avg"), col("walcl_12m_ago"), 100), 2).as("walcl_12m_pct_change"),
        col("rrp_avg"),
        rsnap(grw(col("rrp_avg"), col("rrp_3m_ago"), 100), 2).as("rrp_3m_pct_change"),
        statusM2.as("m2_growth_status"),
        when(col("busloans_12m_ago").isNotNull &&
          grw(col("busloans"), col("busloans_12m_ago"), 100) < -2, "high")
          .when(col("busloans_12m_ago").isNotNull &&
            grw(col("busloans"), col("busloans_12m_ago"), 100) < 0, "medium")
          .otherwise("normal").as("busloans_growth_status"),
        when(col("credit_12m_ago").isNotNull &&
          grw(col("total_consumer_credit"), col("credit_12m_ago"), 100) > 10, "medium")
          .when(col("credit_12m_ago").isNotNull &&
            grw(col("total_consumer_credit"), col("credit_12m_ago"), 100) < 0, "high")
          .otherwise("normal").as("consumer_credit_status"),
        when(col("velocity_yoy_change").isNotNull && col("velocity_yoy_change") < -5, "high")
          .when(col("velocity_yoy_change").isNotNull && col("velocity_yoy_change") < -2, "medium")
          .when(col("velocity_yoy_change").isNotNull && col("velocity_yoy_change") < 0, "low")
          .otherwise("normal").as("velocity_status"),
        when(col("walcl_3m_ago").isNotNull &&
          grw(col("walcl_avg"), col("walcl_3m_ago"), 100) < -2, "medium")
          .when(col("walcl_3m_ago").isNotNull &&
            grw(col("walcl_avg"), col("walcl_3m_ago"), 100) < -1, "low")
          .otherwise("normal").as("fed_balance_sheet_status"))
  }

  private val liquiditySql: String = {
    def grw(c: String, ago: String, mult: Int) = s"(($c / NULLIF($ago, 0)) - 1) * $mult"
    s"""
    WITH ${stgFredSql(Seq("M2SL", "M1SL", "BUSLOANS", "TOTALSL", "M2V", "WALCL", "RRPONTSYD"))},
    m2_data AS (${mMaxSql("M2SL", "m2_level")}),
    m1_data AS (${mMaxSql("M1SL", "m1_level")}),
    business_loans AS (${mMaxSql("BUSLOANS", "busloans")}),
    total_credit AS (${mMaxSql("TOTALSL", "total_consumer_credit")}),
    velocity_data AS (
      SELECT date, literal AS money_velocity,
        LAG(literal, 4) OVER (ORDER BY date) AS velocity_1y_ago,
        ROW_NUMBER() OVER (ORDER BY date DESC) AS rn
      FROM stg WHERE series_code = 'M2V' AND literal IS NOT NULL
    ),
    velocity_with_trend AS (
      SELECT money_velocity,
        CASE WHEN velocity_1y_ago IS NOT NULL AND velocity_1y_ago > 0
          THEN ((money_velocity - velocity_1y_ago) / velocity_1y_ago) * 100 END
          AS velocity_yoy_change
      FROM velocity_data WHERE rn = 1
    ),
    walcl_data AS (${mAvgSql("WALCL", "walcl_avg")}),
    walcl_with_changes AS (
      SELECT month_date, walcl_avg,
        LAG(walcl_avg, 3) OVER (ORDER BY month_date) AS walcl_3m_ago,
        LAG(walcl_avg, 12) OVER (ORDER BY month_date) AS walcl_12m_ago
      FROM walcl_data
    ),
    rrp_data AS (${mAvgSql("RRPONTSYD", "rrp_avg")}),
    rrp_with_changes AS (
      SELECT month_date, rrp_avg,
        LAG(rrp_avg, 3) OVER (ORDER BY month_date) AS rrp_3m_ago
      FROM rrp_data
    ),
    combined AS (
      SELECT COALESCE(m2.month_date, m1.month_date, bl.month_date, tc.month_date) AS date,
        m2.m2_level, m1.m1_level, bl.busloans, tc.total_consumer_credit,
        w.walcl_avg, w.walcl_3m_ago, w.walcl_12m_ago, r.rrp_avg, r.rrp_3m_ago
      FROM m2_data AS m2
      FULL OUTER JOIN m1_data AS m1 ON m2.month_date = m1.month_date
      FULL OUTER JOIN business_loans AS bl
        ON COALESCE(m2.month_date, m1.month_date) = bl.month_date
      FULL OUTER JOIN total_credit AS tc
        ON COALESCE(m2.month_date, m1.month_date, bl.month_date) = tc.month_date
      LEFT JOIN walcl_with_changes AS w
        ON COALESCE(m2.month_date, m1.month_date) = w.month_date
      LEFT JOIN rrp_with_changes AS r
        ON COALESCE(m2.month_date, m1.month_date) = r.month_date
    ),
    with_growth AS (
      SELECT *,
        LAG(m2_level, 12) OVER (ORDER BY date) AS m2_12m_ago,
        LAG(m2_level, 3) OVER (ORDER BY date) AS m2_3m_ago,
        LAG(m1_level, 12) OVER (ORDER BY date) AS m1_12m_ago,
        LAG(busloans, 12) OVER (ORDER BY date) AS busloans_12m_ago,
        LAG(total_consumer_credit, 12) OVER (ORDER BY date) AS credit_12m_ago
      FROM combined
    )
    SELECT wg.date, wg.m2_level, wg.m1_level, wg.busloans, wg.total_consumer_credit,
      ${oSnap(grw("wg.m2_level", "wg.m2_12m_ago", 100), 2)} AS m2_yoy_growth,
      ${oSnap(grw("wg.m2_level", "wg.m2_3m_ago", 400), 2)} AS m2_3m_annualized,
      ${oSnap(grw("wg.m1_level", "wg.m1_12m_ago", 100), 2)} AS m1_yoy_growth,
      ${oSnap(grw("wg.busloans", "wg.busloans_12m_ago", 100), 2)} AS busloans_yoy_growth,
      ${oSnap(grw("wg.total_consumer_credit", "wg.credit_12m_ago", 100), 2)} AS consumer_credit_yoy_growth,
      vt.money_velocity,
      ${oSnap("vt.velocity_yoy_change", 2)} AS velocity_yoy_change,
      wg.walcl_avg,
      ${oSnap(grw("wg.walcl_avg", "wg.walcl_3m_ago", 100), 2)} AS walcl_3m_pct_change,
      ${oSnap(grw("wg.walcl_avg", "wg.walcl_12m_ago", 100), 2)} AS walcl_12m_pct_change,
      wg.rrp_avg,
      ${oSnap(grw("wg.rrp_avg", "wg.rrp_3m_ago", 100), 2)} AS rrp_3m_pct_change,
      CASE
        WHEN wg.m2_12m_ago IS NOT NULL AND ${grw("wg.m2_level", "wg.m2_12m_ago", 100)} < 0 THEN 'high'
        WHEN wg.m2_12m_ago IS NOT NULL AND ${grw("wg.m2_level", "wg.m2_12m_ago", 100)} < 4 THEN 'medium'
        WHEN wg.m2_12m_ago IS NOT NULL AND ${grw("wg.m2_level", "wg.m2_12m_ago", 100)} > 10 THEN 'low'
        ELSE 'normal' END AS m2_growth_status,
      CASE
        WHEN wg.busloans_12m_ago IS NOT NULL AND ${grw("wg.busloans", "wg.busloans_12m_ago", 100)} < -2 THEN 'high'
        WHEN wg.busloans_12m_ago IS NOT NULL AND ${grw("wg.busloans", "wg.busloans_12m_ago", 100)} < 0 THEN 'medium'
        ELSE 'normal' END AS busloans_growth_status,
      CASE
        WHEN wg.credit_12m_ago IS NOT NULL AND ${grw("wg.total_consumer_credit", "wg.credit_12m_ago", 100)} > 10 THEN 'medium'
        WHEN wg.credit_12m_ago IS NOT NULL AND ${grw("wg.total_consumer_credit", "wg.credit_12m_ago", 100)} < 0 THEN 'high'
        ELSE 'normal' END AS consumer_credit_status,
      CASE
        WHEN vt.velocity_yoy_change IS NOT NULL AND vt.velocity_yoy_change < -5 THEN 'high'
        WHEN vt.velocity_yoy_change IS NOT NULL AND vt.velocity_yoy_change < -2 THEN 'medium'
        WHEN vt.velocity_yoy_change IS NOT NULL AND vt.velocity_yoy_change < 0 THEN 'low'
        ELSE 'normal' END AS velocity_status,
      CASE
        WHEN wg.walcl_3m_ago IS NOT NULL AND ${grw("wg.walcl_avg", "wg.walcl_3m_ago", 100)} < -2 THEN 'medium'
        WHEN wg.walcl_3m_ago IS NOT NULL AND ${grw("wg.walcl_avg", "wg.walcl_3m_ago", 100)} < -1 THEN 'low'
        ELSE 'normal' END AS fed_balance_sheet_status
    FROM with_growth wg
    CROSS JOIN velocity_with_trend vt
    WHERE wg.date >= $maxDateSql - INTERVAL 36 MONTH
  """
  }

  // ------------------------------------------------------------------
  // inflation_signals (ref signals/inflation_signals.sql, 160 LoC)
  // ------------------------------------------------------------------

  private def inflationSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("CPIAUCSL", "PCEPILFE", "T5YIE", "T10YIE"))

    // cpi/pce branches use `value` but keep the literal-not-null gate
    val wc = Window.orderBy(col("c_d"))
    val cpi = stg.filter(col("series_code") === "CPIAUCSL" && col("literal").isNotNull)
      .select(col("date").as("c_d"), col("value").as("cpi_level"))
      .withColumn("cpi_3m_ago", lag(col("cpi_level"), 3).over(wc))
      .withColumn("cpi_12m_ago", lag(col("cpi_level"), 12).over(wc))
      .filter(col("cpi_3m_ago").isNotNull && col("cpi_12m_ago").isNotNull)
      .select(col("c_d"), col("cpi_level"),
        rsnap((col("cpi_level") / nullif(col("cpi_3m_ago")) - 1) * 400, 2).as("cpi_3m_annualized"),
        rsnap((col("cpi_level") / nullif(col("cpi_12m_ago")) - 1) * 100, 2).as("cpi_12m_yoy"))

    val wp = Window.orderBy(col("p_d"))
    val pce = stg.filter(col("series_code") === "PCEPILFE" && col("literal").isNotNull)
      .select(col("date").as("p_d"), col("value").as("pce_level"))
      .withColumn("pce_12m_ago", lag(col("pce_level"), 12).over(wp))
      .filter(col("pce_12m_ago").isNotNull)
      .select(col("p_d"), col("pce_level"),
        rsnap((col("pce_level") / nullif(col("pce_12m_ago")) - 1) * 100, 2).as("core_pce_yoy"))

    val bs = panel(stg, "day", "literal")(("T5YIE", "max", "be_5y"), ("T10YIE", "max", "be_10y"))
      .filter(col("be_5y").isNotNull && col("be_10y").isNotNull)
      .select(col("date").as("bs_d"), col("be_5y"), col("be_10y"),
        rsnap(col("be_5y") - col("be_10y"), 3).as("breakeven_5y_10y_spread"))

    cpi
      .join(pce, col("c_d") === col("p_d"), "full_outer")
      .join(bs, coalesce(col("c_d"), col("p_d")) === col("bs_d"), "full_outer")
      .crossJoin(broadcast(maxDate(s, dir)))
      .select(
        coalesce(col("c_d"), col("p_d"), col("bs_d")).as("date"),
        col("cpi_3m_annualized"), col("cpi_12m_yoy"),
        rsnap(col("cpi_3m_annualized") - col("cpi_12m_yoy"), 2).as("cpi_momentum_spread"),
        col("core_pce_yoy"),
        rsnap(col("core_pce_yoy") - 2.0, 2).as("pce_deviation_from_target"),
        col("be_5y").as("breakeven_5y"), col("be_10y").as("breakeven_10y"),
        col("breakeven_5y_10y_spread"), col("__maxd"))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("cpi_3m_annualized"), col("cpi_12m_yoy"),
        col("cpi_momentum_spread"), col("core_pce_yoy"), col("pce_deviation_from_target"),
        col("breakeven_5y"), col("breakeven_10y"), col("breakeven_5y_10y_spread"),
        when(col("cpi_momentum_spread") > 0.5, "high")
          .when(col("cpi_momentum_spread") > 0.0, "medium")
          .when(col("cpi_momentum_spread") < -0.5, "low")
          .otherwise("normal").as("cpi_momentum_status"),
        when(col("core_pce_yoy") > 3.5 || col("core_pce_yoy") < 1.0, "high")
          .when(col("core_pce_yoy") > 2.5 || col("core_pce_yoy") < 1.5, "medium")
          .otherwise("normal").as("core_pce_status"),
        when(col("breakeven_5y_10y_spread") < -0.5, "high")
          .when(col("breakeven_5y_10y_spread") > 0.5, "medium")
          .when(abs(col("breakeven_5y_10y_spread")) > 0.3, "low")
          .otherwise("normal").as("breakeven_status"))
  }

  private val inflationSql: String = s"""
    WITH ${stgFredSql(Seq("CPIAUCSL", "PCEPILFE", "T5YIE", "T10YIE"))},
    cpi_with_changes AS (
      SELECT date, value AS cpi_level,
        LAG(value, 3) OVER (ORDER BY date) AS cpi_3m_ago,
        LAG(value, 12) OVER (ORDER BY date) AS cpi_12m_ago
      FROM stg WHERE series_code = 'CPIAUCSL' AND literal IS NOT NULL
    ),
    cpi_momentum AS (
      SELECT date, cpi_level,
        ${oSnap("((cpi_level / NULLIF(cpi_3m_ago, 0)) - 1) * 400", 2)} AS cpi_3m_annualized,
        ${oSnap("((cpi_level / NULLIF(cpi_12m_ago, 0)) - 1) * 100", 2)} AS cpi_12m_yoy
      FROM cpi_with_changes
      WHERE cpi_3m_ago IS NOT NULL AND cpi_12m_ago IS NOT NULL
    ),
    pce_with_changes AS (
      SELECT date, value AS pce_level,
        LAG(value, 12) OVER (ORDER BY date) AS pce_12m_ago
      FROM stg WHERE series_code = 'PCEPILFE' AND literal IS NOT NULL
    ),
    pce_yoy AS (
      SELECT date, pce_level,
        ${oSnap("((pce_level / NULLIF(pce_12m_ago, 0)) - 1) * 100", 2)} AS core_pce_yoy
      FROM pce_with_changes WHERE pce_12m_ago IS NOT NULL
    ),
    breakeven_spread AS (
      SELECT b5.date, b5.be_5y, b10.be_10y,
        ${oSnap("b5.be_5y - b10.be_10y", 3)} AS breakeven_5y_10y_spread
      FROM (SELECT date, literal AS be_5y FROM stg
            WHERE series_code = 'T5YIE' AND literal IS NOT NULL) b5
      INNER JOIN (SELECT date, literal AS be_10y FROM stg
            WHERE series_code = 'T10YIE' AND literal IS NOT NULL) b10
        ON b5.date = b10.date
    ),
    combined AS (
      SELECT COALESCE(cm.date, py.date, bs.date) AS date,
        cm.cpi_3m_annualized, cm.cpi_12m_yoy,
        ${oSnap("cm.cpi_3m_annualized - cm.cpi_12m_yoy", 2)} AS cpi_momentum_spread,
        py.core_pce_yoy,
        ${oSnap("py.core_pce_yoy - 2.0", 2)} AS pce_deviation_from_target,
        bs.be_5y AS breakeven_5y, bs.be_10y AS breakeven_10y,
        bs.breakeven_5y_10y_spread
      FROM cpi_momentum AS cm
      FULL OUTER JOIN pce_yoy AS py ON cm.date = py.date
      FULL OUTER JOIN breakeven_spread AS bs ON COALESCE(cm.date, py.date) = bs.date
    )
    SELECT date, cpi_3m_annualized, cpi_12m_yoy, cpi_momentum_spread, core_pce_yoy,
      pce_deviation_from_target, breakeven_5y, breakeven_10y, breakeven_5y_10y_spread,
      CASE WHEN cpi_momentum_spread > 0.5 THEN 'high'
           WHEN cpi_momentum_spread > 0.0 THEN 'medium'
           WHEN cpi_momentum_spread < -0.5 THEN 'low'
           ELSE 'normal' END AS cpi_momentum_status,
      CASE WHEN core_pce_yoy > 3.5 OR core_pce_yoy < 1.0 THEN 'high'
           WHEN core_pce_yoy > 2.5 OR core_pce_yoy < 1.5 THEN 'medium'
           ELSE 'normal' END AS core_pce_status,
      CASE WHEN breakeven_5y_10y_spread < -0.5 THEN 'high'
           WHEN breakeven_5y_10y_spread > 0.5 THEN 'medium'
           WHEN ABS(breakeven_5y_10y_spread) > 0.3 THEN 'low'
           ELSE 'normal' END AS breakeven_status
    FROM combined
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  // ------------------------------------------------------------------
  // labor_signals (ref signals/labor_signals.sql, 186 LoC)
  // ------------------------------------------------------------------

  private def laborSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir,
      Seq("JTSJOL", "UNEMPLOY", "UNRATE", "SAHMCURRENT", "ICSA", "EMRATIO", "JTSQUR"))

    val combined = panel(stg, "month", "literal")(
        ("JTSJOL", "max", "job_openings"), ("UNEMPLOY", "max", "unemployed_count"),
        ("UNRATE", "max", "unrate"), ("ICSA", "mean", "avg_monthly_claims"),
        ("EMRATIO", "max", "emratio"), ("JTSQUR", "max", "quits_rate"),
        ("SAHMCURRENT", "max", "sahm_rule"))
      .select(
        dateOf("job_openings", "unemployed_count", "unrate", "avg_monthly_claims").as("date"),
        col("job_openings"), col("unemployed_count"),
        rsnap(col("job_openings") / nullif(col("unemployed_count")), 3).as("jo_unemployed_ratio"),
        col("unrate"), col("avg_monthly_claims"), col("emratio"), col("quits_rate"),
        col("sahm_rule"))

    val wd = Window.orderBy(col("date"))
    val wt = combined
      .withColumn("jo_ratio_3m_ago", lag(col("jo_unemployed_ratio"), 3).over(wd))
      .withColumn("jo_ratio_6m_ago", lag(col("jo_unemployed_ratio"), 6).over(wd))
      .withColumn("claims_3m_ago", lag(col("avg_monthly_claims"), 3).over(wd))
      .withColumn("unrate_3m_ago", lag(col("unrate"), 3).over(wd))
      .withColumn("quits_rate_3m_ago", lag(col("quits_rate"), 3).over(wd))

    val claimsChg = (col("avg_monthly_claims") - col("claims_3m_ago")) / nullif(col("claims_3m_ago"))
    wt.crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -36))
      .select(
        col("date"), col("job_openings"), col("unemployed_count"),
        col("jo_unemployed_ratio"), col("unrate"), col("avg_monthly_claims"),
        col("emratio"), col("quits_rate"),
        rsnap(col("jo_unemployed_ratio") - col("jo_ratio_3m_ago"), 3).as("jo_ratio_3m_change"),
        rsnap(claimsChg * 100, 2).as("claims_3m_pct_change"),
        rsnap(col("unrate") - col("unrate_3m_ago"), 2).as("unrate_3m_change"),
        rsnap(col("quits_rate") - col("quits_rate_3m_ago"), 2).as("quits_rate_3m_change"),
        rsnap(col("sahm_rule"), 2).as("sahm_approx"),
        when(col("jo_unemployed_ratio") < 0.5, "high")
          .when(col("jo_unemployed_ratio") < 1.0, "medium")
          .when(col("jo_unemployed_ratio") > 1.5, "low")
          .otherwise("normal").as("jo_ratio_status"),
        when(col("claims_3m_ago").isNotNull && claimsChg > 0.15, "high")
          .when(col("claims_3m_ago").isNotNull && claimsChg > 0.10, "medium")
          .otherwise("normal").as("claims_trend_status"),
        when(col("sahm_rule") >= 0.50, "high")
          .when(col("sahm_rule") >= 0.30, "medium")
          .otherwise("normal").as("sahm_approx_status"),
        when(col("quits_rate_3m_ago").isNotNull &&
          col("quits_rate") - col("quits_rate_3m_ago") < -0.5, "high")
          .when(col("quits_rate_3m_ago").isNotNull &&
            col("quits_rate") - col("quits_rate_3m_ago") < -0.3, "medium")
          .otherwise("normal").as("quits_trend_status"))
  }

  private val laborSql: String = s"""
    WITH ${stgFredSql(Seq("JTSJOL", "UNEMPLOY", "UNRATE", "SAHMCURRENT", "ICSA", "EMRATIO", "JTSQUR"))},
    job_openings AS (${mMaxSql("JTSJOL", "job_openings")}),
    unemployed AS (${mMaxSql("UNEMPLOY", "unemployed_count")}),
    unemployment_rate AS (${mMaxSql("UNRATE", "unrate")}),
    sahm_rule AS (${mMaxSql("SAHMCURRENT", "sahm_rule")}),
    claims_monthly AS (
      SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        CAST(SUM(CAST(literal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_monthly_claims,
        MAX(literal) AS max_monthly_claims,
        MIN(literal) AS min_monthly_claims
      FROM stg WHERE series_code = 'ICSA' AND literal IS NOT NULL GROUP BY 1
    ),
    emp_pop_ratio AS (${mMaxSql("EMRATIO", "emratio")}),
    quits_rate AS (${mMaxSql("JTSQUR", "quits_rate")}),
    combined AS (
      SELECT
        COALESCE(jo.month_date, u.month_date, ur.month_date, cm.month_date) AS date,
        jo.job_openings, u.unemployed_count,
        ${oSnap("jo.job_openings / NULLIF(u.unemployed_count, 0)", 3)} AS jo_unemployed_ratio,
        ur.unrate, cm.avg_monthly_claims, ep.emratio, qr.quits_rate, sr.sahm_rule
      FROM job_openings AS jo
      FULL OUTER JOIN unemployed AS u ON jo.month_date = u.month_date
      FULL OUTER JOIN unemployment_rate AS ur
        ON COALESCE(jo.month_date, u.month_date) = ur.month_date
      FULL OUTER JOIN claims_monthly AS cm
        ON COALESCE(jo.month_date, u.month_date, ur.month_date) = cm.month_date
      FULL OUTER JOIN emp_pop_ratio AS ep
        ON COALESCE(jo.month_date, u.month_date, ur.month_date, cm.month_date) = ep.month_date
      FULL OUTER JOIN quits_rate AS qr
        ON COALESCE(jo.month_date, u.month_date, ur.month_date, cm.month_date, ep.month_date) = qr.month_date
      FULL OUTER JOIN sahm_rule AS sr
        ON COALESCE(jo.month_date, u.month_date, ur.month_date, cm.month_date, ep.month_date, qr.month_date) = sr.month_date
    ),
    with_trends AS (
      SELECT *,
        LAG(jo_unemployed_ratio, 3) OVER (ORDER BY date) AS jo_ratio_3m_ago,
        LAG(jo_unemployed_ratio, 6) OVER (ORDER BY date) AS jo_ratio_6m_ago,
        LAG(avg_monthly_claims, 3) OVER (ORDER BY date) AS claims_3m_ago,
        LAG(unrate, 3) OVER (ORDER BY date) AS unrate_3m_ago,
        LAG(quits_rate, 3) OVER (ORDER BY date) AS quits_rate_3m_ago
      FROM combined
    )
    SELECT date, job_openings, unemployed_count, jo_unemployed_ratio, unrate,
      avg_monthly_claims, emratio, quits_rate,
      ${oSnap("jo_unemployed_ratio - jo_ratio_3m_ago", 3)} AS jo_ratio_3m_change,
      ${oSnap("((avg_monthly_claims - claims_3m_ago) / NULLIF(claims_3m_ago, 0)) * 100", 2)} AS claims_3m_pct_change,
      ${oSnap("unrate - unrate_3m_ago", 2)} AS unrate_3m_change,
      ${oSnap("quits_rate - quits_rate_3m_ago", 2)} AS quits_rate_3m_change,
      ${oSnap("sahm_rule", 2)} AS sahm_approx,
      CASE WHEN jo_unemployed_ratio < 0.5 THEN 'high'
           WHEN jo_unemployed_ratio < 1.0 THEN 'medium'
           WHEN jo_unemployed_ratio > 1.5 THEN 'low'
           ELSE 'normal' END AS jo_ratio_status,
      CASE WHEN claims_3m_ago IS NOT NULL AND ((avg_monthly_claims - claims_3m_ago) / NULLIF(claims_3m_ago, 0)) > 0.15 THEN 'high'
           WHEN claims_3m_ago IS NOT NULL AND ((avg_monthly_claims - claims_3m_ago) / NULLIF(claims_3m_ago, 0)) > 0.10 THEN 'medium'
           ELSE 'normal' END AS claims_trend_status,
      CASE WHEN sahm_rule >= 0.50 THEN 'high'
           WHEN sahm_rule >= 0.30 THEN 'medium'
           ELSE 'normal' END AS sahm_approx_status,
      CASE WHEN quits_rate_3m_ago IS NOT NULL AND quits_rate - quits_rate_3m_ago < -0.5 THEN 'high'
           WHEN quits_rate_3m_ago IS NOT NULL AND quits_rate - quits_rate_3m_ago < -0.3 THEN 'medium'
           ELSE 'normal' END AS quits_trend_status
    FROM with_trends
    WHERE date >= $maxDateSql - INTERVAL 36 MONTH
  """

  // ------------------------------------------------------------------
  // fiscal_signals (ref signals/fiscal_signals.sql, 105 LoC)
  // ------------------------------------------------------------------

  private def fiscalSignals(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir, Seq("GFDEGDQ188S", "A091RC1Q027SBEA", "FYFSGDA188S"))

    val wd1 = Window.orderBy(col("d_d"))
    val debt = stg.filter(col("series_code") === "GFDEGDQ188S" && col("value").isNotNull)
      .select(col("date").as("d_d"), col("value").as("debt_gdp_pct"))
      .withColumn("debt_gdp_1y_ago", lag(col("debt_gdp_pct"), 4).over(wd1))
      .withColumn("debt_gdp_2y_ago", lag(col("debt_gdp_pct"), 8).over(wd1))

    val wi = Window.orderBy(col("i_d"))
    val interest = stg.filter(col("series_code") === "A091RC1Q027SBEA" && col("value").isNotNull)
      .select(col("date").as("i_d"), col("value").as("interest_payment"))
      .withColumn("interest_1y_ago", lag(col("interest_payment"), 1 * 4).over(wi))

    val wf = Window.orderBy(col("f_d"))
    val latestDeficit = stg.filter(col("series_code") === "FYFSGDA188S" && col("value").isNotNull)
      .select(col("date").as("f_d"), col("value").as("deficit_gdp_pct"))
      .withColumn("deficit_1y_ago", lag(col("deficit_gdp_pct"), 1).over(wf))
      .withColumn("rn", row_number().over(Window.orderBy(col("f_d").desc)))
      .filter(col("rn") === 1)

    fiscalBody(debt, interest, latestDeficit, s, dir)
  }

  // (split for readability: deficit CTE needs its own select first)
  private def fiscalBody(debt: DataFrame, interest: DataFrame,
      latestDeficit: DataFrame, s: SparkSession, dir: String): DataFrame = {
    val iyg = when(col("interest_1y_ago").isNotNull && col("interest_1y_ago") > 0,
      (col("interest_payment") - col("interest_1y_ago")) / col("interest_1y_ago") * 100)
    debt
      .join(broadcast(interest), col("d_d") === col("i_d"), "left")
      .crossJoin(broadcast(latestDeficit))
      .crossJoin(broadcast(maxDate(s, dir)))
      .select(
        col("d_d").as("date"),
        col("debt_gdp_pct"),
        (col("debt_gdp_pct") - coalesce(col("debt_gdp_1y_ago"), col("debt_gdp_pct")))
          .as("debt_gdp_1y_change"),
        (col("debt_gdp_pct") - coalesce(col("debt_gdp_2y_ago"), col("debt_gdp_pct")))
          .as("debt_gdp_2y_change"),
        col("interest_payment"),
        iyg.as("interest_yoy_growth"),
        col("deficit_gdp_pct"),
        (col("deficit_gdp_pct") - coalesce(col("deficit_1y_ago"), col("deficit_gdp_pct")))
          .as("deficit_yoy_change"))
      .select(
        col("date"), col("debt_gdp_pct"), col("debt_gdp_1y_change"),
        col("debt_gdp_2y_change"), col("interest_payment"), col("interest_yoy_growth"),
        col("deficit_gdp_pct"), col("deficit_yoy_change"),
        when(col("debt_gdp_pct") >= 130, "high")
          .when(col("debt_gdp_pct") >= 100, "medium")
          .when(col("debt_gdp_pct") >= 60, "normal")
          .otherwise("low").as("debt_level_status"),
        when(col("debt_gdp_1y_change") > 5, "high")
          .when(col("debt_gdp_1y_change") > 2, "medium")
          .when(col("debt_gdp_1y_change") > 0, "low")
          .otherwise("normal").as("debt_trajectory_status"),
        when(col("interest_yoy_growth") > 20, "high")
          .when(col("interest_yoy_growth") > 10, "medium")
          .when(col("interest_yoy_growth") > 0, "low")
          .otherwise("normal").as("interest_burden_status"),
        when(col("deficit_gdp_pct") < -6, "high")
          .when(col("deficit_gdp_pct") < -3, "medium")
          .when(col("deficit_gdp_pct") < 0, "low")
          .otherwise("normal").as("deficit_status"))
  }

  private val fiscalSql: String = s"""
    WITH ${stgFredSql(Seq("GFDEGDQ188S", "A091RC1Q027SBEA", "FYFSGDA188S"))},
    debt_gdp AS (
      SELECT date, value AS debt_gdp_pct,
        LAG(value, 4) OVER (ORDER BY date) AS debt_gdp_1y_ago,
        LAG(value, 8) OVER (ORDER BY date) AS debt_gdp_2y_ago
      FROM stg WHERE series_code = 'GFDEGDQ188S' AND value IS NOT NULL
    ),
    interest_payments AS (
      SELECT date, value AS interest_payment,
        LAG(value, 4) OVER (ORDER BY date) AS interest_1y_ago
      FROM stg WHERE series_code = 'A091RC1Q027SBEA' AND value IS NOT NULL
    ),
    deficit_gdp AS (
      SELECT date, value AS deficit_gdp_pct,
        LAG(value, 1) OVER (ORDER BY date) AS deficit_1y_ago,
        ROW_NUMBER() OVER (ORDER BY date DESC) AS rn
      FROM stg WHERE series_code = 'FYFSGDA188S' AND value IS NOT NULL
    ),
    latest_deficit AS (SELECT * FROM deficit_gdp WHERE rn = 1),
    combined AS (
      SELECT d.date, d.debt_gdp_pct,
        d.debt_gdp_pct - COALESCE(d.debt_gdp_1y_ago, d.debt_gdp_pct) AS debt_gdp_1y_change,
        d.debt_gdp_pct - COALESCE(d.debt_gdp_2y_ago, d.debt_gdp_pct) AS debt_gdp_2y_change,
        i.interest_payment,
        CASE WHEN i.interest_1y_ago IS NOT NULL AND i.interest_1y_ago > 0
          THEN ((i.interest_payment - i.interest_1y_ago) / i.interest_1y_ago) * 100
        END AS interest_yoy_growth,
        ld.deficit_gdp_pct,
        ld.deficit_gdp_pct - COALESCE(ld.deficit_1y_ago, ld.deficit_gdp_pct) AS deficit_yoy_change
      FROM debt_gdp d
      LEFT JOIN interest_payments i ON d.date = i.date
      CROSS JOIN latest_deficit ld
    )
    SELECT date, debt_gdp_pct, debt_gdp_1y_change, debt_gdp_2y_change,
      interest_payment, interest_yoy_growth, deficit_gdp_pct, deficit_yoy_change,
      CASE WHEN debt_gdp_pct >= 130 THEN 'high'
           WHEN debt_gdp_pct >= 100 THEN 'medium'
           WHEN debt_gdp_pct >= 60 THEN 'normal'
           ELSE 'low' END AS debt_level_status,
      CASE WHEN debt_gdp_1y_change > 5 THEN 'high'
           WHEN debt_gdp_1y_change > 2 THEN 'medium'
           WHEN debt_gdp_1y_change > 0 THEN 'low'
           ELSE 'normal' END AS debt_trajectory_status,
      CASE WHEN interest_yoy_growth > 20 THEN 'high'
           WHEN interest_yoy_growth > 10 THEN 'medium'
           WHEN interest_yoy_growth > 0 THEN 'low'
           ELSE 'normal' END AS interest_burden_status,
      CASE WHEN deficit_gdp_pct < -6 THEN 'high'
           WHEN deficit_gdp_pct < -3 THEN 'medium'
           WHEN deficit_gdp_pct < 0 THEN 'low'
           ELSE 'normal' END AS deficit_status
    FROM combined
  """

  // ------------------------------------------------------------------
  // economic_alert_inputs (ref signals/economic_alert_inputs.sql)
  // ------------------------------------------------------------------

  private[queries] def alertInputs(s: SparkSession, dir: String): DataFrame = {
    val stg = stgFred(s, dir,
      Seq("CPIAUCSL", "T10Y2Y", "UNRATE", "FEDFUNDS", "BAMLH0A0HYM2"))

    def daily(code: String, dcol: String, vcol: String): DataFrame =
      stg.filter(col("series_code") === code && col("literal").isNotNull)
        .select(col("date").as(dcol), col("literal").as(vcol))

    val wc = Window.orderBy(col("c_d"))
    val cpiYoy = daily("CPIAUCSL", "c_d", "cpi_level")
      .withColumn("cpi_12m_ago", lag(col("cpi_level"), 12).over(wc))
      .filter(col("cpi_12m_ago").isNotNull)
      .select(col("c_d"),
        rsnap((col("cpi_level") / nullif(col("cpi_12m_ago")) - 1) * 100, 2).as("cpi_yoy_pct"))

    val t10 = daily("T10Y2Y", "t_d", "t_v")
      .select(col("t_d"), rsnap(col("t_v"), 3).as("t10y2y_spread"))

    val wu = Window.orderBy(col("u_d"))
    val unr = daily("UNRATE", "u_d", "unrate_level")
      .withColumn("unrate_3mo_ago", lag(col("unrate_level"), 3).over(wu))
      .filter(col("unrate_3mo_ago").isNotNull)
      .select(col("u_d"),
        rsnap(col("unrate_level") - col("unrate_3mo_ago"), 2).as("unrate_change_3mo"))

    val wf = Window.orderBy(col("f_d"))
    val ff = daily("FEDFUNDS", "f_d", "fedfunds_level")
      .withColumn("fedfunds_1mo_ago", lag(col("fedfunds_level"), 1).over(wf))
      .filter(col("fedfunds_1mo_ago").isNotNull)
      .select(col("f_d"),
        rsnap(abs(col("fedfunds_level") - col("fedfunds_1mo_ago")), 3).as("fedfunds_change_1mo"))

    val hy = daily("BAMLH0A0HYM2", "h_d", "h_v")
      .select(col("h_d"), rsnap(col("h_v"), 3).as("hy_oas_pct"))

    val allDates = cpiYoy.select(col("c_d").as("date"))
      .union(t10.select(col("t_d")))
      .union(unr.select(col("u_d")))
      .union(ff.select(col("f_d")))
      .union(hy.select(col("h_d")))
      .distinct()

    allDates
      .join(broadcast(cpiYoy), col("date") === col("c_d"), "left")
      .join(broadcast(t10), col("date") === col("t_d"), "left")
      .join(broadcast(unr), col("date") === col("u_d"), "left")
      .join(broadcast(ff), col("date") === col("f_d"), "left")
      .join(broadcast(hy), col("date") === col("h_d"), "left")
      .crossJoin(broadcast(maxDate(s, dir)))
      .filter(col("date") >= add_months(col("__maxd"), -24))
      .select(col("date"), col("cpi_yoy_pct"), col("t10y2y_spread"),
        col("unrate_change_3mo"), col("fedfunds_change_1mo"), col("hy_oas_pct"))
  }

  private[queries] val alertInputsSql: String = s"""
    WITH ${stgFredSql(Seq("CPIAUCSL", "T10Y2Y", "UNRATE", "FEDFUNDS", "BAMLH0A0HYM2"))},
    cpi AS (
      SELECT date, literal AS cpi_level,
        LAG(literal, 12) OVER (ORDER BY date) AS cpi_12m_ago
      FROM stg WHERE series_code = 'CPIAUCSL' AND literal IS NOT NULL
    ),
    cpi_yoy AS (
      SELECT date,
        ${oSnap("((cpi_level / NULLIF(cpi_12m_ago, 0)) - 1) * 100", 2)} AS cpi_yoy_pct
      FROM cpi WHERE cpi_12m_ago IS NOT NULL
    ),
    t10y2y AS (
      SELECT date, ${oSnap("literal", 3)} AS t10y2y_spread
      FROM stg WHERE series_code = 'T10Y2Y' AND literal IS NOT NULL
    ),
    unrate AS (
      SELECT date, literal AS unrate_level,
        LAG(literal, 3) OVER (ORDER BY date) AS unrate_3mo_ago
      FROM stg WHERE series_code = 'UNRATE' AND literal IS NOT NULL
    ),
    unrate_delta AS (
      SELECT date, ${oSnap("unrate_level - unrate_3mo_ago", 2)} AS unrate_change_3mo
      FROM unrate WHERE unrate_3mo_ago IS NOT NULL
    ),
    fedfunds AS (
      SELECT date, literal AS fedfunds_level,
        LAG(literal, 1) OVER (ORDER BY date) AS fedfunds_1mo_ago
      FROM stg WHERE series_code = 'FEDFUNDS' AND literal IS NOT NULL
    ),
    fedfunds_delta AS (
      SELECT date, ${oSnap("ABS(fedfunds_level - fedfunds_1mo_ago)", 3)} AS fedfunds_change_1mo
      FROM fedfunds WHERE fedfunds_1mo_ago IS NOT NULL
    ),
    hy_oas AS (
      SELECT date, ${oSnap("literal", 3)} AS hy_oas_pct
      FROM stg WHERE series_code = 'BAMLH0A0HYM2' AND literal IS NOT NULL
    ),
    all_dates AS (
      SELECT date FROM cpi_yoy
      UNION SELECT date FROM t10y2y
      UNION SELECT date FROM unrate_delta
      UNION SELECT date FROM fedfunds_delta
      UNION SELECT date FROM hy_oas
    )
    SELECT d.date, c.cpi_yoy_pct, t.t10y2y_spread, u.unrate_change_3mo,
      f.fedfunds_change_1mo, h.hy_oas_pct
    FROM all_dates AS d
    LEFT JOIN cpi_yoy AS c ON d.date = c.date
    LEFT JOIN t10y2y AS t ON d.date = t.date
    LEFT JOIN unrate_delta AS u ON d.date = u.date
    LEFT JOIN fedfunds_delta AS f ON d.date = f.date
    LEFT JOIN hy_oas AS h ON d.date = h.date
    WHERE d.date >= $maxDateSql - INTERVAL 24 MONTH
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_liquidity_signals", liquiditySignals, Some(liquiditySql)),
    QueryDef("q_inflation_signals", inflationSignals, Some(inflationSql)),
    QueryDef("q_labor_signals", laborSignals, Some(laborSql)),
    QueryDef("q_fiscal_signals", fiscalSignals, Some(fiscalSql)),
    QueryDef("q_economic_alert_inputs", alertInputs, Some(alertInputsSql))
  )
}
