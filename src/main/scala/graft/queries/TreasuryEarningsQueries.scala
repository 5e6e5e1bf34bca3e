package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.XmlSources
import graft.runtime.Tables

/** Treasury yield-curve spreads + earnings-calendar staging (refs
  * dbt_project/models/agents_preprocess/
  * agent_treasury_yield_curve_spreads.sql and
  * staging/stg_earnings_calendar.sql):
  *
  *  - yield_curve_spreads: the 11-tenor wide pivot over the XML-parsed
  *    treasury frame → 10y2y / 10y3m / 2y3m / 30y2y spreads plus the
  *    Steep/Normal/Flat/Inverted curve-shape and inversion ladders.
  *    Tenor values and spreads stay raw doubles (the XML round-trip
  *    query already proved raw-double parity). The reference's
  *    incremental-merge config is the write-path concern covered by
  *    SinkOps/q_merge_upsert; the model body here is the full-refresh
  *    SELECT.
  *  - stg_earnings_calendar: typed casts with the safe_cast sentinel
  *    ('.' → NULL via try_cast), calendar breakdowns, EPS/revenue
  *    surprise percentages, beat/miss/met ladder, upcoming/reported
  *    flags and days-until-report (CURRENT_DATE → corpus max date;
  *    BigQuery's Sunday-based EXTRACT(week) maps to ISO week on both
  *    engines here).
  */
object TreasuryEarningsQueries {

  // ------------------------------------------------------------------
  // agent_treasury_yield_curve_spreads (ref, :10-66)
  // ------------------------------------------------------------------

  /** tenor column in the parsed frame -> output yield alias. */
  private val TenorAliases: Seq[(String, String)] = Seq(
    "bc_1month" -> "yield_1m", "bc_3month" -> "yield_3m", "bc_6month" -> "yield_6m",
    "bc_1year" -> "yield_1y", "bc_2year" -> "yield_2y", "bc_3year" -> "yield_3y",
    "bc_5year" -> "yield_5y", "bc_7year" -> "yield_7y", "bc_10year" -> "yield_10y",
    "bc_20year" -> "yield_20y", "bc_30year" -> "yield_30y")

  private def treasurySpreads(s: SparkSession, dir: String): DataFrame = {
    // the XML-parsed treasury frame (same synthesis as q_treasury_xml_yields)
    val b = ModelQueries.bars(s, dir).filter(col("symbol") === "A")
    val tenorFrags = XmlSources.TreasuryTenors.zipWithIndex.map { case (t, j) =>
      val tag  = s"d:${t.toUpperCase}"
      val gate = substring(md5(concat_ws("|", col("d").cast("string"), lit(t))), 1, 1)
      when(gate === "0", lit(s"<$tag></$tag>"))
        .when(gate === "1", lit(""))
        .otherwise(concat(lit(s"<$tag>"),
          (col("close") / (j + 2)).cast("string"), lit(s"</$tag>")))
    }
    val frag = concat(
      lit("<m:properties><d:NEW_DATE>") +: col("d").cast("string") +:
        lit("T00:00:00</d:NEW_DATE>") +: tenorFrags :+ lit("</m:properties>"): _*)
    val parsed = XmlSources.parseTreasuryProperties(
      b.select(col("d"), frag.as("xml")), "xml")

    val pivoted = parsed
      .filter(col("date").isNotNull)
      .select(col("date") +: TenorAliases.map { case (c, a) => col(c).as(a) }: _*)
    val s10y2y = col("yield_10y") - col("yield_2y")
    val s10y3m = col("yield_10y") - col("yield_3m")
    pivoted.select(
      (pivoted.columns.map(col) ++ Seq(
        s10y2y.as("spread_10y_2y"),
        s10y3m.as("spread_10y_3m"),
        (col("yield_2y") - col("yield_3m")).as("spread_2y_3m"),
        (col("yield_30y") - col("yield_2y")).as("spread_30y_2y"),
        when(s10y2y > 0.5, "Steep")
          .when(s10y2y > 0, "Normal")
          .when(s10y2y > -0.5, "Flat")
          .otherwise("Inverted").as("curve_shape"),
        when(s10y2y < 0, "Inverted")
          .when(s10y3m < 0, "Inverted (10Y-3M)")
          .otherwise("Normal").as("inversion_status"))): _*)
  }

  private val treasurySpreadsSql: String = {
    val tenorCols = XmlSources.TreasuryTenors.zipWithIndex.map { case (t, j) =>
      s"""CASE WHEN SUBSTR(md5(CAST(d AS VARCHAR) || '|' || '$t'), 1, 1) IN ('0', '1')
          THEN NULL ELSE close / ${j + 2} END AS $t"""
    }.mkString(",\n          ")
    val aliasCols = TenorAliases.map { case (c, a) => s"$c AS $a" }.mkString(", ")
    s"""
    WITH ${ModelQueries.barsSqlPublic},
    stg_treasury AS (
      SELECT d AS date,
        $tenorCols
      FROM bars WHERE symbol = 'A'
    ),
    pivoted_yields AS (
      SELECT date, $aliasCols
      FROM stg_treasury WHERE date IS NOT NULL
    )
    SELECT date, yield_1m, yield_3m, yield_6m, yield_1y, yield_2y, yield_3y,
      yield_5y, yield_7y, yield_10y, yield_20y, yield_30y,
      yield_10y - yield_2y AS spread_10y_2y,
      yield_10y - yield_3m AS spread_10y_3m,
      yield_2y - yield_3m AS spread_2y_3m,
      yield_30y - yield_2y AS spread_30y_2y,
      CASE WHEN yield_10y - yield_2y > 0.5 THEN 'Steep'
           WHEN yield_10y - yield_2y > 0 THEN 'Normal'
           WHEN yield_10y - yield_2y > -0.5 THEN 'Flat'
           ELSE 'Inverted' END AS curve_shape,
      CASE WHEN yield_10y - yield_2y < 0 THEN 'Inverted'
           WHEN yield_10y - yield_3m < 0 THEN 'Inverted (10Y-3M)'
           ELSE 'Normal' END AS inversion_status
    FROM pivoted_yields
  """
  }

  // ------------------------------------------------------------------
  // stg_earnings_calendar (ref, :44-66 for the surprise calcs)
  // ------------------------------------------------------------------

  private def earningsCalendar(s: SparkSession, dir: String): DataFrame = {
    // raw earnings_calendar synthesized from orders: numeric fields as
    // STRINGS with the '.' sentinel, dates as strings
    val o = Tables(s, dir).orders
    val raw = o.select(
      col("o_orderkey").as("event_id"),
      concat(lit("T"), col("o_custkey") % 100).as("symbol"),
      concat(lit("Company "), col("o_custkey") % 100).as("company_name"),
      date_trunc("quarter", col("o_orderdate")).cast("date").cast("string")
        .as("fiscal_date_ending"),
      when(col("o_orderkey") % 13 === 0, ".")
        .otherwise((col("o_totalprice") / 10000).cast("string")).as("eps_estimated"),
      when(col("o_orderkey") % 7 === 0, ".")
        .otherwise(((col("o_totalprice") + col("o_custkey")) / 10000).cast("string"))
        .as("eps_actual"),
      when(col("o_orderkey") % 11 === 0, ".")
        .otherwise(col("o_totalprice").cast("string")).as("revenue_estimated"),
      when(col("o_orderkey") % 5 === 0, ".")
        .otherwise((col("o_totalprice") + col("o_custkey") % 7).cast("string"))
        .as("revenue_actual"),
      when(col("o_orderkey") % 2 === 0, "bmo").otherwise("amc").as("report_time"),
      when(col("o_orderkey") % 3 === 0, "pre-market").otherwise("post-market").as("timing"),
      lit("earnings").as("event_type"),
      lit("calendar_api").as("source"),
      lit("2026-01-01T00:00:00").as("fetched_at"),
      when(col("o_orderkey") % 97 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderdate").cast("string")).as("report_date"))

    val maxD = Tables(s, dir).lineitem.agg(max(to_date(col("l_shipdate"))).as("__maxd"))
    val typed = raw
      .filter(col("report_date").isNotNull)
      .withColumn("report_dt", try_cast(col("report_date"), "date"))
      .withColumn("eps_actual_f", try_cast(nullifDot(col("eps_actual")), "double"))
      .withColumn("eps_estimated_f", try_cast(nullifDot(col("eps_estimated")), "double"))
      .withColumn("revenue_actual_f", try_cast(nullifDot(col("revenue_actual")), "double"))
      .withColumn("revenue_estimated_f", try_cast(nullifDot(col("revenue_estimated")), "double"))
      .crossJoin(broadcast(maxD))

    typed.select(
      col("event_id"), col("symbol"), col("company_name"), col("fiscal_date_ending"),
      col("eps_estimated"), col("eps_actual"), col("revenue_estimated"),
      col("revenue_actual"), col("report_time"), col("timing"), col("event_type"),
      col("source"), col("fetched_at"),
      col("report_dt").as("report_date"),
      year(col("report_dt")).cast("long").as("year"),
      month(col("report_dt")).cast("long").as("month"),
      weekofyear(col("report_dt")).cast("long").as("week_of_year"),
      dayofweek(col("report_dt")).cast("long").as("day_of_week"),
      when(col("eps_actual_f").isNotNull && col("eps_estimated_f").isNotNull &&
        col("eps_estimated_f") =!= 0,
        (col("eps_actual_f") - col("eps_estimated_f")) / abs(col("eps_estimated_f")) * 100)
        .as("eps_surprise_pct"),
      when(col("eps_actual_f").isNotNull && col("eps_estimated_f").isNotNull,
        when(col("eps_actual_f") > col("eps_estimated_f"), "beat")
          .when(col("eps_actual_f") < col("eps_estimated_f"), "miss")
          .otherwise("met")).as("eps_result"),
      when(col("revenue_actual_f").isNotNull && col("revenue_estimated_f").isNotNull &&
        col("revenue_estimated_f") =!= 0,
        (col("revenue_actual_f") - col("revenue_estimated_f")) /
          abs(col("revenue_estimated_f")) * 100).as("revenue_surprise_pct"),
      coalesce(col("report_dt") > col("__maxd"), lit(false)).as("is_upcoming"),
      datediff(col("report_dt"), col("__maxd")).cast("long").as("days_until_report"),
      col("eps_actual_f").isNotNull.as("has_reported"))
  }

  private def nullifDot(c: Column): Column = when(c =!= ".", c)

  private def try_cast(c: Column, t: String): Column =
    c.try_cast(t)

  private val earningsCalendarSql: String = s"""
    WITH source AS (
      SELECT o_orderkey AS event_id,
        'T' || CAST(o_custkey % 100 AS VARCHAR) AS symbol,
        'Company ' || CAST(o_custkey % 100 AS VARCHAR) AS company_name,
        CAST(CAST(DATE_TRUNC('quarter', o_orderdate) AS DATE) AS VARCHAR) AS fiscal_date_ending,
        CASE WHEN o_orderkey % 13 = 0 THEN '.'
             ELSE CAST(o_totalprice / 10000 AS VARCHAR) END AS eps_estimated,
        CASE WHEN o_orderkey % 7 = 0 THEN '.'
             ELSE CAST((o_totalprice + o_custkey) / 10000 AS VARCHAR) END AS eps_actual,
        CASE WHEN o_orderkey % 11 = 0 THEN '.'
             ELSE CAST(o_totalprice AS VARCHAR) END AS revenue_estimated,
        CASE WHEN o_orderkey % 5 = 0 THEN '.'
             ELSE CAST(o_totalprice + o_custkey % 7 AS VARCHAR) END AS revenue_actual,
        CASE WHEN o_orderkey % 2 = 0 THEN 'bmo' ELSE 'amc' END AS report_time,
        CASE WHEN o_orderkey % 3 = 0 THEN 'pre-market' ELSE 'post-market' END AS timing,
        'earnings' AS event_type,
        'calendar_api' AS source,
        '2026-01-01T00:00:00' AS fetched_at,
        CASE WHEN o_orderkey % 97 = 0 THEN NULL
             ELSE CAST(o_orderdate AS VARCHAR) END AS report_date
      FROM orders
    ),
    typed AS (
      SELECT *,
        TRY_CAST(report_date AS DATE) AS report_dt,
        TRY_CAST(NULLIF(eps_actual, '.') AS DOUBLE) AS eps_actual_f,
        TRY_CAST(NULLIF(eps_estimated, '.') AS DOUBLE) AS eps_estimated_f,
        TRY_CAST(NULLIF(revenue_actual, '.') AS DOUBLE) AS revenue_actual_f,
        TRY_CAST(NULLIF(revenue_estimated, '.') AS DOUBLE) AS revenue_estimated_f
      FROM source
      WHERE report_date IS NOT NULL
    )
    SELECT event_id, symbol, company_name, fiscal_date_ending,
      eps_estimated, eps_actual, revenue_estimated, revenue_actual,
      report_time, timing, event_type, source, fetched_at,
      report_dt AS report_date,
      CAST(EXTRACT(YEAR FROM report_dt) AS BIGINT) AS year,
      CAST(EXTRACT(MONTH FROM report_dt) AS BIGINT) AS month,
      CAST(EXTRACT(WEEK FROM report_dt) AS BIGINT) AS week_of_year,
      CAST(EXTRACT(DOW FROM report_dt) + 1 AS BIGINT) AS day_of_week,
      CASE WHEN eps_actual_f IS NOT NULL AND eps_estimated_f IS NOT NULL
            AND eps_estimated_f != 0
        THEN ((eps_actual_f - eps_estimated_f) / ABS(eps_estimated_f)) * 100
      END AS eps_surprise_pct,
      CASE WHEN eps_actual_f IS NOT NULL AND eps_estimated_f IS NOT NULL THEN
        CASE WHEN eps_actual_f > eps_estimated_f THEN 'beat'
             WHEN eps_actual_f < eps_estimated_f THEN 'miss'
             ELSE 'met' END
      END AS eps_result,
      CASE WHEN revenue_actual_f IS NOT NULL AND revenue_estimated_f IS NOT NULL
            AND revenue_estimated_f != 0
        THEN ((revenue_actual_f - revenue_estimated_f) / ABS(revenue_estimated_f)) * 100
      END AS revenue_surprise_pct,
      COALESCE(report_dt > (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem), FALSE)
        AS is_upcoming,
      CAST(report_dt - (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem) AS BIGINT)
        AS days_until_report,
      eps_actual_f IS NOT NULL AS has_reported
    FROM typed
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_treasury_yield_curve_spreads", treasurySpreads, Some(treasurySpreadsSql)),
    QueryDef("q_stg_earnings_calendar", earningsCalendar, Some(earningsCalendarSql))
  )
}
