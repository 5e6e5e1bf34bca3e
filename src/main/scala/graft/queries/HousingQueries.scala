package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.{dsum, r4, rsnap, oSnap}
import graft.runtime.Tables

/** The government housing named models + fred_series_grain (SURVEY.md
  * §2.M; ref dbt_project/models/government): quarter-string parsing to
  * quarter-start dates, the '(z)' sentinel filter, the households
  * year-join fan-out (reference quirk: one row per ESTIMATE×TTLHH pair
  * per year — replicated literally), 30-year amortization math, and
  * the quarterly latest-aggregates with the SAME numerator-reuse bug
  * as fred_series_latest_aggregates (pct_change_6m/1y keep the 3m
  * numerator; lags are 1/2/4 quarters).
  *
  * The census-like staging is synthesized from orders with md5-free
  * modular gates; cell_value goes through a STRING round trip
  * ('(z)' sentinel + CAST back), exactly the reference's shape.
  */
object HousingQueries {

  /** stg_housing_inventory synthesized from orders. */
  private def stgHousing(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders.select(
      concat(lit("DT"), col("o_custkey") % 5).as("data_type_code"),
      when(col("o_orderkey") % 2 === 0, "yes").otherwise("no").as("seasonally_adj"),
      when(col("o_orderkey") % 7 === 0, "TTLHH")
        .when(col("o_orderkey") % 7 < 5, "ESTIMATE")
        .otherwise("OTHER").as("category_code"),
      when(col("o_orderkey") % 31 === 0, "(z)")
        .otherwise(col("o_totalprice").cast("string")).as("cell_value"),
      when(col("o_orderkey") % 11 === 0, "yes").otherwise("no").as("error_data"),
      concat(year(col("o_orderdate")), lit("Q"), quarter(col("o_orderdate"))).as("time"),
      when(col("o_custkey") % 4 === 0, "Renter Occupied Units")
        .when(col("o_custkey") % 4 === 1, "Owner Occupied Units")
        .when(col("o_custkey") % 4 === 2, "Total Vacant Housing Units")
        .otherwise("Total Households").as("series_name"),
      concat(lit("grp"), col("o_custkey") % 3).as("plot_grouping"))

  private val stgHousingSql = """
    stg AS (
      SELECT
        'DT' || CAST(o_custkey % 5 AS VARCHAR) AS data_type_code,
        CASE WHEN o_orderkey % 2 = 0 THEN 'yes' ELSE 'no' END AS seasonally_adj,
        CASE WHEN o_orderkey % 7 = 0 THEN 'TTLHH'
             WHEN o_orderkey % 7 < 5 THEN 'ESTIMATE'
             ELSE 'OTHER' END AS category_code,
        CASE WHEN o_orderkey % 31 = 0 THEN '(z)'
             ELSE CAST(o_totalprice AS VARCHAR) END AS cell_value,
        CASE WHEN o_orderkey % 11 = 0 THEN 'yes' ELSE 'no' END AS error_data,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) || 'Q'
          || CAST(EXTRACT(QUARTER FROM o_orderdate) AS VARCHAR) AS time,
        CASE WHEN o_custkey % 4 = 0 THEN 'Renter Occupied Units'
             WHEN o_custkey % 4 = 1 THEN 'Owner Occupied Units'
             WHEN o_custkey % 4 = 2 THEN 'Total Vacant Housing Units'
             ELSE 'Total Households' END AS series_name,
        'grp' || CAST(o_custkey % 3 AS VARCHAR) AS plot_grouping
      FROM orders
    )"""

  /** Quarter-string → quarter-start date (housing_inventory.sql CASE). */
  private def quarterDate(timeCol: Column): Column =
    to_date(concat(substring(timeCol, 1, 4),
      when(substring(timeCol, 5, 2) === "Q1", "-01-01")
        .when(substring(timeCol, 5, 2) === "Q2", "-04-01")
        .when(substring(timeCol, 5, 2) === "Q3", "-07-01")
        .when(substring(timeCol, 5, 2) === "Q4", "-10-01")))

  private def quarterDateSql(t: String): String =
    s"""CAST(LEFT($t, 4) ||
        CASE RIGHT($t, 2) WHEN 'Q1' THEN '-01-01' WHEN 'Q2' THEN '-04-01'
                          WHEN 'Q3' THEN '-07-01' WHEN 'Q4' THEN '-10-01' END AS DATE)"""

  /** housing_inventory model output (shared by the downstream two). */
  private def housingInventory(s: SparkSession, dir: String): DataFrame =
    stgHousing(s, dir)
      .filter(col("cell_value") =!= "(z)")
      .select(
        col("data_type_code").as("data_code"), col("seasonally_adj"), col("category_code"),
        col("cell_value").cast("double").as("series_value"),
        col("error_data"), col("time"), col("series_name"), col("plot_grouping"),
        quarterDate(col("time")).as("time_date"))

  private val housingInventorySql = s"""
    $stgHousingSql,
    hi AS (
      SELECT data_type_code AS data_code, seasonally_adj, category_code,
        CAST(cell_value AS DOUBLE) AS series_value,
        error_data, time, series_name, plot_grouping,
        ${quarterDateSql("time")} AS time_date
      FROM stg WHERE cell_value != '(z)'
    )"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_housing_inventory",
      (s, dir) => housingInventory(s, dir),
      Some(s"WITH $housingInventorySql SELECT * FROM hi")
    ),
    // housing_inventory_and_population.sql: TTLHH rows (no error
    // filter!) keyed by year, LEFT JOIN fan-out onto the three
    // ESTIMATE series — one output row per estimate×household pair.
    QueryDef(
      "q_housing_inventory_population",
      (s, dir) => {
        val hi = housingInventory(s, dir)
        val hs = hi
          .filter(col("category_code") === "TTLHH" && col("series_value").isNotNull)
          .select(col("series_value").as("number_of_households"),
            year(col("time_date")).as("hs_year"))
        hi
          .filter(col("error_data") === "no" && col("category_code") === "ESTIMATE" &&
            col("series_name").isin("Renter Occupied Units", "Owner Occupied Units",
              "Total Vacant Housing Units"))
          .join(hs, year(col("time_date")) === col("hs_year"), "left")
          .select(col("series_name"), col("series_value"), col("time_date"),
            col("number_of_households"), year(col("time_date")).cast("long").as("year"))
      },
      Some(s"""
        WITH $housingInventorySql,
        hs AS (
          SELECT series_value AS number_of_households,
            EXTRACT(YEAR FROM time_date) AS hs_year
          FROM hi WHERE category_code = 'TTLHH' AND series_value IS NOT NULL
        )
        SELECT series_name, series_value, time_date, number_of_households,
          CAST(EXTRACT(YEAR FROM time_date) AS BIGINT) AS year
        FROM hi LEFT JOIN hs ON EXTRACT(YEAR FROM time_date) = hs.hs_year
        WHERE error_data = 'no' AND category_code = 'ESTIMATE'
          AND series_name IN ('Renter Occupied Units', 'Owner Occupied Units',
                              'Total Vacant Housing Units')
      """)
    ),
    // housing_inventory_latest_aggregates.sql: quarterly lags 1/2/4
    // with the numerator-reuse bug, latest quarter per series.
    QueryDef(
      "q_housing_latest_aggregates",
      (s, dir) => {
        val inv = stgHousing(s, dir)
          .filter(col("cell_value") =!= "(z)" && col("error_data") === "no")
          .select(col("data_type_code").as("series_code"), col("series_name"),
            col("cell_value").cast("double").as("clean_value"),
            quarterDate(col("time")).as("month"))
        // the reference carries duplicate (series, month) rows into the
        // window — collapse first is NOT what it does; LAG runs over
        // row grain. Tie-break the order deterministically by value.
        val w = Window.partitionBy(col("series_code"))
          .orderBy(col("month"), col("series_name"), col("clean_value"))
        val lagged = inv
          .withColumn("v3", lag(col("clean_value"), 1).over(w))
          .withColumn("v6", lag(col("clean_value"), 2).over(w))
          .withColumn("v1y", lag(col("clean_value"), 4).over(w))
        val calc = lagged.select(
          col("series_code"), col("series_name"), col("month"),
          col("clean_value").as("current_value"),
          when(col("v3").isNull || col("v3") === 0, lit(null))
            .otherwise(round((col("clean_value") - col("v3")) / col("v3"), 2)).as("pct_change_3m"),
          when(col("v6").isNull || col("v6") === 0, lit(null))
            .otherwise(round((col("clean_value") - col("v3")) / col("v6"), 2)).as("pct_change_6m"),
          when(col("v1y").isNull || col("v1y") === 0, lit(null))
            .otherwise(round((col("clean_value") - col("v3")) / col("v1y"), 2)).as("pct_change_1y"),
          lit("Quarterly").as("date_grain"))
        val latest = calc.groupBy(col("series_code").as("mc")).agg(max(col("month")).as("mm"))
        calc.join(latest, col("series_code") === col("mc") && col("month") === col("mm"))
          .select("series_code", "series_name", "month", "current_value",
            "pct_change_3m", "pct_change_6m", "pct_change_1y", "date_grain")
      },
      Some(s"""
        WITH $stgHousingSql,
        inv AS (
          SELECT data_type_code AS series_code, series_name,
            CAST(cell_value AS DOUBLE) AS clean_value,
            ${quarterDateSql("time")} AS month
          FROM stg WHERE cell_value != '(z)' AND error_data = 'no'
        ),
        lagged AS (
          SELECT *,
            LAG(clean_value, 1) OVER w AS v3,
            LAG(clean_value, 2) OVER w AS v6,
            LAG(clean_value, 4) OVER w AS v1y
          FROM inv
          WINDOW w AS (PARTITION BY series_code ORDER BY month, series_name, clean_value)
        ),
        calc AS (
          SELECT series_code, series_name, month, clean_value AS current_value,
            CASE WHEN v3 IS NULL OR v3 = 0 THEN NULL
                 ELSE ROUND((clean_value - v3) / v3, 2) + 0.0 END AS pct_change_3m,
            CASE WHEN v6 IS NULL OR v6 = 0 THEN NULL
                 ELSE ROUND((clean_value - v3) / v6, 2) + 0.0 END AS pct_change_6m,
            CASE WHEN v1y IS NULL OR v1y = 0 THEN NULL
                 ELSE ROUND((clean_value - v3) / v1y, 2) + 0.0 END AS pct_change_1y,
            'Quarterly' AS date_grain
          FROM lagged
        )
        SELECT c.series_code, c.series_name, c.month, c.current_value,
               c.pct_change_3m, c.pct_change_6m, c.pct_change_1y, c.date_grain
        FROM calc c
        JOIN (SELECT series_code, MAX(month) AS mm FROM calc GROUP BY 1) m
          ON c.series_code = m.series_code AND c.month = m.mm
      """)
    ),
    // housing_mortgage_rates.sql: monthly-averaged rate series joined
    // to the monthly median-price series; 360-payment amortization.
    QueryDef(
      "q_housing_mortgage_rates",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val rate = li
          .groupBy(trunc(to_date(col("l_shipdate")), "month").as("date"))
          .agg((dsum(col("l_quantity")) / count(lit(1)) / 10.0).as("mortgage_rate"))
        val price = Tables(s, dir).orders
          .groupBy(trunc(to_date(col("o_orderdate")), "month").as("date"))
          .agg(QueryDef.rdiv(
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 6))),
            count(lit(1)), 4).as("median_price_no_down_payment"))
          .withColumn("median_price_20_pct_down_payment",
            col("median_price_no_down_payment") * 0.8)
        val r360 = col("mortgage_rate") / 12 / 100
        def payment(p: Column) =
          round(p * (r360 * pow(lit(1.0) + r360, 360)) / (pow(lit(1.0) + r360, 360) - 1), 2)
        rate.join(price, Seq("date"))
          .select(col("date"),
            col("median_price_no_down_payment"), col("median_price_20_pct_down_payment"),
            col("mortgage_rate"),
            payment(col("median_price_no_down_payment")).as("monthly_payment_no_down_payment"),
            payment(col("median_price_20_pct_down_payment")).as("monthly_payment_20_pct_down_payment"))
      },
      Some(s"""
        WITH rate AS (
          SELECT CAST(DATE_TRUNC('month', CAST(l_shipdate AS DATE)) AS DATE) AS date,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) / 10.0 AS mortgage_rate
          FROM lineitem GROUP BY 1
        ),
        price AS (
          SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS date,
            ${QueryDef.oDivRound("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)", "COUNT(*)", 4)}
              AS median_price_no_down_payment
          FROM orders GROUP BY 1
        )
        SELECT rate.date,
          median_price_no_down_payment,
          median_price_no_down_payment * 0.8 AS median_price_20_pct_down_payment,
          mortgage_rate,
          ROUND(median_price_no_down_payment
            * (mortgage_rate / 12 / 100 * POWER(1 + mortgage_rate / 12 / 100, 360))
            / (POWER(1 + mortgage_rate / 12 / 100, 360) - 1), 2) + 0.0
            AS monthly_payment_no_down_payment,
          ROUND(median_price_no_down_payment * 0.8
            * (mortgage_rate / 12 / 100 * POWER(1 + mortgage_rate / 12 / 100, 360))
            / (POWER(1 + mortgage_rate / 12 / 100, 360) - 1), 2) + 0.0
            AS monthly_payment_20_pct_down_payment
        FROM rate JOIN price ON rate.date = price.date
      """)
    ),
    // fred_series_grain.sql: trailing-12-month observation counts per
    // series → coverage bucket. (The reference's LAG(prev/two-events)
    // columns are dead code — never selected — and are elided.)
    QueryDef(
      "q_fred_series_grain",
      (s, dir) => {
        val fred   = FredQueries.fredSeries(s, dir)
        val anchor = fred.agg(max(col("d")).as("end_d"))
          .select(col("end_d"), add_months(col("end_d"), -12).as("start_d"))
        fred.crossJoin(broadcast(anchor))
          .filter(col("d") >= col("start_d") && col("d") <= col("end_d"))
          .groupBy(col("series_code"), col("series_name"))
          .agg(count(lit(1)).as("entry_count"))
          .select(col("series_code"), col("series_name"), col("entry_count"),
            when(col("entry_count") >= 200, "Daily")
              .when(col("entry_count") >= 50, "Weekly")
              .when(col("entry_count") >= 9, "Monthly")
              .when(col("entry_count") >= 2, "Quarterly")
              .when(col("entry_count") >= 1, "Annually")
              .otherwise("Limited Data").as("coverage_status"))
      },
      Some(s"""
        WITH ${FredQueries.fredSeriesSql},
        bounds AS (SELECT MAX(d) AS end_d, MAX(d) - INTERVAL 12 MONTH AS start_d FROM fred)
        SELECT series_code, series_name,
          CAST(COUNT(*) AS BIGINT) AS entry_count,
          CASE WHEN COUNT(*) >= 200 THEN 'Daily'
               WHEN COUNT(*) >= 50 THEN 'Weekly'
               WHEN COUNT(*) >= 9 THEN 'Monthly'
               WHEN COUNT(*) >= 2 THEN 'Quarterly'
               WHEN COUNT(*) >= 1 THEN 'Annually'
               ELSE 'Limited Data' END AS coverage_status
        FROM fred, bounds
        WHERE d >= start_d AND d <= end_d
        GROUP BY series_code, series_name
      """)
    )
  )
}
