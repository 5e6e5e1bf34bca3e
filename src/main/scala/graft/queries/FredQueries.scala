package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.runtime.{Materialized, Tables}
import graft.queries.QueryDef.{dsum, r4}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** The named FRED model family (SURVEY.md §2.M row 93; refs
  * dbt_project/models/government/fred_series_latest_aggregates.sql,
  * fred_monthly_diff.sql, fred_quarterly_roc.sql) — replicated
  * 1:1 including the reference's documented bugs:
  *
  *  - `fred_series_latest_aggregates.sql:96-106`: pct_change_6m and
  *    pct_change_1y REUSE the 3-month numerator
  *    `(clean_value - value_3m_ago)` — only the denominator switches
  *    to the 6m/1y lag. Replicated literally.
  *  - lag months are data-present months, NOT a spine: a series with
  *    gaps lags over observed months (reference has no date spine in
  *    this model).
  *  - `fred_monthly_diff.sql:57-95`: single-neighbor interpolation —
  *    a ≥2-month interior gap has NULL prev/next actuals and drops as
  *    'No Data'; boundary fills are forward/backward single-row only.
  *
  * CURRENT_DATE() in the reference is replaced by the corpus max date
  * (deterministic anchor; same 12-month trailing window semantics).
  *
  * The fred-like staging maps lineitem onto (series_code, series_name,
  * d, value) at three densities so every grain branch (Daily … Annually
  * and the exclusion gate) is exercised: per-returnflag (dense),
  * per-supplier-bucket (medium), per-part-bucket (sparse).
  */
object FredQueries {

  /** round(x, 2) with a DECIMAL(18,6) snap first. Values derived from
    * round-4 inputs (diffs, /2 midpoints) land EXACTLY on .xx5: rounding
    * the raw double there is engine-dependent (DuckDB rounds the binary
    * value, Spark the shortest decimal repr — and the double's ~1e-11
    * error makes either side of the boundary reachable). Snapping to 6
    * decimals first is deterministic on both engines (error ≪ 5e-7), so
    * both round the same exact decimal. Mirror of the oracle-side
    * CAST(ROUND(CAST(x AS DECIMAL(18,6)),2) AS DOUBLE). */
  private def r2snap(c: Column): Column =
    round(c.cast(DecimalType(18, 6)), 2).cast("double")

  private def oR2snap(x: String): String =
    s"CAST(ROUND(CAST($x AS DECIMAL(18,6)), 2) AS DOUBLE) + 0.0"

  /** One observation row per (series_code, d): daily-grain staging.
    * Shared with the other government named models (fred_series_grain,
    * housing_mortgage_rates).
    *
    * `minDate`: callers whose downstream windows provably never reach
    * earlier observations (the snapshot models' trailing year below a
    * static cutoff) pass the bound so it lands IN the parquet scan as
    * a pushed filter — at 100 TB that is the difference between
    * scanning the full history and one trailing slice. Results are
    * identical by construction (rows below the bound cannot join any
    * snapshot window). */
  def fredSeries(s: SparkSession, dir: String,
                 minDate: Option[String] = None,
                 seriesKeyed: Boolean = true): DataFrame = {
    val li0 = Tables(s, dir).lineitem
    val li = minDate.fold(li0)(d => li0.filter(to_date(col("l_shipdate")) >= to_date(lit(d))))
    // ONE fact scan for all three families: each lineitem row fans out
    // to its flag_/supp_/part_ series keys via explode, so the staging
    // pays one scan + one shuffle where the per-family union paid
    // three of each (VERDICT r6: redundant upstream recomputation).
    // Row-identical to the union: the family functions are total and
    // their key prefixes are disjoint, so the grouped cells coincide.
    // Per-day value is an int-ratio quotient (decimal sum / count):
    // divide in DECIMAL so .xxxx5 boundaries round half-up identically
    // on both engines (rdiv pattern; a raw-double round is
    // engine-dependent exactly on those boundaries).
    val fams = array(
      concat(lit("flag_"), col("l_returnflag")),
      concat(lit("supp_"), col("l_suppkey") % 23),
      concat(lit("part_"), col("l_partkey") % 4999))
    // persisted: several consumers (grain gate + monthly aggs + anchor
    // scans) reference this staging more than once in one plan — the
    // fact-table aggregation pass must not repeat per branch (same
    // contract as FredSignalQueries.stgFred; Verify/Bench clear the
    // cache between queries).
    //
    // r11 (guide §2.4 — operations keyed the same way share one
    // exchange): the cached cells are RE-KEYED by series_code alone
    // and materialized eagerly. HashPartitioning(series_code)
    // satisfies ClusteredDistribution for EVERY downstream grouping
    // that contains series_code — the monthly rollup, the grain gate,
    // the per-series cell collect, the per-series windows — so each
    // consumer's whole aggregation chain plans with ZERO further
    // exchanges instead of one per step. The eager count exists
    // because an unmaterialized AQE cache reports unknown output
    // partitioning (the boundedBfs gotcha): consumers planned against
    // a cold cache would re-insert every exchange. One extra
    // cell-sized shuffle here removes two-to-three per consumer.
    //
    // `seriesKeyed = false` keeps the round-6 lazy shape for the two
    // spine-join consumers (fred_monthly_diff / quarterly_roc): their
    // joins on (series_code, d) and (series_code, year_month) re-
    // exchange regardless (co-partitioning requires ALL join keys), so
    // for them the re-key + eager count is pure overhead (measured
    // +0.5–0.8 s each at sf0.1).
    val cells = li.select(col("l_extendedprice"), to_date(col("l_shipdate")).as("d"),
        explode(fams).as("series_code"))
      .groupBy(col("series_code"), col("d"))
      .agg(QueryDef.rdiv(sum(col("l_extendedprice").cast(DecimalType(18, 6))), count(lit(1)), 4)
        .as("value"))
      .withColumn("series_name", concat(lit("Series "), col("series_code")))
    if (!seriesKeyed) Materialized.persist(cells)
    else {
      // explicit width: a bare repartition(col) is AQE-coalescible and
      // collapses this small cache to ~1 partition, serializing every
      // exchange-free consumer chain downstream — pin the session width
      val staged = Materialized.persist(cells
        .repartition(s.conf.get("spark.sql.shuffle.partitions", "200").toInt,
          col("series_code")))
      staged.count()
      staged
    }
  }

  val fredSeriesSql = s"""
    fred AS (
      SELECT series_code, 'Series ' || series_code AS series_name, d,
             ${QueryDef.oDivRound(
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
    "COUNT(*)", 4)} AS value
      FROM (
        SELECT 'flag_' || l_returnflag AS series_code, CAST(l_shipdate AS DATE) AS d, l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'supp_' || CAST(l_suppkey % 23 AS VARCHAR), CAST(l_shipdate AS DATE), l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'part_' || CAST(l_partkey % 4999 AS VARCHAR), CAST(l_shipdate AS DATE), l_extendedprice FROM lineitem
      )
      GROUP BY 1, 3
    )"""

  /** Monthly-grain staging (first-of-month dates), one row per
    * (series_code, month) — the shape fred_monthly_diff assumes. */
  private def fredMonthly(s: SparkSession, dir: String): DataFrame =
    fredSeries(s, dir, seriesKeyed = false)
      .groupBy(col("series_code"), col("series_name"), trunc(col("d"), "month").as("d"))
      .agg(r4(dsum(col("value")) / count(lit(1))).as("value"))

  private val fredMonthlySql = s"""
    $fredSeriesSql,
    fredm AS (
      SELECT series_code, series_name, CAST(DATE_TRUNC('month', d) AS DATE) AS d,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) + 0.0 AS value
      FROM fred
      GROUP BY 1, 2, 3
    )"""

  /** Grouped per-series month-cell frame: (series_code, series_name,
    * date_grain, cells sorted by month, n) — the shared core of
    * fred_series_latest_aggregates and its per-month consumers.
    *
    * ONE aggregation pass computes both the monthly cells AND the
    * trailing-year observation counts the grain gate needs (the
    * round-6 shape paid a separate grain pass over the staging plus a
    * staging-grain join before aggregating): each monthly cell carries
    * its in-window raw-row count; the per-series grain is then a
    * rollup of the tiny monthly frame, broadcast back. Cells and
    * counts are identical by construction, so the oracle (separate
    * grain CTE) hash-matches unchanged. */
  private def fredCellsGrouped(s: SparkSession, dir: String): DataFrame = {
    val fred   = fredSeries(s, dir)
    val anchor = fred.agg(max(col("d")).as("end_d")).select(col("end_d"), add_months(col("end_d"), -12).as("start_d"))
    val monthly = fred
      .crossJoin(broadcast(anchor))
      .groupBy(col("series_code"), col("series_name"),
        trunc(col("d"), "month").as("month"))
      .agg(
        // rdiv, not round(double): monthly means of 4dp daily values
        // land exactly on .xxxx5 half boundaries (count=2 makes the
        // 5th digit 0/5), where double rounding is engine-dependent —
        // the exact decimal division is the boundary-proof pair with
        // the oracle's oDivRound
        QueryDef.rdiv(sum(col("value").cast(DecimalType(18, 6))), count(lit(1)), 4)
          .as("clean_value"),
        sum(when(col("d") >= col("start_d") && col("d") <= col("end_d"), 1L)
          .otherwise(0L)).as("win_cnt"))
    val grain = monthly
      .groupBy(col("series_code").as("gsc"))
      .agg(sum(col("win_cnt")).as("entry_count"))
      .select(
        col("gsc"),
        when(col("entry_count") >= 200, "Daily")
          .when(col("entry_count") >= 50, "Weekly")
          .when(col("entry_count") >= 9, "Monthly")
          .when(col("entry_count") >= 2, "Quarterly")
          .when(col("entry_count") >= 1, "Annually")
          .otherwise("Limited Data")
          .as("date_grain")
      )
    monthly
      .join(broadcast(grain), col("series_code") === col("gsc"))
      .filter(col("date_grain").isin("Daily", "Monthly", "Quarterly", "Weekly"))
      .groupBy(col("series_code"), col("series_name"), col("date_grain"))
      .agg(sort_array(collect_list(struct(col("month"), col("clean_value")))).as("cells"))
      .withColumn("n", size(col("cells")))
  }

  /** Positional pct change at cell index `at` vs `off` cells earlier —
    * with THE BUG (fred_series_latest_aggregates.sql:96-106): 6m/1y
    * changes keep the 3m numerator; only the denominator switches. */
  private def cellPct(at: Column, off: Int): Column = {
    def cellAt(i: Column) = element_at(col("cells"), i).getField("clean_value")
    val cur = cellAt(at)
    val v   = when(at > off, cellAt(at - off))
    val v3  = when(at > 3, cellAt(at - 3))
    // rsnap, not round(double): ratios of exact 4dp cells can land on
    // .xx5 halves where raw-double rounding is engine-dependent
    when(v.isNull || v === 0, lit(null)).otherwise(QueryDef.rsnap((cur - v3) / v, 2))
  }

  /** Per-MONTH calc rows (series_code, series_name, month,
    * current_value, pct_change_3m/6m/1y, date_grain) — the
    * batch-equivalent of the reference's ACCUMULATED incremental
    * agent_fred_series_latest_aggregates table (each dbt run merges
    * its latest month by (series, month), so over time the table
    * holds monthly history; consumers like data_point_finder.py query
    * it with month-range predicates). */
  def fredMonthlyCalc(s: SparkSession, dir: String): DataFrame =
    fredCellsGrouped(s, dir)
      .select(col("series_code"), col("series_name"), col("date_grain"), col("cells"),
        posexplode(col("cells")))
      .withColumn("i", col("pos") + 1)
      .select(
        col("series_code"), col("series_name"),
        col("col").getField("month").as("month"),
        col("col").getField("clean_value").as("current_value"),
        cellPct(col("i"), 3).as("pct_change_3m"),
        cellPct(col("i"), 6).as("pct_change_6m"),
        cellPct(col("i"), 12).as("pct_change_1y"),
        col("date_grain"))

  /** Oracle CTE chain ending at `calc` — per-month rows mirroring
    * [[fredMonthlyCalc]]; q_fred_latest_aggregates adds the
    * latest-month join on top. */
  val fredCalcCtes: String = s"""
    $fredSeriesSql,
    bounds AS (SELECT MAX(d) AS end_d, MAX(d) - INTERVAL 12 MONTH AS start_d FROM fred),
    grain AS (
      SELECT series_code,
        CASE WHEN COUNT(*) >= 200 THEN 'Daily'
             WHEN COUNT(*) >= 50 THEN 'Weekly'
             WHEN COUNT(*) >= 9 THEN 'Monthly'
             WHEN COUNT(*) >= 2 THEN 'Quarterly'
             WHEN COUNT(*) >= 1 THEN 'Annually'
             ELSE 'Limited Data' END AS date_grain
      FROM fred, bounds
      WHERE d >= start_d AND d <= end_d
      GROUP BY series_code
    ),
    aggs AS (
      SELECT f.series_code, f.series_name, g.date_grain,
        CAST(DATE_TRUNC('month', f.d) AS DATE) AS month,
        ${QueryDef.oDivRound(
      "CAST(SUM(CAST(f.value AS DECIMAL(18,6))) * 1000000 AS HUGEINT)", "COUNT(*)", 4)} AS clean_value
      FROM fred f JOIN grain g ON f.series_code = g.series_code
      WHERE g.date_grain IN ('Daily', 'Monthly', 'Quarterly', 'Weekly')
      GROUP BY 1, 2, 3, 4
    ),
    lagged AS (
      SELECT *,
        LAG(clean_value, 3) OVER w AS v3,
        LAG(clean_value, 6) OVER w AS v6,
        LAG(clean_value, 12) OVER w AS v1y
      FROM aggs
      WINDOW w AS (PARTITION BY series_code ORDER BY month)
    ),
    calc AS (
      SELECT series_code, series_name, month, clean_value AS current_value,
        CASE WHEN v3 IS NULL OR v3 = 0 THEN NULL
             ELSE ${QueryDef.oSnap("(clean_value - v3) / v3", 2)} END AS pct_change_3m,
        CASE WHEN v6 IS NULL OR v6 = 0 THEN NULL
             ELSE ${QueryDef.oSnap("(clean_value - v3) / v6", 2)} END AS pct_change_6m,
        CASE WHEN v1y IS NULL OR v1y = 0 THEN NULL
             ELSE ${QueryDef.oSnap("(clean_value - v3) / v1y", 2)} END AS pct_change_1y,
        date_grain
      FROM lagged
    )"""

  val defs: Seq[QueryDef] = Seq(
    // fred_series_latest_aggregates.sql — 12m-window grain gate, monthly
    // averages over full history, lag-3/6/12 pct changes with the
    // BUG-COMPATIBLE 3m numerator reuse, latest month per series.
    QueryDef(
      "q_fred_latest_aggregates",
      (s, dir) => {
        // Output keeps only the LATEST month per series, and its
        // lag-3/6/12 values are positional among the series' month
        // cells — one aggregation collecting the sorted cell array
        // replaces the window-lag pass + latest-month self-join (the
        // fredSnapshot pattern; bounded state, months per series).
        val cur = element_at(col("cells"), col("n"))
        fredCellsGrouped(s, dir)
          .select(
            col("series_code"), col("series_name"),
            cur.getField("month").as("month"),
            cur.getField("clean_value").as("current_value"),
            cellPct(col("n"), 3).as("pct_change_3m"),
            cellPct(col("n"), 6).as("pct_change_6m"),
            cellPct(col("n"), 12).as("pct_change_1y"),
            col("date_grain"))
      },
      Some(s"""
        WITH $fredCalcCtes
        SELECT c.series_code, c.series_name, c.month, c.current_value,
               c.pct_change_3m, c.pct_change_6m, c.pct_change_1y, c.date_grain
        FROM calc c
        JOIN (SELECT series_code, MAX(month) AS mm FROM calc GROUP BY 1) m
          ON c.series_code = m.series_code AND c.month = m.mm
      """)
    ),
    // fred_monthly_diff.sql — per-series monthly spine clipped to the
    // series' own [min, max], single-neighbor interpolation with
    // forward/backward boundary fills, labeled source, period diff.
    QueryDef(
      "q_fred_monthly_diff",
      (s, dir) => {
        val fm = fredMonthly(s, dir)
        val globalBounds = fm.agg(min(col("d")).as("gmin"), max(col("d")).as("gmax"))
        val perSeries = fm.groupBy(col("series_code"), col("series_name"))
          .agg(min(col("d")).as("smin"), max(col("d")).as("smax"))
        val spine = perSeries
          .crossJoin(broadcast(globalBounds))
          .select(col("series_code"), col("series_name"), col("smin"), col("smax"),
            explode(expr("sequence(gmin, gmax, interval 1 month)")).as("d"))
          .filter(col("d") >= col("smin") && col("d") <= col("smax"))
          .select("series_code", "series_name", "d")
        val w = Window.partitionBy(col("series_code")).orderBy(col("d"))
        val withNb = spine
          .join(fm.select(col("series_code"), col("d"), col("value").as("actual_value")),
            Seq("series_code", "d"), "left")
          .withColumn("prev_actual", lag(col("actual_value"), 1).over(w))
          .withColumn("next_actual", lead(col("actual_value"), 1).over(w))
        val interp = withNb
          .withColumn("imputed_value",
            when(col("actual_value").isNotNull, col("actual_value"))
              .when(col("prev_actual").isNotNull && col("next_actual").isNotNull,
                (col("prev_actual") + col("next_actual")) / 2.0)
              .when(col("prev_actual").isNotNull, col("prev_actual"))
              .when(col("next_actual").isNotNull, col("next_actual")))
          .withColumn("data_source",
            when(col("actual_value").isNotNull, "Actual")
              .when(col("prev_actual").isNotNull && col("next_actual").isNotNull, "Interpolated")
              .when(col("prev_actual").isNotNull, "Forward Filled")
              .when(col("next_actual").isNotNull, "Backward Filled")
              .otherwise("No Data"))
        interp
          .filter(col("imputed_value").isNotNull)
          .select(col("d"), col("series_code"), col("series_name"), col("data_source"),
            r2snap(col("imputed_value")).as("value"),
            r2snap(col("imputed_value") - lag(col("imputed_value"), 1).over(w)).as("period_diff"))
      },
      Some(s"""
        WITH $fredMonthlySql,
        gb AS (SELECT MIN(d) AS gmin, MAX(d) AS gmax FROM fredm),
        ps AS (SELECT series_code, series_name, MIN(d) AS smin, MAX(d) AS smax
               FROM fredm GROUP BY 1, 2),
        spine AS (
          SELECT ps.series_code, ps.series_name, CAST(t.m AS DATE) AS d
          FROM ps, gb, UNNEST(generate_series(gb.gmin, gb.gmax, INTERVAL 1 MONTH)) AS t(m)
          WHERE CAST(t.m AS DATE) >= ps.smin AND CAST(t.m AS DATE) <= ps.smax
        ),
        nb AS (
          SELECT sp.series_code, sp.series_name, sp.d, f.value AS actual_value,
            LAG(f.value) OVER w AS prev_actual,
            LEAD(f.value) OVER w AS next_actual
          FROM spine sp LEFT JOIN fredm f
            ON sp.series_code = f.series_code AND sp.d = f.d
          WINDOW w AS (PARTITION BY sp.series_code ORDER BY sp.d)
        ),
        interp AS (
          SELECT series_code, series_name, d,
            CASE WHEN actual_value IS NOT NULL THEN actual_value
                 WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL
                   THEN (prev_actual + next_actual) / 2.0
                 WHEN prev_actual IS NOT NULL THEN prev_actual
                 WHEN next_actual IS NOT NULL THEN next_actual END AS imputed_value,
            CASE WHEN actual_value IS NOT NULL THEN 'Actual'
                 WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL THEN 'Interpolated'
                 WHEN prev_actual IS NOT NULL THEN 'Forward Filled'
                 WHEN next_actual IS NOT NULL THEN 'Backward Filled'
                 ELSE 'No Data' END AS data_source
          FROM nb
        )
        -- imputed values are 4/5-decimal snapped (round-4 inputs, /2 midpoints):
        -- ROUND on the raw double sits exactly on .xx5 boundaries where DuckDB
        -- (binary) and Spark (shortest-decimal BigDecimal) disagree. Snap
        -- through DECIMAL(18,6) first so both engines round the same decimal.
        SELECT d, series_code, series_name, data_source,
          ${oR2snap("imputed_value")} AS value,
          ${oR2snap("imputed_value - LAG(imputed_value) OVER (PARTITION BY series_code ORDER BY d)")} AS period_diff
        FROM interp
        WHERE imputed_value IS NOT NULL
      """)
    ),
    // fred_quarterly_roc.sql — monthly averages, spine, interior-only
    // interpolation (NO boundary fills), percent rate of change.
    QueryDef(
      "q_fred_quarterly_roc",
      (s, dir) => {
        val fm = fredSeries(s, dir, seriesKeyed = false)
          .groupBy(col("series_code"), col("series_name"), trunc(col("d"), "month").as("month_date"))
          .agg((dsum(col("value")) / count(lit(1))).as("avg_value"))
          .withColumn("year_month",
            concat(year(col("month_date")), lit("-"), month(col("month_date"))))
        val globalBounds = fm.agg(min(col("month_date")).as("gmin"), max(col("month_date")).as("gmax"))
        val perSeries = fm.groupBy(col("series_code"), col("series_name"))
          .agg(min(col("month_date")).as("smin"), max(col("month_date")).as("smax"))
        val spine = perSeries
          .crossJoin(broadcast(globalBounds))
          .select(col("series_code"), col("series_name"), col("smin"), col("smax"),
            explode(expr("sequence(gmin, gmax, interval 1 month)")).as("month_date"))
          .filter(col("month_date") >= col("smin") && col("month_date") <= col("smax"))
          .withColumn("year_month",
            concat(year(col("month_date")), lit("-"), month(col("month_date"))))
          .select("series_code", "series_name", "month_date", "year_month")
        val w = Window.partitionBy(col("series_code")).orderBy(col("month_date"))
        val withNb = spine
          .join(fm.select(col("series_code"), col("year_month"), col("avg_value").as("actual_value")),
            Seq("series_code", "year_month"), "left")
          .withColumn("prev_actual", lag(col("actual_value"), 1).over(w))
          .withColumn("next_actual", lead(col("actual_value"), 1).over(w))
        val interp = withNb
          .withColumn("avg_v",
            when(col("actual_value").isNotNull, col("actual_value"))
              .when(col("prev_actual").isNotNull && col("next_actual").isNotNull,
                (col("prev_actual") + col("next_actual")) / 2.0))
          .withColumn("data_source",
            when(col("actual_value").isNotNull, "Actual")
              .when(col("prev_actual").isNotNull && col("next_actual").isNotNull, "Interpolated")
              .otherwise("No Data"))
        interp
          .filter(col("avg_v").isNotNull)
          .select(col("year_month"), col("series_code"), col("series_name"),
            col("data_source"), col("month_date"),
            r2snap(col("avg_v")).as("avg_value"),
            r2snap(safeDivide(col("avg_v") - lag(col("avg_v"), 1).over(w),
              lag(col("avg_v"), 1).over(w)) * 100.0).as("pct_change_period"))
      },
      Some(s"""
        WITH $fredSeriesSql,
        fm AS (
          SELECT series_code, series_name, CAST(DATE_TRUNC('month', d) AS DATE) AS month_date,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value,
            EXTRACT(YEAR FROM DATE_TRUNC('month', d)) || '-' || EXTRACT(MONTH FROM DATE_TRUNC('month', d)) AS year_month
          FROM fred GROUP BY 1, 2, 3, 5
        ),
        gb AS (SELECT MIN(month_date) AS gmin, MAX(month_date) AS gmax FROM fm),
        ps AS (SELECT series_code, series_name, MIN(month_date) AS smin, MAX(month_date) AS smax
               FROM fm GROUP BY 1, 2),
        spine AS (
          SELECT ps.series_code, ps.series_name, CAST(t.m AS DATE) AS month_date,
            EXTRACT(YEAR FROM t.m) || '-' || EXTRACT(MONTH FROM t.m) AS year_month
          FROM ps, gb, UNNEST(generate_series(gb.gmin, gb.gmax, INTERVAL 1 MONTH)) AS t(m)
          WHERE CAST(t.m AS DATE) >= ps.smin AND CAST(t.m AS DATE) <= ps.smax
        ),
        nb AS (
          SELECT sp.series_code, sp.series_name, sp.month_date, sp.year_month,
            f.avg_value AS actual_value,
            LAG(f.avg_value) OVER w AS prev_actual,
            LEAD(f.avg_value) OVER w AS next_actual
          FROM spine sp LEFT JOIN fm f
            ON sp.series_code = f.series_code AND sp.year_month = f.year_month
          WINDOW w AS (PARTITION BY sp.series_code ORDER BY sp.month_date)
        ),
        interp AS (
          SELECT series_code, series_name, month_date, year_month,
            CASE WHEN actual_value IS NOT NULL THEN actual_value
                 WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL
                   THEN (prev_actual + next_actual) / 2.0 END AS avg_v,
            CASE WHEN actual_value IS NOT NULL THEN 'Actual'
                 WHEN prev_actual IS NOT NULL AND next_actual IS NOT NULL THEN 'Interpolated'
                 ELSE 'No Data' END AS data_source
          FROM nb
        )
        SELECT year_month, series_code, series_name, data_source, month_date,
          ${oR2snap("avg_v")} AS avg_value,
          ${oR2snap("(avg_v - LAG(avg_v) OVER w) / NULLIF(LAG(avg_v) OVER w, 0) * 100.0")} AS pct_change_period
        FROM interp
        WHERE avg_v IS NOT NULL
        WINDOW w AS (PARTITION BY series_code ORDER BY month_date)
      """)
    )
  )
}
