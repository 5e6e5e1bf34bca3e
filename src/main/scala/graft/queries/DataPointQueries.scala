package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryDef.r4

/** Interesting-data-points detector suite (ref macro_agents/.../
  * analysis/data_points/data_point_finder.py): the weekly consumer
  * asset that scans the agent marts for statistically notable
  * findings and ranks them by significance —
  *
  *  - big_short_term_move (:135-218): z-scores of the FRED monthly
  *    3m/6m/1y pct changes against the whole frame's mean/std,
  *    |z| >= 1.5;
  *  - trend_change_inflection (:220-293): per-series 3-month momentum
  *    sign flips over the month-DESC value list (the reference
  *    iterates the REVERSED ascending list — i.e. newest-first — and
  *    reports the first qualifying index, which is the most recent
  *    inflection; current_value is that index's OLDER endpoint, a
  *    reference quirk kept);
  *  - correlation_anomaly (:296-364): leading-econ indicators whose
  *    max |corr| vs Q1/Q2/Q3 forward returns >= 0.3, strongest
  *    quarter picked in Q1,Q2,Q3 order on ties;
  *  - statistical_outlier (:366-434): 12-week total returns at or
  *    beyond the frame's own 10th/90th percentile, for the market AND
  *    commodity performance marts separately (the reference labels
  *    both 'market' — kept).
  *
  * Parity: all means/stds come from exact DECIMAL moment sums cast to
  * double (deterministic across engines — the same discipline as the
  * leading-econ snapshot), so the |z| >= 1.5 membership cut is
  * byte-stable. Percentile thresholds use the exact discontinuous
  * value-at-rank ceil(q*n) on both engines (the reference's Polars
  * `quantile(..., 'nearest')` rounds the rank instead — a documented
  * deviation; the chosen form is deterministic and replayable).
  * The reference's week anchor becomes a static literal inside the
  * synthetic date range.
  */
object DataPointQueries {

  private val WeekStart = "1998-08-01"
  private val WeekEnd   = "1998-08-07"

  private val findingCols = Seq("data_point", "metric_category", "current_value",
    "change_period", "change_pct", "z_score", "significance_score", "finding_type")

  /** The detector suite over its four INPUT marts, taken as frames
    * (declared in [[SharedMarts]]): the isolated query builds them
    * inline; the DAG lane hands in Table-tier materializations so this
    * consumer runs at scan cost, which is how the reference's weekly
    * asset reads them in production. */
  private[queries] def interestingFrom(
      fredMonthly: DataFrame,
      leadingEcon: DataFrame,
      marketPerf: DataFrame,
      commodityPerf: DataFrame): DataFrame = {
    val econ = fredMonthly
      .filter(
        col("month") >= add_months(trunc(to_date(lit(WeekStart)), "month"), -12) &&
          col("month") <= to_date(lit(WeekEnd)) &&
          col("current_value").isNotNull)
      .persist() // big-moves moments + per-row z + trend grouping share it

    // ---- big_short_term_move ----------------------------------------
    val periods = Seq("3m" -> "pct_change_3m", "6m" -> "pct_change_6m", "1y" -> "pct_change_1y")
    def dec(c: Column) = c.cast(DecimalType(18, 6))
    val momentCols = periods.flatMap { case (tag, c) =>
      Seq(
        count(col(c)).as(s"n_$tag"),
        sum(dec(col(c))).as(s"sx_$tag"),
        sum((dec(col(c)) * dec(col(c))).cast(DecimalType(38, 12))).as(s"sxx_$tag"))
    }
    val stats = econ.agg(momentCols.head, momentCols.tail: _*)
    val bigMoves = periods.map { case (tag, c) =>
      val n      = col(s"n_$tag").cast("double")
      val sx     = col(s"sx_$tag").cast("double")
      val sxx    = col(s"sxx_$tag").cast("double")
      val varNum = n * sxx - sx * sx
      val mean   = sx / n
      val std    = sqrt(varNum / (n * (n - 1)))
      val z      = (col(c) - mean) / std
      econ.crossJoin(broadcast(stats))
        .filter(col(c).isNotNull && col(s"n_$tag") >= 2 && varNum > 0 && abs(z) >= 1.5)
        .select(
          col("series_name").as("data_point"),
          lit("economic").as("metric_category"),
          col("current_value"),
          lit(tag).as("change_period"),
          col(c).as("change_pct"),
          r4(z).as("z_score"),
          r4(abs(z)).as("significance_score"),
          lit("big_short_term_move").as("finding_type"))
    }.reduce(_ unionAll _)

    // ---- trend_change_inflection ------------------------------------
    // month-DESC value list; first index i (1-based, >= 7) where the
    // two adjacent 3-step momenta have opposite signs
    val vAt = (i: Column) => element_at(col("vs"), i).getField("current_value")
    def cm(i: Column) = vAt(i) - vAt(i - 3)
    def pm(i: Column) = vAt(i - 3) - vAt(i - 6)
    val trend = econ
      .groupBy(col("series_code"), col("series_name"))
      .agg(sort_array(collect_list(struct(col("month"), col("current_value"))), asc = false)
        .as("vs"))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= 7)
      .withColumn("idxs",
        filter(sequence(lit(7), col("n")),
          i => cm(i) * pm(i) < 0 && abs(cm(i) - pm(i)) > 0))
      .filter(size(col("idxs")) > 0)
      .withColumn("i", element_at(col("idxs"), 1))
      .select(
        col("series_name").as("data_point"),
        lit("economic").as("metric_category"),
        vAt(col("i")).as("current_value"),
        lit("6m").as("change_period"),
        lit(null).cast("double").as("change_pct"),
        lit(null).cast("double").as("z_score"),
        r4(abs(cm(col("i")) - pm(col("i")))).as("significance_score"),
        lit("trend_change_inflection").as("finding_type"))

    // ---- correlation_anomaly ----------------------------------------
    val corrIn = leadingEcon
      .filter(col("analysis_type") === "Correlation Analysis" &&
        col("observation_count") >= 12)
    val c1 = coalesce(col("correlation_econ_vs_q1_returns"), lit(0.0))
    val c2 = coalesce(col("correlation_econ_vs_q2_returns"), lit(0.0))
    val c3 = coalesce(col("correlation_econ_vs_q3_returns"), lit(0.0))
    val maxAbs = greatest(abs(c1), abs(c2), abs(c3))
    val strongest = when(abs(c1) === maxAbs, c1).when(abs(c2) === maxAbs, c2).otherwise(c3)
    val quarter = when(abs(c1) === maxAbs, "Q1").when(abs(c2) === maxAbs, "Q2").otherwise("Q3")
    val corrFindings = corrIn
      .filter(maxAbs >= 0.3)
      .select(
        concat(col("series_name"), lit(" vs "), col("symbol")).as("data_point"),
        lit("correlation").as("metric_category"),
        strongest.as("current_value"),
        quarter.as("change_period"),
        lit(null).cast("double").as("change_pct"),
        lit(null).cast("double").as("z_score"),
        maxAbs.as("significance_score"),
        lit("correlation_anomaly").as("finding_type"))

    // ---- statistical_outlier (market + commodity, separately) -------
    def recentSlice(in: DataFrame, symCol: String): DataFrame =
      in.filter(col("time_period") === "12_weeks" && col("total_return_pct").isNotNull)
        .select(col(symCol).as("sym"), col("total_return_pct").as("ret"))
        // three consumers (moment stats, rank thresholds, the output
        // scan) would otherwise each re-derive the full mart pipeline
        .persist()
    def outliers(recent: DataFrame): DataFrame = {
      val st = recent.agg(
        count(lit(1)).as("n"),
        sum(dec(col("ret"))).as("sx"),
        sum((dec(col("ret")) * dec(col("ret"))).cast(DecimalType(38, 12))).as("sxx"))
      val ranked = recent
        .withColumn("rk", row_number().over(Window.orderBy(col("ret"))))
      val thr = ranked.crossJoin(broadcast(st))
        .agg(
          max(when(col("rk") === ceil(lit(0.1) * col("n")).cast("long"), col("ret"))).as("p_low"),
          max(when(col("rk") === ceil(lit(0.9) * col("n")).cast("long"), col("ret"))).as("p_high"))
      val n      = col("n").cast("double")
      val sx     = col("sx").cast("double")
      val sxx    = col("sxx").cast("double")
      val varNum = n * sxx - sx * sx
      val z      = (col("ret") - sx / n) / sqrt(varNum / (n * (n - 1)))
      recent.crossJoin(broadcast(st)).crossJoin(broadcast(thr))
        .filter(col("n") >= 2 && varNum > 0 &&
          (col("ret") <= col("p_low") || col("ret") >= col("p_high")))
        .select(
          col("sym").as("data_point"),
          lit("market").as("metric_category"), // ref hardcodes 'market' for both inputs
          col("ret").as("current_value"),
          lit("12_weeks").as("change_period"),
          col("ret").as("change_pct"),
          r4(z).as("z_score"),
          r4(abs(z)).as("significance_score"),
          lit("statistical_outlier").as("finding_type"))
    }
    val marketOut = outliers(recentSlice(marketPerf, "ticker"))
    val commodityOut = outliers(recentSlice(commodityPerf, "commodity"))

    // Cost note: this is the reference's WEEKLY consumer asset — it
    // reads four independent marts, and against the driver's
    // per-query-isolated bench each mart is re-derived inline. The
    // r7 branch-isolated profile at sf0.1 (min of runs, same JVM):
    // econ ~4.5 s + corrIn ~7 s + market slice ~4.8 s + commodity
    // slice ~3.2 s ≈ the observed ~20 s total — the four pipelines
    // are DISJOINT (econ uses the fredSeries families staging, bha's
    // fredMonthly uses the named-code stgFred; the two market marts
    // have their own price stagings), so there is no shared subtree
    // to collapse, and a calendar bound on the FRED cell arrays is
    // unsafe (cellPct lags are POSITIONAL — sparse part_ series reach
    // arbitrarily far back in calendar time). In production the marts
    // are ModelRegistry Table-tier materializations and this query is
    // the cheap scan-side of each detector — MEASURED since r8 by the
    // bench's DAG lane (SharedMarts + BENCH_FULL.json `dag`):
    // ~1.2 s at sf0.1 over the materialized marts vs ~20 s isolated,
    // equivalence spec-gated bit-for-bit. The isolated number is the
    // price of the driver's cleared-cache isolation, not a plan
    // defect.
    Seq(bigMoves, trend, corrFindings, marketOut, commodityOut)
      .map(_.select(findingCols.map(col): _*))
      .reduce(_ unionAll _)
  }

  private val interestingSql: String = {
    val corrOracle = AnalysisQueries2.defs.find(_.name == "q_leading_econ_return_indicator")
      .flatMap(_.oracle).get
    val mktOracle = AgentQueries.defs.find(_.name == "q_agent_market_performance")
      .flatMap(_.oracle).get
    val cmdOracle = CommodityQueries.defs.find(_.name == "q_agent_commodity_performance")
      .flatMap(_.oracle).get
    def moments(tag: String, c: String, from: String) =
      s"""SELECT COUNT($c) AS n, SUM(CAST($c AS DECIMAL(18,6))) AS sx,
            SUM(CAST($c AS DECIMAL(18,6)) * CAST($c AS DECIMAL(18,6))) AS sxx
          FROM $from"""
    def bigMove(tag: String, c: String) = s"""
      SELECT e.series_name AS data_point, 'economic' AS metric_category,
        e.current_value, '$tag' AS change_period, e.$c AS change_pct,
        ROUND((e.$c - CAST(st.sx AS DOUBLE) / st.n)
          / SQRT((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
                 / (st.n * (st.n - 1.0))), 4) + 0.0 AS z_score,
        ROUND(ABS((e.$c - CAST(st.sx AS DOUBLE) / st.n)
          / SQRT((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
                 / (st.n * (st.n - 1.0)))), 4) + 0.0 AS significance_score,
        'big_short_term_move' AS finding_type
      FROM econ e CROSS JOIN stats_$tag st
      WHERE e.$c IS NOT NULL AND st.n >= 2
        AND st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE) > 0
        AND ABS((e.$c - CAST(st.sx AS DOUBLE) / st.n)
          / SQRT((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
                 / (st.n * (st.n - 1.0)))) >= 1.5"""
    def outlierSql(name: String, sub: String, symCol: String) = s"""
      ${name}_recent AS (
        SELECT $symCol AS sym, total_return_pct AS ret
        FROM ($sub) WHERE time_period = '12_weeks' AND total_return_pct IS NOT NULL
      ),
      ${name}_stats AS (
        SELECT COUNT(*) AS n, SUM(CAST(ret AS DECIMAL(18,6))) AS sx,
          SUM(CAST(ret AS DECIMAL(18,6)) * CAST(ret AS DECIMAL(18,6))) AS sxx
        FROM ${name}_recent
      ),
      ${name}_ranked AS (
        SELECT sym, ret, ROW_NUMBER() OVER (ORDER BY ret) AS rk FROM ${name}_recent
      ),
      ${name}_thr AS (
        SELECT MAX(CASE WHEN r.rk = CAST(CEIL(0.1 * st.n) AS BIGINT) THEN r.ret END) AS p_low,
               MAX(CASE WHEN r.rk = CAST(CEIL(0.9 * st.n) AS BIGINT) THEN r.ret END) AS p_high
        FROM ${name}_ranked r CROSS JOIN ${name}_stats st
      ),
      ${name}_out AS (
        SELECT rc.sym AS data_point, 'market' AS metric_category,
          rc.ret AS current_value, '12_weeks' AS change_period, rc.ret AS change_pct,
          ROUND((rc.ret - CAST(st.sx AS DOUBLE) / st.n)
            / SQRT((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
                   / (st.n * (st.n - 1.0))), 4) + 0.0 AS z_score,
          ROUND(ABS((rc.ret - CAST(st.sx AS DOUBLE) / st.n)
            / SQRT((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
                   / (st.n * (st.n - 1.0)))), 4) + 0.0 AS significance_score,
          'statistical_outlier' AS finding_type
        FROM ${name}_recent rc CROSS JOIN ${name}_stats st CROSS JOIN ${name}_thr t
        WHERE st.n >= 2
          AND st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE) > 0
          AND (rc.ret <= t.p_low OR rc.ret >= t.p_high)
      )"""
    s"""
    WITH ${FredQueries.fredCalcCtes},
    econ AS (
      SELECT * FROM calc
      WHERE month >= CAST(DATE_TRUNC('month', DATE '$WeekStart') - INTERVAL 12 MONTH AS DATE)
        AND month <= DATE '$WeekEnd' AND current_value IS NOT NULL
    ),
    stats_3m AS (${moments("3m", "pct_change_3m", "econ")}),
    stats_6m AS (${moments("6m", "pct_change_6m", "econ")}),
    stats_1y AS (${moments("1y", "pct_change_1y", "econ")}),
    tr AS (
      SELECT series_code, series_name,
        list(current_value ORDER BY month DESC) AS l
      FROM econ GROUP BY 1, 2
    ),
    tr2 AS (
      SELECT series_name, l, len(l) AS n,
        list_filter(range(7, len(l) + 1),
          i -> (l[i] - l[i-3]) * (l[i-3] - l[i-6]) < 0
               AND ABS((l[i] - l[i-3]) - (l[i-3] - l[i-6])) > 0) AS idxs
      FROM tr WHERE len(l) >= 7
    ),
    trend_out AS (
      SELECT series_name AS data_point, 'economic' AS metric_category,
        l[idxs[1]] AS current_value, '6m' AS change_period,
        CAST(NULL AS DOUBLE) AS change_pct, CAST(NULL AS DOUBLE) AS z_score,
        ROUND(ABS((l[idxs[1]] - l[idxs[1]-3]) - (l[idxs[1]-3] - l[idxs[1]-6])), 4) + 0.0
          AS significance_score,
        'trend_change_inflection' AS finding_type
      FROM tr2 WHERE len(idxs) > 0
    ),
    corr_in AS (
      SELECT series_name, symbol,
        COALESCE(correlation_econ_vs_q1_returns, 0.0) AS c1,
        COALESCE(correlation_econ_vs_q2_returns, 0.0) AS c2,
        COALESCE(correlation_econ_vs_q3_returns, 0.0) AS c3
      FROM ($corrOracle)
      WHERE analysis_type = 'Correlation Analysis' AND observation_count >= 12
    ),
    corr_out AS (
      SELECT series_name || ' vs ' || symbol AS data_point,
        'correlation' AS metric_category,
        CASE WHEN ABS(c1) = GREATEST(ABS(c1), ABS(c2), ABS(c3)) THEN c1
             WHEN ABS(c2) = GREATEST(ABS(c1), ABS(c2), ABS(c3)) THEN c2
             ELSE c3 END AS current_value,
        CASE WHEN ABS(c1) = GREATEST(ABS(c1), ABS(c2), ABS(c3)) THEN 'Q1'
             WHEN ABS(c2) = GREATEST(ABS(c1), ABS(c2), ABS(c3)) THEN 'Q2'
             ELSE 'Q3' END AS change_period,
        CAST(NULL AS DOUBLE) AS change_pct, CAST(NULL AS DOUBLE) AS z_score,
        GREATEST(ABS(c1), ABS(c2), ABS(c3)) AS significance_score,
        'correlation_anomaly' AS finding_type
      FROM corr_in
      WHERE GREATEST(ABS(c1), ABS(c2), ABS(c3)) >= 0.3
    ),
    ${outlierSql("mkt", mktOracle, "ticker")},
    ${outlierSql("cmd", cmdOracle, "commodity")}
    SELECT data_point, metric_category, current_value, change_period, change_pct,
           z_score, significance_score, finding_type
    FROM (
      ${bigMove("3m", "pct_change_3m")}
      UNION ALL ${bigMove("6m", "pct_change_6m")}
      UNION ALL ${bigMove("1y", "pct_change_1y")}
      UNION ALL SELECT * FROM trend_out
      UNION ALL SELECT * FROM corr_out
      UNION ALL SELECT * FROM mkt_out
      UNION ALL SELECT * FROM cmd_out
    )
  """
  }

  val defs: Seq[QueryDef] = Seq(
    SharedMarts.query("q_interesting_data_points", Some(interestingSql))
  )
}
