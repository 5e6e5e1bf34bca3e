package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.models.{MarketSummary, PriceBars}
import org.apache.spark.sql.DataFrame
import graft.queries.QueryDef.{davgOver, oDivRound, rdiv}

/** Agent-facing projections (refs dbt_project/models/agents_preprocess/
  * agent_market_performance.sql and agent_technical_signal_history
  * .sql):
  *
  *  - agent_market_performance: the sector + major-index summary
  *    models unioned behind the agent contract (ticker/
  *    annualized_volatility/worst-best pct aliases, market_category
  *    tag, null snapshot_date).
  *  - agent_technical_signal_history: signal-reliability rollup of
  *    technical_signal_instances at two grains (universe_signal and
  *    universe_symbol_signal) — trigger counts and date range,
  *    evaluable counts, benchmark-relative hit rates at 5/21/63 bars,
  *    average forward/relative returns and excursions, and the
  *    volume-confirmed hit rate.
  */
object AgentQueries {

  // ------------------------------------------------------------------
  // agent_market_performance (ref, 67 LoC)
  // ------------------------------------------------------------------

  private def marketPerformance(s: SparkSession, dir: String): DataFrame = {
    def branch(uni: PriceBars.Universe, at: String, ex: String, cat: String): DataFrame =
      MarketSummary.summarize(MarketSummaryQueries.universe(s, dir, uni, at, ex))
        .select(
          col("symbol"), col("symbol").as("ticker"), col("asset_type"),
          col("time_period"), col("exchange"), col("name"),
          col("period_start_date"), col("period_end_date"), col("trading_days"),
          col("total_return_pct"), col("avg_daily_return_pct"),
          col("volatility_pct"), col("volatility_pct").as("annualized_volatility_pct"),
          col("win_rate_pct"), col("total_price_change"), col("avg_daily_price_change"),
          col("worst_day_change"), col("worst_day_change").as("worst_day_pct_change"),
          col("best_day_change"), col("best_day_change").as("best_day_pct_change"),
          col("positive_days"), col("negative_days"), col("neutral_days"),
          col("period_start_price"), col("period_end_price"),
          lit(cat).as("market_category"),
          lit(null).cast("date").as("snapshot_date"))
    branch(PriceBars.Sectors, "sector_etf", "NYSEARCA", "sector")
      .unionAll(branch(PriceBars.Indices, "index", "INDEX", "major_index"))
  }

  private val marketPerformanceSql: String = {
    def branchSql(uni: PriceBars.Universe, at: String, ex: String, cat: String): String = {
      val inner = MarketSummary.oracleSql(MarketSummaryQueries.uniCte(uni, at, ex))
      s"""SELECT symbol, symbol AS ticker, asset_type, time_period, exchange, name,
        period_start_date, period_end_date, trading_days,
        total_return_pct, avg_daily_return_pct,
        volatility_pct, volatility_pct AS annualized_volatility_pct,
        win_rate_pct, total_price_change, avg_daily_price_change,
        worst_day_change, worst_day_change AS worst_day_pct_change,
        best_day_change, best_day_change AS best_day_pct_change,
        positive_days, negative_days, neutral_days,
        period_start_price, period_end_price,
        '$cat' AS market_category,
        CAST(NULL AS DATE) AS snapshot_date
      FROM ($inner)"""
    }
    s"""
    ${branchSql(PriceBars.Sectors, "sector_etf", "NYSEARCA", "sector")}
    UNION ALL
    ${branchSql(PriceBars.Indices, "index", "INDEX", "major_index")}
  """
  }

  // ------------------------------------------------------------------
  // agent_technical_signal_history (ref, 56 LoC)
  // ------------------------------------------------------------------

  /** signal_history over the `mart_signal_instances` frame (declared
    * in [[SharedMarts]]). Persisted: both grain branches aggregate it;
    * built inline, the whole signal-instance pipeline (bars →
    * indicators → events → forward joins) would otherwise run twice. */
  private[queries] def signalHistoryFrom(instances: DataFrame): DataFrame = {
    val inst = instances.persist()
    def branch(grain: String, symExpr: Column): DataFrame =
      inst
        .groupBy(
          (if (grain == "universe_symbol_signal") Seq(col("symbol").as("g_sym"))
           else Seq(lit("ALL").as("g_sym"))) ++
            Seq(col("indicator_name"), col("signal_name"), col("signal_side")): _*)
        .agg(
          count(lit(1)).as("total_triggers"),
          min(col("entry_date")).as("first_trigger_date"),
          max(col("entry_date")).as("last_trigger_date"),
          count(when(col("worked_21d").isNotNull, 1)).as("evaluable_21d"),
          sum(col("worked_5d")).as("w5_sum"), count(col("worked_5d")).as("w5_n"),
          sum(col("worked_21d")).as("w21_sum"), count(col("worked_21d")).as("w21_n"),
          sum(col("worked_63d")).as("w63_sum"), count(col("worked_63d")).as("w63_n"),
          sum(col("forward_return_21d").cast(DecimalType(18, 6))).as("fr21_sum"),
          count(col("forward_return_21d")).as("fr21_n"),
          sum(col("relative_forward_return_21d").cast(DecimalType(18, 6))).as("rr21_sum"),
          count(col("relative_forward_return_21d")).as("rr21_n"),
          sum(col("relative_forward_return_63d").cast(DecimalType(18, 6))).as("rr63_sum"),
          count(col("relative_forward_return_63d")).as("rr63_n"),
          sum(col("max_favorable_excursion_21d").cast(DecimalType(18, 6))).as("mfe_sum"),
          count(col("max_favorable_excursion_21d")).as("mfe_n"),
          sum(col("max_adverse_excursion_21d").cast(DecimalType(18, 6))).as("mae_sum"),
          count(col("max_adverse_excursion_21d")).as("mae_n"),
          sum(when(col("volume_confirmed"), col("worked_21d"))).as("vc_sum"),
          count(when(col("volume_confirmed"), col("worked_21d"))).as("vc_n"))
        .select(
          lit(grain).as("aggregation_grain"),
          lit("tpch").as("source_universe"),
          col("g_sym").as("symbol"),
          lit("ALL").as("exchange"),
          col("indicator_name"), col("signal_name"), col("signal_side"),
          col("total_triggers"), col("first_trigger_date"), col("last_trigger_date"),
          col("evaluable_21d"),
          when(col("w5_n") > 0, rdiv(col("w5_sum").cast(DecimalType(18, 0)), col("w5_n"), 4))
            .as("hit_rate_5d"),
          when(col("w21_n") > 0, rdiv(col("w21_sum").cast(DecimalType(18, 0)), col("w21_n"), 4))
            .as("hit_rate_21d"),
          when(col("w63_n") > 0, rdiv(col("w63_sum").cast(DecimalType(18, 0)), col("w63_n"), 4))
            .as("hit_rate_63d"),
          when(col("fr21_n") > 0, rdiv(col("fr21_sum"), col("fr21_n"), 6))
            .as("avg_forward_return_21d"),
          when(col("rr21_n") > 0, rdiv(col("rr21_sum"), col("rr21_n"), 6))
            .as("avg_relative_return_21d"),
          when(col("rr63_n") > 0, rdiv(col("rr63_sum"), col("rr63_n"), 6))
            .as("avg_relative_return_63d"),
          when(col("mfe_n") > 0, rdiv(col("mfe_sum"), col("mfe_n"), 6)).as("avg_mfe_21d"),
          when(col("mae_n") > 0, rdiv(col("mae_sum"), col("mae_n"), 6)).as("avg_mae_21d"),
          when(col("vc_n") > 0, rdiv(col("vc_sum").cast(DecimalType(18, 0)), col("vc_n"), 4))
            .as("hit_rate_21d_volume_confirmed"))

    branch("universe_signal", lit("ALL"))
      .unionAll(branch("universe_symbol_signal", col("symbol")))
  }

  private val signalHistorySql: String = {
    val instSql = MiscModelQueries.signalInstancesSqlPublic
    def branchSql(grain: String, symExpr: String, groupExtra: String): String = s"""
      SELECT '$grain' AS aggregation_grain,
        'tpch' AS source_universe,
        $symExpr AS symbol,
        'ALL' AS exchange,
        indicator_name, signal_name, signal_side,
        COUNT(*) AS total_triggers,
        MIN(entry_date) AS first_trigger_date,
        MAX(entry_date) AS last_trigger_date,
        COUNT(CASE WHEN worked_21d IS NOT NULL THEN 1 END) AS evaluable_21d,
        CASE WHEN COUNT(worked_5d) > 0 THEN
          ${oDivRound("CAST(SUM(worked_5d) AS HUGEINT) * 1000000", "COUNT(worked_5d)", 4)}
        END AS hit_rate_5d,
        CASE WHEN COUNT(worked_21d) > 0 THEN
          ${oDivRound("CAST(SUM(worked_21d) AS HUGEINT) * 1000000", "COUNT(worked_21d)", 4)}
        END AS hit_rate_21d,
        CASE WHEN COUNT(worked_63d) > 0 THEN
          ${oDivRound("CAST(SUM(worked_63d) AS HUGEINT) * 1000000", "COUNT(worked_63d)", 4)}
        END AS hit_rate_63d,
        CASE WHEN COUNT(forward_return_21d) > 0 THEN
          ${oDivRound("CAST(SUM(CAST(forward_return_21d AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(forward_return_21d)", 6)}
        END AS avg_forward_return_21d,
        CASE WHEN COUNT(relative_forward_return_21d) > 0 THEN
          ${oDivRound("CAST(SUM(CAST(relative_forward_return_21d AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(relative_forward_return_21d)", 6)}
        END AS avg_relative_return_21d,
        CASE WHEN COUNT(relative_forward_return_63d) > 0 THEN
          ${oDivRound("CAST(SUM(CAST(relative_forward_return_63d AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(relative_forward_return_63d)", 6)}
        END AS avg_relative_return_63d,
        CASE WHEN COUNT(max_favorable_excursion_21d) > 0 THEN
          ${oDivRound("CAST(SUM(CAST(max_favorable_excursion_21d AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(max_favorable_excursion_21d)", 6)}
        END AS avg_mfe_21d,
        CASE WHEN COUNT(max_adverse_excursion_21d) > 0 THEN
          ${oDivRound("CAST(SUM(CAST(max_adverse_excursion_21d AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
      "COUNT(max_adverse_excursion_21d)", 6)}
        END AS avg_mae_21d,
        CASE WHEN COUNT(CASE WHEN volume_confirmed THEN worked_21d END) > 0 THEN
          ${oDivRound("CAST(SUM(CASE WHEN volume_confirmed THEN worked_21d END) AS HUGEINT) * 1000000",
      "COUNT(CASE WHEN volume_confirmed THEN worked_21d END)", 4)}
        END AS hit_rate_21d_volume_confirmed
      FROM inst
      GROUP BY $groupExtra indicator_name, signal_name, signal_side"""
    s"""
    WITH inst AS ($instSql)
    ${branchSql("universe_signal", "'ALL'", "")}
    UNION ALL
    ${branchSql("universe_symbol_signal", "symbol", "symbol,")}
  """
  }

  // ------------------------------------------------------------------
  // agent_technical_signal_setups (ref, 35 LoC)
  // ------------------------------------------------------------------

  private def signalSetups(s: SparkSession, dir: String): DataFrame =
    Registry.byName("q_technical_current_setups").query(s, dir)
      .select(
        col("symbol"), col("d").as("as_of_date"),
        col("signal_name"), col("indicator_name"), col("signal_side"),
        col("signal_state"),
        when(col("signal_state") === "setup",
          "Pre-trigger condition present; signal has not fired yet")
          .when(col("signal_state") === "triggered",
            "Signal fired on the most recent bar")
          .when(col("signal_state") === "active",
            "Signal fired recently and is still inside its holding window")
          .as("state_description"),
        col("signal_value"), col("close").as("last_close"),
        col("relative_volume"), col("volume_confirmed"),
        col("trigger_date"), col("setup_date"),
        col("bars_since_trigger"), col("max_holding_bars"))

  private val signalSetupsSql: String = s"""
    SELECT symbol, d AS as_of_date, signal_name, indicator_name, signal_side,
      signal_state,
      CASE signal_state
        WHEN 'setup' THEN 'Pre-trigger condition present; signal has not fired yet'
        WHEN 'triggered' THEN 'Signal fired on the most recent bar'
        WHEN 'active' THEN 'Signal fired recently and is still inside its holding window'
      END AS state_description,
      signal_value, close AS last_close, relative_volume, volume_confirmed,
      trigger_date, setup_date, bars_since_trigger, max_holding_bars
    FROM (${TechnicalSignalQueries.currentSetupsSql})
  """

  // ------------------------------------------------------------------
  // thin agent projections over named models (refs agent_fred_monthly_
  // diff.sql, agent_fred_series_latest_aggregates.sql,
  // agent_housing_inventory_latest_aggregates.sql,
  // agent_housing_mortgage_rates.sql,
  // agent_leading_econ_return_indicator.sql) — each re-exposes an
  // existing model under the agent contract (column renames,
  // clean_value aliases, NOT NULL guards). Implemented against the
  // underlying QueryDef so the agent view and the model can never
  // drift.
  // ------------------------------------------------------------------

  private def byName(defs: Seq[QueryDef], name: String): QueryDef =
    defs.find(_.name == name).getOrElse(sys.error(s"missing base query $name"))

  private def thinDefs: Seq[QueryDef] = {
    val fredDiff = byName(FredQueries.defs, "q_fred_monthly_diff")
    val fredLatest = byName(FredQueries.defs, "q_fred_latest_aggregates")
    val housingLatest = byName(HousingQueries.defs, "q_housing_latest_aggregates")
    val mortgage = byName(HousingQueries.defs, "q_housing_mortgage_rates")
    val leadingEcon = byName(AnalysisQueries2.defs, "q_leading_econ_return_indicator")
    Seq(
      QueryDef(
        "q_agent_fred_monthly_diff",
        (s, dir) => fredDiff.query(s, dir).select(
          col("series_code"), col("series_name"), col("d").as("date"),
          col("value"), col("period_diff"), col("data_source")),
        Some(s"""SELECT series_code, series_name, d AS date, value, period_diff, data_source
                 FROM (${fredDiff.oracle.get})""")
      ),
      QueryDef(
        "q_agent_fred_series_latest_aggregates",
        (s, dir) => fredLatest.query(s, dir)
          .filter(col("current_value").isNotNull)
          .select(col("series_code"), col("series_name"), col("month"),
            col("current_value"), col("current_value").as("clean_value"),
            col("pct_change_3m"), col("pct_change_6m"), col("pct_change_1y"),
            col("date_grain")),
        Some(s"""SELECT series_code, series_name, month, current_value,
                   current_value AS clean_value,
                   pct_change_3m, pct_change_6m, pct_change_1y, date_grain
                 FROM (${fredLatest.oracle.get})
                 WHERE current_value IS NOT NULL""")
      ),
      QueryDef(
        "q_agent_housing_inventory_latest_aggregates",
        (s, dir) => housingLatest.query(s, dir)
          .filter(col("current_value").isNotNull)
          .select(col("series_code"), col("series_name"), col("month"),
            col("current_value"), col("pct_change_3m"), col("pct_change_6m"),
            col("pct_change_1y"), col("date_grain")),
        Some(s"""SELECT series_code, series_name, month, current_value,
                   pct_change_3m, pct_change_6m, pct_change_1y, date_grain
                 FROM (${housingLatest.oracle.get})
                 WHERE current_value IS NOT NULL""")
      ),
      QueryDef(
        "q_agent_housing_mortgage_rates",
        (s, dir) => mortgage.query(s, dir).select(
          col("date"), col("mortgage_rate"),
          col("median_price_no_down_payment"), col("median_price_20_pct_down_payment"),
          col("monthly_payment_no_down_payment"), col("monthly_payment_20_pct_down_payment")),
        Some(s"""SELECT date, mortgage_rate,
                   median_price_no_down_payment, median_price_20_pct_down_payment,
                   monthly_payment_no_down_payment, monthly_payment_20_pct_down_payment
                 FROM (${mortgage.oracle.get})""")
      ),
      // agent_leading_econ_return_indicator.sql is SELECT * — same plan
      QueryDef("q_agent_leading_econ_return_indicator", leadingEcon.query, leadingEcon.oracle)
    )
  }

  // ------------------------------------------------------------------
  // agent_financial_conditions_index (ref agent_financial_conditions_
  // index.sql over the fci.py-produced staging table): the FCI
  // pipeline of q_fci_weighted_window run per component — 90-row
  // rolling mean, 3-row momentum diff, 12-row reversed-weight dot
  // product — for equity / housing / 10yr component series, with
  // FCI = Σ component scores (financial_condition_index.py:375-383)
  // and the agent projection (date, fci, component scores) WHERE fci
  // IS NOT NULL. Component series are the three lineitem return-flag
  // universes; weight vectors are distinct per component as in the
  // fci_weights_config table. Single global-order window on a
  // macro-level series (one row per day) — same scale posture as
  // q_fci_weighted_window.
  // ------------------------------------------------------------------

  /** (component, flag, weights newest-first) */
  private val FciComponents: Seq[(String, String, Seq[Double])] = Seq(
    ("equity", "N", (0 until 12).map(i => (12.0 - i) / 78.0)),
    ("housing", "A", (0 until 12).map(i => (i + 1.0) / 78.0)),
    ("treasury_10yr", "R", Seq.fill(12)(1.0 / 12.0)))

  private def agentFci(s: SparkSession, dir: String): DataFrame = {
    import graft.runtime.Tables
    import org.apache.spark.sql.expressions.Window
    val li = Tables(s, dir).lineitem
    val series = li
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(FciComponents.map { case (c, flag, _) =>
        round(sum(when(col("l_returnflag") === flag, col("l_extendedprice"))
          .cast(DecimalType(18, 6))).cast("double"), 4).as(s"v_$c")
      }.head, FciComponents.tail.map { case (c, flag, _) =>
        round(sum(when(col("l_returnflag") === flag, col("l_extendedprice"))
          .cast(DecimalType(18, 6))).cast("double"), 4).as(s"v_$c")
      }: _*)
    val w = Window.orderBy(col("d"))
    val withScores = FciComponents.foldLeft(
      series.withColumn("rn", row_number().over(w).cast("long"))) {
      case (df, (c, _, weights)) =>
        val v = col(s"v_$c")
        val m90 = davgOver(v, w.rowsBetween(-89, 0), 4)
        val df2 = df
          .withColumn(s"m90_$c", m90)
          .withColumn(s"diff3_$c", col(s"m90_$c") - lag(col(s"m90_$c"), 3).over(w))
        val arr        = collect_list(col(s"diff3_$c")).over(w.rowsBetween(-11, 0))
        val weightsArr = array(weights.reverse.map(lit): _*)
        df2.withColumn(s"score_$c",
          aggregate(zip_with(arr, weightsArr, (x, wt) => x * wt), lit(0.0), (a, x) => a + x))
    }
    withScores
      .withColumn("fci",
        col("score_equity") + col("score_housing") + col("score_treasury_10yr"))
      .filter(col("rn") >= 15 && col("fci").isNotNull)
      .select(col("d").as("date"), QueryDef.r4(col("fci")).as("fci"),
        QueryDef.r4(col("score_equity")).as("equity_score"),
        QueryDef.r4(col("score_housing")).as("housing_score"),
        QueryDef.r4(col("score_treasury_10yr")).as("treasury_10yr_score"))
  }

  private val agentFciSql: String = {
    val vCols = FciComponents.map { case (c, flag, _) =>
      s"""ROUND(CAST(SUM(CASE WHEN l_returnflag = '$flag'
            THEN CAST(l_extendedprice AS DECIMAL(18,6)) END) AS DOUBLE), 4) + 0.0 AS v_$c"""
    }.mkString(",\n          ")
    val m90Cols = FciComponents.map { case (c, _, _) =>
      s"""CAST(SUM(CAST(v_$c AS DECIMAL(18,4))) OVER w90 AS DOUBLE)
          / COUNT(v_$c) OVER w90 AS m90_$c"""
    }.mkString(",\n          ")
    val diffCols = FciComponents.map { case (c, _, _) =>
      s"m90_$c - LAG(m90_$c, 3) OVER w AS diff3_$c"
    }.mkString(",\n          ")
    val scoreCols = FciComponents.map { case (c, _, weights) =>
      val terms = (11 to 0 by -1).map { i =>
        if (i == 0) s"diff3_$c * (${weights(0)})"
        else s"LAG(diff3_$c, $i) OVER w * (${weights(i)})"
      }.mkString(" + ")
      s"($terms) AS score_$c"
    }.mkString(",\n          ")
    s"""
    WITH series AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
          $vCols
      FROM lineitem GROUP BY 1
    ),
    base AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn,
          $m90Cols
      FROM series
      WINDOW w90 AS (ORDER BY d ROWS BETWEEN 89 PRECEDING AND CURRENT ROW)
    ),
    diffs AS (
      SELECT *,
          $diffCols
      FROM base WINDOW w AS (ORDER BY d)
    ),
    scored AS (
      SELECT d, rn,
          $scoreCols
      FROM diffs WINDOW w AS (ORDER BY d)
    )
    SELECT d AS date,
      ROUND(score_equity + score_housing + score_treasury_10yr, 4) + 0.0 AS fci,
      ROUND(score_equity, 4) + 0.0 AS equity_score,
      ROUND(score_housing, 4) + 0.0 AS housing_score,
      ROUND(score_treasury_10yr, 4) + 0.0 AS treasury_10yr_score
    FROM scored
    WHERE rn >= 15 AND score_equity + score_housing + score_treasury_10yr IS NOT NULL
  """
  }

  // ------------------------------------------------------------------
  // agent_reddit_posts_daily (ref agent_reddit_posts_daily.sql): raw
  // source projection — no staging filters, partition_date kept as the
  // raw string (including the source's malformed rows).
  // ------------------------------------------------------------------

  private def agentRedditPostsDaily(s: SparkSession, dir: String): DataFrame = {
    import graft.runtime.Tables
    val e = Tables(s, dir).events
    val sub = when(col("user_id") % 5 === 0, "Stocks")
      .when(col("user_id") % 5 === 1, "investing")
      .when(col("user_id") % 5 === 2, "WallStreetBets")
      .when(col("user_id") % 5 === 3, "u_PromoBot")
      .otherwise("economy")
    e.select(
      col("props").as("title"),
      when(col("event_id") % 31 === 0, lit(null).cast("long"))
        .otherwise(floor(col("value"))).as("score"),
      (col("event_id") % 17).as("num_comments"),
      sub.as("subreddit"),
      when(col("user_id") % 29 === 0, "[deleted]")
        .otherwise(concat(lit("user_"), col("user_id"))).as("author"),
      when(col("event_id") % 3 === 0,
        concat(lit("https://reddit.com/r/"), sub, lit("/post")))
        .otherwise(lit("https://example.com/article")).as("url"),
      when(col("event_id") % 41 === 0, "not-a-date")
        .otherwise(to_date(col("ts")).cast("string")).as("partition_date"))
  }

  private val agentRedditPostsDailySql: String = """
    SELECT props AS title,
      CASE WHEN event_id % 31 = 0 THEN NULL
           ELSE CAST(FLOOR(value) AS BIGINT) END AS score,
      event_id % 17 AS num_comments,
      CASE WHEN user_id % 5 = 0 THEN 'Stocks'
           WHEN user_id % 5 = 1 THEN 'investing'
           WHEN user_id % 5 = 2 THEN 'WallStreetBets'
           WHEN user_id % 5 = 3 THEN 'u_PromoBot'
           ELSE 'economy' END AS subreddit,
      CASE WHEN user_id % 29 = 0 THEN '[deleted]'
           ELSE 'user_' || CAST(user_id AS VARCHAR) END AS author,
      CASE WHEN event_id % 3 = 0
        THEN 'https://reddit.com/r/' ||
          CASE WHEN user_id % 5 = 0 THEN 'Stocks'
               WHEN user_id % 5 = 1 THEN 'investing'
               WHEN user_id % 5 = 2 THEN 'WallStreetBets'
               WHEN user_id % 5 = 3 THEN 'u_PromoBot'
               ELSE 'economy' END || '/post'
        ELSE 'https://example.com/article' END AS url,
      CASE WHEN event_id % 41 = 0 THEN 'not-a-date'
           ELSE CAST(CAST(ts AS DATE) AS VARCHAR) END AS partition_date
    FROM events
  """

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_agent_market_performance", marketPerformance, Some(marketPerformanceSql)),
    SharedMarts.query("q_agent_technical_signal_history", Some(signalHistorySql)),
    QueryDef("q_agent_technical_signal_setups", signalSetups, Some(signalSetupsSql)),
    QueryDef("q_agent_financial_conditions_index", agentFci, Some(agentFciSql)),
    QueryDef("q_agent_reddit_posts_daily", agentRedditPostsDaily,
      Some(agentRedditPostsDailySql))
  ) ++ thinDefs
}
