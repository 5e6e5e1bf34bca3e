package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryDef.{dsum, oSnap, rsnap}
import graft.queries.FredSignalQueries.{stgFred, stgFredSql}
import graft.runtime.Tables

/** Remaining named models (refs dbt_project/models/analysis/
  * factor_tilts.sql, market_economic_analysis.sql,
  * technical_signal_instances.sql and staging/stg_reddit_posts.sql):
  *
  *  - factor_tilts: the regime history LEFT JOINed to the reference's
  *    four-row regime → factor-tilt literal.
  *  - market_economic_analysis: regex month parse of the quarterly-RoC
  *    year_month key, LIKE-pattern indicator pivot (GDP / CPI /
  *    interest-rate buckets) and the inflation-regime CASE.
  *  - stg_reddit_posts: engagement feature staging — self/text-post
  *    flags, engagement score, score-per-comment, time features,
  *    deleted flag, the u_* promoted-subreddit filter and the trailing
  *    90-day window (CURRENT_DATE → corpus max event date).
  *  - technical_signal_instances: forward evaluation of every
  *    'triggered' event — LEAD forward returns at 1/5/10/21/63/126
  *    bars, benchmark-relative returns (symbol 'A' stands in for SPY),
  *    21-bar favorable/adverse excursions, side-adjusted MFE and
  *    benchmark-relative worked labels. Future data appears only here,
  *    never in the events model (reference invariant).
  */
object MiscModelQueries {

  // ------------------------------------------------------------------
  // factor_tilts (ref, 53 LoC)
  // ------------------------------------------------------------------

  /** (regime, value, momentum, quality, low_vol, size, notes) — ref literal. */
  val TiltMapping: Seq[(String, String, String, String, String, String, String)] = Seq(
    ("Expansion", "Neutral", "Overweight", "Neutral", "Underweight", "Neutral",
      "Momentum tends to lead in sustained expansions."),
    ("Slowdown", "Overweight", "Neutral", "Overweight", "Neutral", "Neutral",
      "Value and financial strength tend to outperform late-cycle."),
    ("Contraction", "Neutral", "Underweight", "Overweight", "Overweight", "Underweight",
      "Quality and low volatility typically hold up best in recessions."),
    ("Recovery", "Overweight", "Neutral", "Neutral", "Underweight", "Overweight",
      "Early recoveries favor value and size as risk appetite returns."))

  private def factorTilts(s: SparkSession, dir: String): DataFrame = {
    val rm = {
      import s.implicits._
      TiltMapping.toDF("rm_regime", "value_tilt", "momentum_tilt", "quality_tilt",
        "low_vol_tilt", "size_tilt", "notes")
    }
    AnalysisQueries.regimeFrame(s, dir)
      .filter(col("regime").isNotNull)
      .select(col("month_date"), col("regime"))
      .join(broadcast(rm), col("regime") === col("rm_regime"), "left")
      .select(col("month_date"), col("regime"), col("value_tilt"), col("momentum_tilt"),
        col("quality_tilt"), col("low_vol_tilt"), col("size_tilt"), col("notes"))
  }

  private val factorTiltsSql: String = {
    val rows = TiltMapping.map { case (r, v, m, q, l, sz, n) =>
      s"('$r', '$v', '$m', '$q', '$l', '$sz', '$n')"
    }.mkString(",\n        ")
    s"""
    WITH ${stgFredSql(AnalysisQueries.RegimeCodes)},
    ${AnalysisQueries.regimeCtesSql},
    regime_mapping AS (
      SELECT * FROM (VALUES
        $rows
      ) AS t(rm_regime, value_tilt, momentum_tilt, quality_tilt, low_vol_tilt, size_tilt, notes)
    )
    SELECT rh.month_date, rh.regime, rm.value_tilt, rm.momentum_tilt,
      rm.quality_tilt, rm.low_vol_tilt, rm.size_tilt, rm.notes
    FROM (SELECT month_date, regime FROM regime_classification WHERE regime IS NOT NULL) rh
    LEFT JOIN regime_mapping rm ON rh.regime = rm.rm_regime
  """
  }

  // ------------------------------------------------------------------
  // market_economic_analysis (ref, 111 LoC)
  // ------------------------------------------------------------------

  private val MeaCodes = Seq("GDPC1", "CPIAUCSL", "UNRATE", "FEDFUNDS")

  private def marketEconomicAnalysis(s: SparkSession, dir: String): DataFrame = {
    // quarterly-RoC-shaped feed over the fred staging: per (code, quarter)
    val w = Window.partitionBy(col("series_code")).orderBy(col("q_d"))
    val roc = stgFred(s, dir, MeaCodes)
      .groupBy(col("series_code"),
        date_trunc("quarter", col("date")).cast("date").as("q_d"))
      .agg((dsum(col("value")) / count(lit(1))).as("avg_value"))
      .withColumn("pct_change_period",
        when(lag(col("avg_value"), 1).over(w) =!= 0,
          (col("avg_value") - lag(col("avg_value"), 1).over(w)) /
            lag(col("avg_value"), 1).over(w) * 100))
      .select(
        date_format(col("q_d"), "yyyy-M").as("year_month"),
        col("series_code"),
        concat(lit("Series "), col("series_code")).as("series_name"),
        col("avg_value"), col("pct_change_period"),
        lit("quarterly_roc").as("data_source"))

    val econ = roc.withColumn("month_date",
      when(col("year_month").rlike("^\\d{4}-\\d{1,2}$"),
        to_date(concat_ws("-",
          split(col("year_month"), "-").getItem(0),
          lpad(split(col("year_month"), "-").getItem(1), 2, "0"),
          lit("01")))))

    def pick(cond: Column, v: Column): Column = max(when(cond, v))
    val isGdp = col("series_code").like("%GDP%") ||
      lower(col("series_name")).like("%gross domestic product%")
    val isCpi = col("series_code").like("%CPI%") ||
      lower(col("series_name")).like("%consumer price%")
    val isRate = lower(col("series_name")).like("%interest%") ||
      lower(col("series_name")).like("%rate%")
    econ
      .filter(col("month_date").isNotNull)
      .groupBy(col("year_month"), col("month_date"))
      .agg(
        pick(isGdp, col("avg_value")).as("gdp_value"),
        pick(isGdp, col("pct_change_period")).as("gdp_change_pct"),
        pick(isCpi, col("avg_value")).as("cpi_value"),
        pick(isCpi, col("pct_change_period")).as("cpi_change_pct"),
        pick(isRate, col("avg_value")).as("interest_rate_value"),
        pick(isRate, col("pct_change_period")).as("interest_rate_change_pct"))
      .withColumn("inflation_regime",
        when(col("cpi_change_pct") > 2, "HIGH_INFLATION")
          .when(col("cpi_change_pct").between(0, 2), "MODERATE_INFLATION")
          .when(col("cpi_change_pct") < 0, "DEFLATION")
          .otherwise("UNKNOWN"))
  }

  private val marketEconomicAnalysisSql: String = s"""
    WITH ${stgFredSql(MeaCodes)},
    roc AS (
      SELECT strftime(q_d, '%Y-') ||
          CAST(CAST(strftime(q_d, '%m') AS INTEGER) AS VARCHAR) AS year_month,
        series_code, 'Series ' || series_code AS series_name,
        avg_value, pct_change_period, 'quarterly_roc' AS data_source
      FROM (
        SELECT series_code, q_d, avg_value,
          CASE WHEN LAG(avg_value, 1) OVER (PARTITION BY series_code ORDER BY q_d) != 0
            THEN (avg_value - LAG(avg_value, 1) OVER (PARTITION BY series_code ORDER BY q_d))
              / LAG(avg_value, 1) OVER (PARTITION BY series_code ORDER BY q_d) * 100 END
            AS pct_change_period
        FROM (
          SELECT series_code, CAST(DATE_TRUNC('quarter', date) AS DATE) AS q_d,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
          FROM stg GROUP BY 1, 2
        )
      )
    ),
    economic_data AS (
      SELECT *,
        CASE WHEN regexp_matches(year_month, '^\\d{4}-\\d{1,2}$$')
          THEN CAST(SPLIT_PART(year_month, '-', 1) || '-' ||
            LPAD(SPLIT_PART(year_month, '-', 2), 2, '0') || '-01' AS DATE)
        END AS month_date
      FROM roc
    ),
    pivoted AS (
      SELECT year_month, month_date,
        MAX(CASE WHEN series_code LIKE '%GDP%'
              OR LOWER(series_name) LIKE '%gross domestic product%'
            THEN avg_value END) AS gdp_value,
        MAX(CASE WHEN series_code LIKE '%GDP%'
              OR LOWER(series_name) LIKE '%gross domestic product%'
            THEN pct_change_period END) AS gdp_change_pct,
        MAX(CASE WHEN series_code LIKE '%CPI%'
              OR LOWER(series_name) LIKE '%consumer price%'
            THEN avg_value END) AS cpi_value,
        MAX(CASE WHEN series_code LIKE '%CPI%'
              OR LOWER(series_name) LIKE '%consumer price%'
            THEN pct_change_period END) AS cpi_change_pct,
        MAX(CASE WHEN LOWER(series_name) LIKE '%interest%'
              OR LOWER(series_name) LIKE '%rate%'
            THEN avg_value END) AS interest_rate_value,
        MAX(CASE WHEN LOWER(series_name) LIKE '%interest%'
              OR LOWER(series_name) LIKE '%rate%'
            THEN pct_change_period END) AS interest_rate_change_pct
      FROM economic_data
      WHERE month_date IS NOT NULL
      GROUP BY year_month, month_date
    )
    SELECT year_month, month_date, gdp_value, gdp_change_pct, cpi_value,
      cpi_change_pct, interest_rate_value, interest_rate_change_pct,
      CASE WHEN cpi_change_pct > 2 THEN 'HIGH_INFLATION'
           WHEN cpi_change_pct BETWEEN 0 AND 2 THEN 'MODERATE_INFLATION'
           WHEN cpi_change_pct < 0 THEN 'DEFLATION'
           ELSE 'UNKNOWN' END AS inflation_regime
    FROM pivoted
  """

  // ------------------------------------------------------------------
  // stg_reddit_posts (ref, 49 LoC)
  // ------------------------------------------------------------------

  def redditPosts(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).events
    val sub = when(col("user_id") % 5 === 0, "Stocks")
      .when(col("user_id") % 5 === 1, "investing")
      .when(col("user_id") % 5 === 2, "WallStreetBets")
      .when(col("user_id") % 5 === 3, "u_PromoBot")
      .otherwise("economy")
    val raw = e.select(
      col("event_id").as("post_id"),
      col("props").as("title"),
      when(col("event_id") % 31 === 0, lit(null).cast("long"))
        .otherwise(floor(col("value"))).as("score"),
      (col("event_id") % 17).as("num_comments"),
      col("ts").as("created_utc"),
      when(col("user_id") % 29 === 0, "[deleted]")
        .otherwise(concat(lit("user_"), col("user_id"))).as("author"),
      when(col("event_id") % 3 === 0,
        concat(lit("https://reddit.com/r/"), sub, lit("/post")))
        .otherwise(lit("https://example.com/article")).as("url"),
      concat(lit("/r/"), sub, lit("/comments/"), col("event_id")).as("permalink"),
      sub.as("subreddit"),
      when(col("event_id") % 4 === 0, concat(lit("self."), sub))
        .otherwise(lit("example.com")).as("domain"),
      when(col("event_id") % 41 === 0, "not-a-date")
        .otherwise(to_date(col("ts")).cast("string")).as("partition_date"),
      lit("2026-01-01T00:00:00").as("fetched_at"))

    val maxD = e.agg(max(to_date(col("ts"))).as("__maxd"))
    raw
      .withColumn("pd", col("partition_date").try_cast("date"))
      .crossJoin(broadcast(maxD))
      .filter(col("pd").isNotNull && col("pd") >= date_sub(col("__maxd"), 90))
      .filter(col("score").isNotNull && col("title").isNotNull && length(col("title")) > 0)
      .filter(!lower(col("subreddit")).startsWith("u_"))
      .select(
        col("post_id"), col("title"), col("score"), col("num_comments"),
        col("created_utc"), col("author"), col("url"), col("permalink"),
        lower(col("subreddit")).as("subreddit"), col("domain"),
        col("pd").as("partition_date"), col("fetched_at"),
        coalesce(col("domain").like("%self.%"), lit(false)).as("is_self_post"),
        (coalesce(col("url").like("%/r/%"), lit(false)) ||
          coalesce(col("domain").like("%self.%"), lit(false))).as("is_text_post"),
        (col("score") + col("num_comments")).cast("long").as("engagement_score"),
        when(col("num_comments") > 0,
          col("score").cast("double") / col("num_comments").cast("double"))
          .otherwise(col("score").cast("double")).as("score_per_comment"),
        dayofweek(col("created_utc")).cast("long").as("day_of_week"),
        hour(col("created_utc")).cast("long").as("hour_of_day"),
        coalesce(col("author") === "[deleted]", lit(false)).as("is_deleted"))
  }

  val redditPostsSql: String = """
    WITH src AS (
      SELECT event_id AS post_id, props AS title,
        CASE WHEN event_id % 31 = 0 THEN NULL
             ELSE CAST(FLOOR(value) AS BIGINT) END AS score,
        event_id % 17 AS num_comments,
        ts AS created_utc,
        CASE WHEN user_id % 29 = 0 THEN '[deleted]'
             ELSE 'user_' || CAST(user_id AS VARCHAR) END AS author,
        CASE WHEN user_id % 5 = 0 THEN 'Stocks'
             WHEN user_id % 5 = 1 THEN 'investing'
             WHEN user_id % 5 = 2 THEN 'WallStreetBets'
             WHEN user_id % 5 = 3 THEN 'u_PromoBot'
             ELSE 'economy' END AS subreddit_raw,
        event_id, user_id
      FROM events
    ),
    src2 AS (
      SELECT post_id, title, score, num_comments, created_utc, author,
        CASE WHEN event_id % 3 = 0
          THEN 'https://reddit.com/r/' || subreddit_raw || '/post'
          ELSE 'https://example.com/article' END AS url,
        '/r/' || subreddit_raw || '/comments/' || CAST(event_id AS VARCHAR) AS permalink,
        subreddit_raw,
        CASE WHEN event_id % 4 = 0 THEN 'self.' || subreddit_raw
             ELSE 'example.com' END AS domain,
        CASE WHEN event_id % 41 = 0 THEN 'not-a-date'
             ELSE CAST(CAST(created_utc AS DATE) AS VARCHAR) END AS partition_date,
        '2026-01-01T00:00:00' AS fetched_at
      FROM src
    )
    SELECT post_id, title, score, num_comments, created_utc, author, url, permalink,
      LOWER(subreddit_raw) AS subreddit, domain,
      TRY_CAST(partition_date AS DATE) AS partition_date, fetched_at,
      COALESCE(domain LIKE '%self.%', FALSE) AS is_self_post,
      (COALESCE(url LIKE '%/r/%', FALSE) OR COALESCE(domain LIKE '%self.%', FALSE))
        AS is_text_post,
      CAST(score + num_comments AS BIGINT) AS engagement_score,
      CASE WHEN num_comments > 0 THEN CAST(score AS DOUBLE) / CAST(num_comments AS DOUBLE)
           ELSE CAST(score AS DOUBLE) END AS score_per_comment,
      CAST(EXTRACT(DOW FROM created_utc) + 1 AS BIGINT) AS day_of_week,
      CAST(EXTRACT(HOUR FROM created_utc) AS BIGINT) AS hour_of_day,
      COALESCE(author = '[deleted]', FALSE) AS is_deleted
    FROM src2
    WHERE TRY_CAST(partition_date AS DATE) IS NOT NULL
      AND TRY_CAST(partition_date AS DATE) >=
        (SELECT MAX(CAST(ts AS DATE)) FROM events) - INTERVAL 90 DAY
      AND score IS NOT NULL AND title IS NOT NULL AND LENGTH(title) > 0
      AND NOT STARTS_WITH(LOWER(subreddit_raw), 'u_')
  """

  // ------------------------------------------------------------------
  // technical_signal_instances (ref, 134 LoC)
  // ------------------------------------------------------------------

  private val Horizons     = Seq(1, 5, 10, 21, 63, 126)
  private val ExcursionBars = 21

  def signalInstances(s: SparkSession, dir: String): DataFrame =
    signalInstancesFrom(s, dir, TechnicalSignalQueries.signalEvents(s, dir))

  /** signal_instances from an already-derived signal-events frame —
    * the DAG-lane read path (materialized `mart_signal_events`), so
    * the indicator/event pipeline is built once per session, not once
    * per consumer. The forward-return spine still derives from bars. */
  private[queries] def signalInstancesFrom(
      s: SparkSession, dir: String, events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("d"))
    val fEx = w.rowsBetween(1, ExcursionBars)
    val spine = ModelQueries.bars(s, dir)
      .select((Seq(col("symbol"), col("d"), col("close")) ++
        Horizons.map(h => lead(col("close"), h).over(w).as(s"fwd_close_$h")) ++
        Seq(max(col("high")).over(fEx).as("max_high_fwd"),
          min(col("low")).over(fEx).as("min_low_fwd"))): _*)
      .persist() // feeds the benchmark slice AND the trigger join

    val bench = spine.filter(col("symbol") === "A")
      .select(col("d").as("b_d") +:
        Horizons.map(h =>
          (col(s"fwd_close_$h") / when(col("close") =!= 0, col("close")) - 1)
            .as(s"spy_fwd_return_$h")): _*)

    val triggers = events
      .filter(col("signal_state") === "triggered")
      .select(col("symbol").as("t_sym"), col("d").as("entry_date"),
        col("indicator_name"), col("signal_name"), col("signal_side"),
        col("signal_value"), col("close").as("entry_price"),
        col("relative_volume"), col("volume_confirmed"))

    val ev = triggers
      .join(spine.drop("close"),
        col("t_sym") === col("symbol") && col("entry_date") === col("d"))
      .join(bench, col("entry_date") === col("b_d"), "left")
    def fwd(h: Int): Column =
      col(s"fwd_close_$h") / when(col("entry_price") =!= 0, col("entry_price")) - 1
    def rel(h: Int): Column = fwd(h) - col(s"spy_fwd_return_$h")
    val mfe = col("max_high_fwd") / when(col("entry_price") =!= 0, col("entry_price")) - 1
    val mae = col("min_low_fwd") / when(col("entry_price") =!= 0, col("entry_price")) - 1
    ev.select(
      (Seq(col("t_sym").as("symbol"), col("indicator_name"), col("signal_name"),
        col("signal_side"), col("entry_date"),
        rsnap(col("entry_price"), 4).as("entry_price"),
        col("signal_value"),
        rsnap(col("relative_volume"), 4).as("relative_volume"),
        col("volume_confirmed")) ++
        Horizons.flatMap(h => Seq(
          round(fwd(h), 6).as(s"forward_return_${h}d"),
          round(col(s"spy_fwd_return_$h"), 6).as(s"benchmark_forward_return_${h}d"),
          round(rel(h), 6).as(s"relative_forward_return_${h}d"))) ++
        Seq(
          round(mfe, 6).as(s"max_favorable_excursion_${ExcursionBars}d"),
          round(mae, 6).as(s"max_adverse_excursion_${ExcursionBars}d"),
          when(col("signal_side") === "bearish", round(-mae, 6))
            .otherwise(round(mfe, 6)).as(s"side_adjusted_mfe_${ExcursionBars}d")) ++
        Seq(5, 21, 63).map(h =>
          // emitted as nullable INT (1/0/NULL) on both sides: the
          // driver's comparer stringifies nullable booleans
          when(rel(h).isNull, lit(null).cast("int"))
            .when(col("signal_side") === "bullish", (rel(h) > 0).cast("int"))
            .when(col("signal_side") === "bearish", (rel(h) < 0).cast("int"))
            .as(s"worked_${h}d"))): _*)
  }

  val signalInstancesSqlPublic: String = {
    val fwdCols = Horizons
      .map(h => s"LEAD(close, $h) OVER wsym AS fwd_close_$h").mkString(",\n        ")
    val benchCols = Horizons.map(h =>
      s"fwd_close_$h / NULLIF(close, 0) - 1 AS spy_fwd_return_$h").mkString(",\n        ")
    val outFwd = Horizons.map { h =>
      s"""ROUND(s.fwd_close_$h / NULLIF(t.entry_price, 0) - 1, 6) + 0.0 AS forward_return_${h}d,
      ROUND(b.spy_fwd_return_$h, 6) + 0.0 AS benchmark_forward_return_${h}d,
      ROUND((s.fwd_close_$h / NULLIF(t.entry_price, 0) - 1) - b.spy_fwd_return_$h, 6) + 0.0
        AS relative_forward_return_${h}d"""
    }.mkString(",\n      ")
    val worked = Seq(5, 21, 63).map { h =>
      s"""CAST(CASE WHEN (s.fwd_close_$h / NULLIF(t.entry_price, 0) - 1) - b.spy_fwd_return_$h IS NULL
           THEN NULL
           WHEN t.signal_side = 'bullish'
           THEN CAST((s.fwd_close_$h / NULLIF(t.entry_price, 0) - 1) - b.spy_fwd_return_$h > 0 AS INTEGER)
           WHEN t.signal_side = 'bearish'
           THEN CAST((s.fwd_close_$h / NULLIF(t.entry_price, 0) - 1) - b.spy_fwd_return_$h < 0 AS INTEGER)
      END AS INTEGER) AS worked_${h}d"""
    }.mkString(",\n      ")
    s"""
    WITH ${ModelQueries.barsSqlPublic},
    ${TechnicalSignalQueries.indicatorsSql},
    ${TechnicalSignalQueries.eventsCteSql},
    spine AS (
      SELECT symbol, d, close,
        $fwdCols,
        MAX(high) OVER (PARTITION BY symbol ORDER BY d
          ROWS BETWEEN 1 FOLLOWING AND $ExcursionBars FOLLOWING) AS max_high_fwd,
        MIN(low) OVER (PARTITION BY symbol ORDER BY d
          ROWS BETWEEN 1 FOLLOWING AND $ExcursionBars FOLLOWING) AS min_low_fwd
      FROM bars
      WINDOW wsym AS (PARTITION BY symbol ORDER BY d)
    ),
    benchmark AS (
      SELECT d AS b_d,
        $benchCols
      FROM spine WHERE symbol = 'A'
    ),
    triggers AS (
      SELECT symbol AS t_sym, d AS entry_date, indicator_name, signal_name,
        signal_side, signal_value, close AS entry_price, relative_volume,
        volume_confirmed
      FROM events WHERE signal_state = 'triggered'
    )
    SELECT t.t_sym AS symbol, t.indicator_name, t.signal_name, t.signal_side,
      t.entry_date,
      ${oSnap("t.entry_price", 4)} AS entry_price,
      t.signal_value,
      ${oSnap("t.relative_volume", 4)} AS relative_volume,
      t.volume_confirmed,
      $outFwd,
      ROUND(s.max_high_fwd / NULLIF(t.entry_price, 0) - 1, 6) + 0.0
        AS max_favorable_excursion_${ExcursionBars}d,
      ROUND(s.min_low_fwd / NULLIF(t.entry_price, 0) - 1, 6) + 0.0
        AS max_adverse_excursion_${ExcursionBars}d,
      CASE WHEN t.signal_side = 'bearish'
        THEN ROUND(-(s.min_low_fwd / NULLIF(t.entry_price, 0) - 1), 6) + 0.0
        ELSE ROUND(s.max_high_fwd / NULLIF(t.entry_price, 0) - 1, 6) + 0.0
      END AS side_adjusted_mfe_${ExcursionBars}d,
      $worked
    FROM triggers t
    INNER JOIN spine s ON t.t_sym = s.symbol AND t.entry_date = s.d
    LEFT JOIN benchmark b ON t.entry_date = b.b_d
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_factor_tilts", factorTilts, Some(factorTiltsSql)),
    QueryDef("q_market_economic_analysis", marketEconomicAnalysis,
      Some(marketEconomicAnalysisSql)),
    QueryDef("q_stg_reddit_posts", redditPosts, Some(redditPostsSql)),
    QueryDef("q_technical_signal_instances", signalInstances, Some(signalInstancesSqlPublic))
  )
}
