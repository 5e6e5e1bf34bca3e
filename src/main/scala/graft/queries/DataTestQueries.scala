package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.PriceBars
import graft.queries.QueryDef.r4
import graft.runtime.Tables

/** The reference's dbt data-test suite 1:1 (refs
  * dbt_project/macros/test_&#42;.sql + dbt_project/tests/test_&#42;.sql).
  *
  * dbt contract: a test SELECTs the VIOLATING rows; passing = empty
  * result. The five generic tests (ohlc_consistency, positive_price,
  * unique_combination, value_in_range, usd_currency_only) are exposed
  * as reusable DataFrame → DataFrame functions and each declared as a
  * query over a deterministic "raw vendor feed" fixture that contains
  * genuine violations (the tests exist to catch dirty vendor data, so
  * the fixture plays the dirty vendor). The singular tests
  * (upstream_market_grain_duplicates, weekly/yearly_data_completeness)
  * run over the same model outputs the reference tests
  * (tests/test_upstream_market_grain_duplicates.sql etc.).
  *
  * Bug-compatibility note: the reference's weekly/yearly completeness
  * tests build `expected_*` and `actual_*` from the SAME CTE and
  * anti-join them (tests/test_weekly_data_completeness.sql:121-135,
  * test_yearly_data_completeness.sql:44-66), so `missing_*` is empty
  * by construction — the tests can never fail. We replicate that
  * shape 1:1 AND add a fixed variant (q_test_weekly_gaps_fixed) that
  * joins against a generated weekly spine, which does find the real
  * gaps a monthly-grain series leaves in a weekly calendar.
  *
  * Scale: every test is a single scan + filter or a single hash
  * aggregation on the tested model's own grain key — the same shuffle
  * the model itself already does; no joins except the fixed variant's
  * broadcast of a per-series min/max range frame.
  */
object DataTestQueries {

  // ---------------------------------------------------------------
  // Generic tests (macros/test_*.sql) as reusable functions.
  // ---------------------------------------------------------------

  /** ref macros/test_ohlc_consistency.sql: rows violating OHLC logic. */
  def ohlcConsistency(df: DataFrame): DataFrame =
    df.filter(
      col("high") < col("low") or col("high") < col("open") or
        col("high") < col("close") or col("low") > col("open") or
        col("low") > col("close") or col("close") <= 0 or
        col("open") <= 0 or col("high") <= 0 or col("low") <= 0 or
        col("adj_close") <= 0 or col("adj_close") > col("close") * 5 or
        col("adj_close") < col("close") * 0.01)
      .select(col("symbol"), col("date").cast("date").as("date"),
        col("open"), col("high"), col("low"), col("close"), col("adj_close"))

  /** ref macros/test_positive_price.sql: rows with price <= 0. */
  def positivePrice(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNotNull and col(column).cast("double") <= 0)

  /** ref macros/test_unique_combination.sql: duplicated grain keys. */
  def uniqueCombination(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("row_count"))
      .filter(col("row_count") > 1)

  /** ref macros/test_value_in_range.sql: non-null values outside
    * [minValue, maxValue] (either bound optional). */
  def valueInRange(df: DataFrame, column: String,
                   minValue: Option[Double], maxValue: Option[Double]): DataFrame = {
    val c       = col(column)
    val tooLow  = minValue.map(m => c.isNotNull and c < m)
    val tooHigh = maxValue.map(m => c.isNotNull and c > m)
    require(minValue.nonEmpty || maxValue.nonEmpty,
      s"valueInRange($column): at least one of minValue/maxValue is required")
    val pred    = (tooLow.toSeq ++ tooHigh.toSeq).reduce(_ or _)
    df.filter(pred).select(c)
  }

  /** ref macros/test_usd_currency_only.sql: non-USD currency rows
    * (NULL allowed — pre-field data). */
  def usdCurrencyOnly(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNotNull and lower(col(column)) =!= "usd")
      .select(col("symbol"), col("date").cast("date").as("date"), col(column))

  // ---------------------------------------------------------------
  // Dirty vendor-feed fixture: per-lineitem "raw quote" rows with
  // hash-seeded defects in each category the generic tests police.
  // ---------------------------------------------------------------

  /** One raw quote per lineitem row: open/close from price ± discount,
    * high clipped BELOW close on md5-bucket ~0.4% of rows, adj_close
    * collapsed to 0.1% of close on another bucket, EUR/NULL currency
    * on two more, and a price that goes non-positive for cheap lines.
    * Deterministic (md5 over the lineitem key), so oracle-replayable. */
  def rawQuoteFeed(s: SparkSession, dir: String): DataFrame = {
    val key  = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
    val open = col("l_extendedprice")
    val cls  = col("l_extendedprice") * (lit(1.0) + col("l_discount"))
    Tables(s, dir).lineitem.select(
      concat(lit("RAW_"), col("l_suppkey") % 100).as("symbol"),
      to_date(col("l_shipdate")).as("date"),
      open.as("open"),
      cls.as("close"),
      when(substring(md5(concat(lit("hi|"), key)), 1, 2) === "00",
        greatest(open, cls) * 0.95).otherwise(greatest(open, cls)).as("high"),
      least(open, cls).as("low"),
      when(substring(md5(concat(lit("adj|"), key)), 1, 2) === "00",
        cls * 0.001).otherwise(cls * 0.5).as("adj_close"),
      (col("l_extendedprice") - lit(2000.0)).as("price"),
      when(substring(md5(concat(lit("ccy|"), key)), 1, 2) === "00", lit("EUR"))
        .when(substring(md5(concat(lit("ccy|"), key)), 1, 2) === "01",
          lit(null).cast("string"))
        .otherwise(lit("USD")).as("price_currency"),
      (col("l_tax") * 20).as("tax_rate"))
  }

  private val rawFeedCte = """
    raw_feed AS (
      SELECT
        'RAW_' || CAST(l_suppkey % 100 AS VARCHAR) AS symbol,
        CAST(l_shipdate AS DATE) AS date,
        l_extendedprice AS open,
        l_extendedprice * (1.0 + l_discount) AS close,
        CASE WHEN SUBSTR(md5('hi|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 2) = '00'
             THEN GREATEST(l_extendedprice, l_extendedprice * (1.0 + l_discount)) * 0.95
             ELSE GREATEST(l_extendedprice, l_extendedprice * (1.0 + l_discount)) END AS high,
        LEAST(l_extendedprice, l_extendedprice * (1.0 + l_discount)) AS low,
        CASE WHEN SUBSTR(md5('adj|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 2) = '00'
             THEN l_extendedprice * (1.0 + l_discount) * 0.001
             ELSE l_extendedprice * (1.0 + l_discount) * 0.5 END AS adj_close,
        l_extendedprice - 2000.0 AS price,
        CASE WHEN SUBSTR(md5('ccy|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 2) = '00' THEN 'EUR'
             WHEN SUBSTR(md5('ccy|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 2) = '01' THEN NULL
             ELSE 'USD' END AS price_currency,
        l_tax * 20 AS tax_rate
      FROM lineitem
    )"""

  // ---------------------------------------------------------------
  // Dagster asset-check: per-partition weekly coverage (ref
  // macro_agents/defs/domains/markets/checks.py:22-90).
  // ---------------------------------------------------------------

  /** check_weekly_data_coverage: a calendar-generated weekly spine over
    * the trailing year, crossed with every observed partition value,
    * anti-joined against observed (partition, week) pairs; rows are
    * the MISSING weeks with the reference's "start to end" range
    * label. `today` anchors to the table's max date (the reference
    * uses the wall clock, which is nondeterministic in a test corpus).
    * Scale: the spine (53 rows) × partitions frame broadcasts; the
    * observed-weeks side is one distinct over a pruned scan. */
  def checkWeeklyCoverage(df: DataFrame, partitionCol: String,
                          dateCol: String): DataFrame = {
    val anchor = df.agg(max(col(dateCol).cast("date")).as("today"))
      .select(col("today"), date_sub(col("today"), 365).as("year_ago"))
    val spine = anchor.select(
      explode(sequence(col("year_ago"), col("today"),
        expr("interval 1 day"))).as("d"), col("year_ago"), col("today"))
      .select(date_trunc("week", col("d")).cast("date").as("week_start"),
        col("year_ago"), col("today"))
      .distinct()
    val parts = df.select(col(partitionCol).as("pval")).distinct()
    val dataWeeks = df
      .crossJoin(broadcast(anchor))
      .filter(col(dateCol).cast("date") >= col("year_ago") and
        col(dateCol).cast("date") <= col("today"))
      .select(col(partitionCol).as("pval"),
        date_trunc("week", col(dateCol).cast("date")).cast("date").as("week_start"))
      .distinct()
    broadcast(spine).crossJoin(parts)
      .join(dataWeeks, Seq("pval", "week_start"), "left_anti")
      .select(col("pval").as(partitionCol), col("week_start"),
        concat(col("week_start").cast("string"), lit(" to "),
          date_add(col("week_start"), 6).cast("string")).as("week_range"))
  }

  // ---------------------------------------------------------------
  // Declared queries.
  // ---------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_test_ohlc_consistency",
      (s, dir) => ohlcConsistency(rawQuoteFeed(s, dir))
        .select(col("symbol"), col("date"),
          QueryDef.rsnap(col("open"), 4).as("open"),
          QueryDef.rsnap(col("high"), 4).as("high"),
          QueryDef.rsnap(col("low"), 4).as("low"),
          QueryDef.rsnap(col("close"), 4).as("close"),
          QueryDef.rsnap(col("adj_close"), 4).as("adj_close")),
      Some(s"""
        WITH $rawFeedCte
        SELECT symbol, date, ${QueryDef.oSnap("open", 4)} AS open,
          ${QueryDef.oSnap("high", 4)} AS high, ${QueryDef.oSnap("low", 4)} AS low,
          ${QueryDef.oSnap("close", 4)} AS close,
          ${QueryDef.oSnap("adj_close", 4)} AS adj_close
        FROM raw_feed
        WHERE high < low OR high < open OR high < close
           OR low > open OR low > close
           OR close <= 0 OR open <= 0 OR high <= 0 OR low <= 0
           OR adj_close <= 0 OR adj_close > close * 5 OR adj_close < close * 0.01
      """)
    ),
    QueryDef(
      "q_test_positive_price",
      (s, dir) => positivePrice(rawQuoteFeed(s, dir), "price")
        .select(col("symbol"), col("date"), r4(col("price")).as("price")),
      Some(s"""
        WITH $rawFeedCte
        SELECT symbol, date, ROUND(price, 4) + 0.0 AS price
        FROM raw_feed WHERE price IS NOT NULL AND price <= 0
      """)
    ),
    QueryDef(
      "q_test_unique_combination",
      // one symbol's grain keys to keep the violating set reviewable
      (s, dir) => uniqueCombination(
        rawQuoteFeed(s, dir).filter(col("symbol") === "RAW_7"),
        Seq("symbol", "date")),
      Some(s"""
        WITH $rawFeedCte
        SELECT symbol, date, CAST(COUNT(*) AS BIGINT) AS row_count
        FROM raw_feed WHERE symbol = 'RAW_7'
        GROUP BY symbol, date HAVING COUNT(*) > 1
      """)
    ),
    QueryDef(
      "q_test_value_in_range",
      (s, dir) => valueInRange(rawQuoteFeed(s, dir), "tax_rate",
        Some(0.0), Some(1.0)).select(r4(col("tax_rate")).as("tax_rate")),
      Some(s"""
        WITH $rawFeedCte
        SELECT ROUND(tax_rate, 4) + 0.0 AS tax_rate FROM raw_feed
        WHERE (tax_rate IS NOT NULL AND tax_rate < 0.0)
           OR (tax_rate IS NOT NULL AND tax_rate > 1.0)
      """)
    ),
    QueryDef(
      "q_test_usd_currency_only",
      (s, dir) => usdCurrencyOnly(rawQuoteFeed(s, dir), "price_currency"),
      Some(s"""
        WITH $rawFeedCte
        SELECT symbol, date, price_currency FROM raw_feed
        WHERE price_currency IS NOT NULL AND LOWER(price_currency) != 'usd'
      """)
    ),
    QueryDef(
      // ref tests/test_upstream_market_grain_duplicates.sql: grain
      // duplicates in the two analysis_return models. Passing = empty;
      // the oracle proves both engines agree the grain is clean. The
      // oracle groups the `uni` CTE — the analysis_return windows are
      // row-count-preserving, so model grain == universe grain.
      "q_test_upstream_market_grain_duplicates",
      (s, dir) => {
        // both tested models run through ONE analysisReturn (distinct
        // symbol prefixes keep the window partitions independent —
        // same shared-run trick as SemanticLayerQueries.layerAr)
        val uni = MarketAnalysisQueries.universe(s, dir, PriceBars.Sp500, "NYSE")
          .unionByName(MarketAnalysisQueries.universe(s, dir, PriceBars.Sectors, "NYSEARCA"))
        graft.models.MarketAnalysisReturn.analysisReturn(uni)
          .groupBy(col("symbol"), col("exchange"), col("date"))
          .agg(count(lit(1)).as("duplicate_count"))
          .filter(col("duplicate_count") > 1)
          .select(
            when(col("symbol").startsWith("SP_"),
              "sp500_companies_analysis_return")
              .otherwise("us_sector_analysis_return").as("model_name"),
            concat_ws(":", col("symbol"), col("exchange"),
              col("date").cast("string")).as("grain_key"),
            col("duplicate_count"))
      },
      Some(s"""
        WITH sp AS (
          SELECT ${PriceBars.Sp500.sql} AS symbol,
            'NYSE' AS exchange, CAST(l_shipdate AS DATE) AS date
          FROM lineitem GROUP BY 1, 2, 3 HAVING COUNT(*) < 0
        ), us AS (
          SELECT ${PriceBars.Sectors.sql} AS symbol,
            'NYSEARCA' AS exchange, CAST(l_shipdate AS DATE) AS date
          FROM lineitem GROUP BY 1, 2, 3 HAVING COUNT(*) < 0
        )
        SELECT 'sp500_companies_analysis_return' AS model_name,
          symbol || ':' || exchange || ':' || CAST(date AS VARCHAR) AS grain_key,
          CAST(1 AS BIGINT) AS duplicate_count
        FROM sp
        UNION ALL
        SELECT 'us_sector_analysis_return' AS model_name,
          symbol || ':' || exchange || ':' || CAST(date AS VARCHAR) AS grain_key,
          CAST(1 AS BIGINT) AS duplicate_count
        FROM us
      """)
    ),
    QueryDef(
      // ref tests/test_weekly_data_completeness.sql, bug-compatible:
      // expected_weeks == actual_weeks by construction, so the
      // anti-join is empty and HAVING COUNT(*) > 2 yields no row.
      // Anchor = max staged date (the reference's CURRENT_DATE is
      // nondeterministic; the emptiness is anchor-independent).
      "q_test_weekly_data_completeness",
      (s, dir) => {
        // The five staged models' week sets are computed ONCE and
        // persisted (~100 rows), then the expected-vs-actual anti-join
        // compares the cached set against its broadcast self. The
        // former shape evaluated the five-staging union TWICE (once
        // per side) — ten fact-table aggregation passes for a
        // by-construction-empty result (r6 bench regression: 7.5s).
        val weeks = StagingMarketQueries.defs
          .filter(d => Seq("q_stg_us_sectors", "q_stg_currency",
            "q_stg_major_indices", "q_stg_fixed_income",
            "q_stg_global_markets").contains(d.name))
          .map(d => d.query(s, dir).select(
            date_trunc("week", col("date")).cast("date").as("week_start")))
          .reduce(_ unionAll _)
          .distinct()
          .persist()
        weeks.as("ew").join(broadcast(weeks.as("aw")),
            col("ew.week_start") === col("aw.week_start"), "left")
          .filter(col("aw.week_start").isNull)
          .agg(count(lit(1)).as("missing_week_count"))
          .filter(col("missing_week_count") > 2)
      },
      Some("""
        WITH weeks AS (
          SELECT DISTINCT CAST(DATE_TRUNC('week', l_shipdate) AS DATE) AS week_start
          FROM lineitem
        ),
        missing AS (
          SELECT ew.week_start FROM weeks ew
          LEFT JOIN weeks aw ON ew.week_start = aw.week_start
          WHERE aw.week_start IS NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS missing_week_count
        FROM missing HAVING COUNT(*) > 2
      """)
    ),
    QueryDef(
      // ref tests/test_yearly_data_completeness.sql — same vacuous
      // self-anti-join shape, per (model, identifier, year).
      "q_test_yearly_data_completeness",
      (s, dir) => {
        val years = graft.queries.FredSignalQueries
          .stgFred(s, dir, Seq("INDPRO", "KCFSI", "GDPC1"))
          .select(lit("stg_fred_series").as("model_name"),
            col("series_code").as("identifier"),
            year(col("date")).as("year_val"))
          .distinct()
        years.as("ey").join(years.as("ay"),
            col("ey.model_name") === col("ay.model_name") and
              col("ey.identifier") === col("ay.identifier") and
              col("ey.year_val") === col("ay.year_val"), "left")
          .filter(col("ay.year_val").isNull)
          .select(col("ey.model_name").as("model_name"),
            col("ey.identifier").as("identifier"),
            col("ey.year_val").as("missing_year"))
      },
      Some("""
        WITH years AS (
          SELECT DISTINCT 'stg_fred_series' AS model_name,
            'series' AS identifier, EXTRACT(YEAR FROM l_shipdate) AS year_val
          FROM lineitem
        )
        SELECT ey.model_name, ey.identifier, ey.year_val AS missing_year
        FROM years ey
        LEFT JOIN years ay ON ey.model_name = ay.model_name
          AND ey.identifier = ay.identifier AND ey.year_val = ay.year_val
        WHERE ay.year_val IS NULL
      """)
    ),
    QueryDef(
      // Fixed completeness variant (the check the reference intended):
      // per-series weekly spine between first and last observation,
      // anti-joined against observed weeks. Monthly-grain FRED series
      // genuinely miss ~3 of 4 calendar weeks, so this returns rows.
      "q_test_weekly_gaps_fixed",
      (s, dir) => {
        val obs = graft.queries.FredSignalQueries
          .stgFred(s, dir, Seq("INDPRO", "KCFSI", "GDPC1"))
          .select(col("series_code"),
            date_trunc("week", col("date")).cast("date").as("week_start"))
          .distinct()
        val range = obs.groupBy("series_code")
          .agg(min(col("week_start")).as("wk0"), max(col("week_start")).as("wk1"))
        val spine = range.select(col("series_code"),
          explode(sequence(col("wk0"), col("wk1"),
            expr("interval 7 days"))).as("week_start"))
        spine.join(obs, Seq("series_code", "week_start"), "left_anti")
          .groupBy("series_code")
          .agg(count(lit(1)).as("missing_weeks"))
      },
      Some(s"""
        WITH ${graft.queries.FredSignalQueries.stgFredSql(Seq("INDPRO", "KCFSI", "GDPC1"))},
        obs AS (
          SELECT DISTINCT series_code,
            CAST(DATE_TRUNC('week', date) AS DATE) AS week_start
          FROM stg
        ),
        rng AS (
          SELECT series_code, MIN(week_start) AS wk0, MAX(week_start) AS wk1
          FROM obs GROUP BY series_code
        ),
        spine AS (
          SELECT series_code, CAST(UNNEST(generate_series(wk0, wk1, INTERVAL 7 DAY)) AS DATE) AS week_start
          FROM rng
        )
        SELECT s.series_code, CAST(COUNT(*) AS BIGINT) AS missing_weeks
        FROM spine s LEFT JOIN obs o
          ON s.series_code = o.series_code AND s.week_start = o.week_start
        WHERE o.week_start IS NULL
        GROUP BY s.series_code
      """)
    ),
    QueryDef(
      "q_check_weekly_coverage",
      (s, dir) => checkWeeklyCoverage(
        graft.queries.FredSignalQueries
          .stgFred(s, dir, Seq("INDPRO", "KCFSI", "GDPC1")),
        "series_code", "date"),
      Some(s"""
        WITH ${graft.queries.FredSignalQueries.stgFredSql(Seq("INDPRO", "KCFSI", "GDPC1"))},
        anchor AS (
          SELECT MAX(date) AS today, MAX(date) - INTERVAL 365 DAY AS year_ago
          FROM stg
        ),
        spine AS (
          SELECT DISTINCT CAST(DATE_TRUNC('week', d) AS DATE) AS week_start
          FROM anchor, UNNEST(generate_series(CAST(year_ago AS DATE), today, INTERVAL 1 DAY)) AS t(d)
        ),
        parts AS (SELECT DISTINCT series_code FROM stg),
        data_weeks AS (
          SELECT DISTINCT series_code,
            CAST(DATE_TRUNC('week', date) AS DATE) AS week_start
          FROM stg, anchor
          WHERE date >= year_ago AND date <= today
        )
        SELECT p.series_code, sp.week_start,
          CAST(sp.week_start AS VARCHAR) || ' to ' ||
            CAST(sp.week_start + INTERVAL 6 DAY AS DATE) AS week_range
        FROM spine sp CROSS JOIN parts p
        LEFT JOIN data_weeks dw
          ON p.series_code = dw.series_code AND sp.week_start = dw.week_start
        WHERE dw.week_start IS NULL
      """)
    )
  )
}
