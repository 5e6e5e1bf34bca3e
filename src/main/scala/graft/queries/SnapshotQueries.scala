package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.qualifyRowNumber
import graft.models.{MarketSummary, PriceBars}
import graft.queries.QueryDef.{oDivRound, oSnap, r4, rdiv}

/** The backtesting snapshot family 1:1 (SURVEY.md §2.M backtesting
  * schema; ref dbt_project/models/backtesting and the agents_preprocess
  * snapshot views): every model re-anchors a
  * "latest" model on a month-start snapshot spine so a backtest can
  * read the exact frame a given as-of month would have produced.
  *
  *  - us_sector_summary_snapshot (ref us_sector_summary_snapshot.sql):
  *    the calculate_market_summary band logic per snapshot_date —
  *    cross join the monthly spine, keep trade_date ∈ (snapshot − 5y,
  *    snapshot], band 12w/6m/1y/5y relative to the snapshot.
  *  - {energy,agriculture,input}_commodities_summary_snapshot (ref
  *    energy_commodities_summary_snapshot.sql etc.): the price-only
  *    variant — day-over-day LAG changes computed inside each
  *    snapshot's window (the first bar of every window drops, ref
  *    WHERE price_change IS NOT NULL).
  *  - fred_series_latest_aggregates_snapshot (ref same name): the
  *    12-month grain gate + monthly lag-3/6/12 pct changes per
  *    snapshot. NOTE: unlike fred_series_latest_aggregates, this
  *    variant does NOT have the 3m-numerator bug — each horizon uses
  *    its own numerator (ref :119-133) — so the two models disagree
  *    by design.
  *  - agent_market_performance_snapshot / agent_commodity_performance
  *    _snapshot: UNION-ALL compositions over the snapshots (the major-
  *    index branch derives snapshot_date = DATE_TRUNC(period_end_date)
  *    from the NON-snapshot major_indices_summary, ref
  *    agent_market_performance_snapshot.sql:77) + QUALIFY dedup.
  *  - agent_fred_series_latest_aggregates_snapshot: thin projection
  *    (clean_value alias, current_value NOT NULL filter).
  *
  * The reference's `date >= '2020-01-01'` spine cutoff ("Adjust based
  * on your data availability") maps to cutoffs inside the synthetic
  * 1992-1998 range; incremental `is_incremental()` pruning is the
  * driver-side MERGE story (SinkOps) and is out of scope here, as in
  * the non-snapshot models.
  *
  * Scale: the snapshot spine is tiny (months) and broadcast; the fan
  * is bounded by spine × 5y window and every downstream
  * window/aggregation is keyed by snapshot_date — at 100 TB each
  * snapshot's work is an independent partition and the fact table is
  * scanned once per model, pre-aggregated before the fan.
  */
object SnapshotQueries {

  /** Month-start snapshot spine cutoffs (the reference's
    * data-availability knob, mapped into the synthetic date range). */
  private val SummaryCutoff = "1996-07-01"
  private val FredCutoff    = "1998-07-01"

  // ------------------------------------------------------------------
  // OHLC summary snapshot template (us_sector_summary_snapshot.sql)
  // ------------------------------------------------------------------

  /** Month-start snapshot_dates of `df`'s trade dates from `cutoff` on. */
  private def spine(df: DataFrame, cutoff: String): DataFrame = df
    .filter(col("trade_date") >= to_date(lit(cutoff)))
    .select(trunc(col("trade_date"), "month").as("snapshot_date"))
    .distinct()

  /** `rows` fanned out to every snapshot whose 5y window holds them
    * (`trade_date` ∈ [snapshot − 5y, snapshot]) and banded against that
    * snapshot. The spine is tiny and broadcast, so the amplified rows
    * flow straight into the kernel's map-side partial aggregation and
    * never pass a window or a full-width shuffle. */
  private def onSpine(rows: DataFrame, spineOf: DataFrame, cutoff: String): DataFrame = {
    val (d, sd) = (col("trade_date"), col("snapshot_date"))
    rows
      .join(broadcast(spine(spineOf, cutoff)), d <= sd && d >= MarketSummary.fiveYearsBefore(sd))
      .withColumn("time_period", MarketSummary.band(d, sd))
  }

  /** Snapshot variant of [[MarketSummary.summarize]]: same bands,
    * moments and boundary prices, re-anchored per month-start
    * snapshot_date. `uni` columns as in summarize. */
  def summarizeSnapshot(uni: DataFrame, cutoff: String): DataFrame =
    MarketSummary.periodSummary(onSpine(MarketSummary.intraday(uni), uni, cutoff),
      keys = Seq("snapshot_date", "symbol", "asset_type", "time_period"),
      extras = Seq(max(col("exchange")).as("exchange"), max(col("name")).as("name")),
      lead = Seq("snapshot_date", "symbol", "asset_type", "time_period", "exchange", "name"),
      date = col("trade_date"), open = col("adj_open"), close = col("adj_close"),
      change = col("pca"), pct = col("pcta"))

  /** DuckDB oracle for [[summarizeSnapshot]]; `uniCte` defines `uni`. */
  def ohlcSnapshotOracleSql(uniCte: String, cutoff: String): String = s"""
    WITH $uniCte,
    spine AS (
      SELECT DISTINCT CAST(DATE_TRUNC('month', trade_date) AS DATE) AS snapshot_date
      FROM uni WHERE trade_date >= DATE '$cutoff'
    ),
    fd AS (
      SELECT b.*, s.snapshot_date,
        adj_close - adj_open AS pca,
        CASE WHEN adj_open > 0 THEN (adj_close - adj_open) / adj_open * 100 END AS pcta,
        CASE WHEN trade_date >= CAST(s.snapshot_date - INTERVAL 84 DAY AS DATE) THEN '12_weeks'
             WHEN trade_date >= CAST(s.snapshot_date - INTERVAL 6 MONTH AS DATE) THEN '6_months'
             WHEN trade_date >= CAST(s.snapshot_date - INTERVAL 1 YEAR AS DATE) THEN '1_year'
             ELSE '5_years' END AS time_period
      FROM uni b CROSS JOIN spine s
      WHERE b.trade_date IS NOT NULL AND b.open IS NOT NULL
        AND b.close IS NOT NULL AND b.open > 0
        AND b.trade_date <= s.snapshot_date
        AND b.trade_date >= CAST(s.snapshot_date - INTERVAL 5 YEAR AS DATE)
    ),
    sp2 AS (
      SELECT snapshot_date, symbol, time_period, adj_open AS period_start_price FROM (
        SELECT snapshot_date, symbol, time_period, adj_open,
          ROW_NUMBER() OVER (PARTITION BY snapshot_date, symbol, time_period
            ORDER BY trade_date ASC, adj_open ASC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ep2 AS (
      SELECT snapshot_date, symbol, time_period, adj_close AS period_end_price FROM (
        SELECT snapshot_date, symbol, time_period, adj_close,
          ROW_NUMBER() OVER (PARTITION BY snapshot_date, symbol, time_period
            ORDER BY trade_date DESC, adj_close DESC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ar AS (
      SELECT snapshot_date, symbol, asset_type, time_period,
        MAX(exchange) AS exchange, MAX(name) AS name,
        MIN(trade_date) AS period_start_date,
        MAX(trade_date) AS period_end_date,
        CAST(COUNT(*) AS BIGINT) AS trading_days,
        SUM(CAST(pca AS DECIMAL(18,6))) AS sum_adj_dec,
        MIN(pca) AS min_adj, MAX(pca) AS max_adj,
        SUM(CAST(pcta AS DECIMAL(18,6))) AS sx_dec,
        CAST(SUM(CAST(pcta AS DECIMAL(18,3))) AS DOUBLE) AS sxv,
        CAST(SUM(CAST(pcta AS DECIMAL(18,3)) * CAST(pcta AS DECIMAL(18,3))) AS DOUBLE) AS sx2,
        CAST(COUNT(pcta) AS BIGINT) AS n_pct,
        CAST(SUM(CASE WHEN pca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_days,
        CAST(SUM(CASE WHEN pca < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_days,
        CAST(SUM(CASE WHEN pca = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neutral_days
      FROM fd GROUP BY 1, 2, 3, 4
    )
    SELECT ar.snapshot_date, ar.symbol, ar.asset_type, ar.time_period, ar.exchange, ar.name,
      ar.period_start_date, ar.period_end_date,
      ar.trading_days, ar.positive_days, ar.negative_days, ar.neutral_days,
      ROUND(CASE WHEN sp2.period_start_price > 0 THEN (ep2.period_end_price - sp2.period_start_price) / sp2.period_start_price * 100 END, 2) + 0.0 AS total_return_pct,
      ${oDivRound("CAST(sx_dec * 1000000 AS HUGEINT)", "n_pct", 4)} AS avg_daily_return_pct,
      ${oSnap("CASE WHEN n_pct > 1 THEN SQRT(GREATEST((sx2 - sxv * sxv / n_pct) / (n_pct - 1), 0.0)) * SQRT(252.0) END", 2)} AS volatility_pct,
      ${oDivRound("positive_days * 100000000", "trading_days", 1)} AS win_rate_pct,
      ${oSnap("CAST(sum_adj_dec AS DOUBLE)", 2)} AS total_price_change,
      ${oDivRound("CAST(sum_adj_dec * 1000000 AS HUGEINT)", "trading_days", 4)} AS avg_daily_price_change,
      ${oSnap("min_adj", 2)} AS worst_day_change,
      ${oSnap("max_adj", 2)} AS best_day_change,
      ${oSnap("sp2.period_start_price", 2)} AS period_start_price,
      ${oSnap("ep2.period_end_price", 2)} AS period_end_price
    FROM ar
    LEFT JOIN sp2 ON ar.snapshot_date = sp2.snapshot_date
      AND ar.symbol = sp2.symbol AND ar.time_period = sp2.time_period
    LEFT JOIN ep2 ON ar.snapshot_date = ep2.snapshot_date
      AND ar.symbol = ep2.symbol AND ar.time_period = ep2.time_period"""

  private def usSectorUni(s: SparkSession, dir: String): DataFrame =
    MarketSummaryQueries.universe(s, dir, PriceBars.Sectors, "sector_etf", "NYSEARCA")

  private val usSectorUniCte = MarketSummaryQueries.uniCte(PriceBars.Sectors, "sector_etf", "NYSEARCA")

  // ------------------------------------------------------------------
  // Commodity summary snapshot template
  // ------------------------------------------------------------------

  /** Single-price commodity staging over commodity bars: commodity_name,
    * trade_date, price (the close, rounded to 4 decimals), commodity_unit. */
  private def commodityStaging(bars: DataFrame): DataFrame =
    bars.select(col("commodity_name"), col("date").as("trade_date"),
      r4(col("close")).as("price"), col("commodity_unit"))

  private def commodityCte(c: PriceBars.Commodity): String = s"""
    cstg AS (
      SELECT ${c.universe.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS trade_date,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS price,
        '${c.unit}' AS commodity_unit
      FROM lineitem GROUP BY 1, 2
    )"""

  /** Snapshot summary over a single-price commodity staging (ref
    * energy_commodities_summary_snapshot.sql): LAG price changes are
    * computed per (snapshot_date, commodity_name) inside the 5y
    * window, so every snapshot's first bar drops.
    *
    * The per-(snapshot, commodity) LAG equals the GLOBAL per-commodity
    * LAG for every row whose predecessor also falls inside the 60m
    * window — and the only rows where they differ (predecessor before
    * the window start) are exactly the ones the per-snapshot form
    * DROPS as its null first bar. So: one lag over the raw staging
    * (40k rows, one small shuffle), then spine-join and keep rows with
    * prev_date >= window start — identical output, and the
    * spine-amplified frame never passes through a window exec. */
  def commoditySnapshot(stg: DataFrame, cutoff: String): DataFrame = {
    val lagged = CommodityQueries.dailyChanges(stg, "trade_date")
      .filter(col("price_change").isNotNull)
    val keys = Seq("snapshot_date", "commodity_name", "commodity_unit", "time_period")
    val fd = onSpine(lagged, stg, cutoff)
      .filter(col("prev_date") >= MarketSummary.fiveYearsBefore(col("snapshot_date")))
    MarketSummary.periodSummary(fd, keys, extras = Nil, lead = keys,
      date = col("trade_date"), open = col("price"), close = col("price"),
      change = col("price_change"), pct = col("pct_change"))
  }

  def commoditySnapshotOracleSql(cte: String, cutoff: String): String = s"""
    WITH $cte,
    spine AS (
      SELECT DISTINCT CAST(DATE_TRUNC('month', trade_date) AS DATE) AS snapshot_date
      FROM cstg WHERE trade_date >= DATE '$cutoff'
    ),
    based AS (
      SELECT *,
        price - LAG(price) OVER w AS price_change,
        CASE WHEN LAG(price) OVER w > 0
             THEN (price - LAG(price) OVER w) / (LAG(price) OVER w) * 100 END AS pct_change
      FROM (
        SELECT c.*, s.snapshot_date
        FROM cstg c CROSS JOIN spine s
        WHERE c.price IS NOT NULL AND c.trade_date IS NOT NULL AND c.price > 0
          AND c.trade_date <= s.snapshot_date
          AND c.trade_date >= CAST(s.snapshot_date - INTERVAL 5 YEAR AS DATE)
      )
      WINDOW w AS (PARTITION BY snapshot_date, commodity_name ORDER BY trade_date)
    ),
    fd AS (
      SELECT *,
        CASE WHEN trade_date >= CAST(snapshot_date - INTERVAL 84 DAY AS DATE) THEN '12_weeks'
             WHEN trade_date >= CAST(snapshot_date - INTERVAL 6 MONTH AS DATE) THEN '6_months'
             WHEN trade_date >= CAST(snapshot_date - INTERVAL 1 YEAR AS DATE) THEN '1_year'
             ELSE '5_years' END AS time_period
      FROM based WHERE price_change IS NOT NULL
    ),
    sp2 AS (
      SELECT snapshot_date, commodity_name, time_period, price AS period_start_price FROM (
        SELECT snapshot_date, commodity_name, time_period, price,
          ROW_NUMBER() OVER (PARTITION BY snapshot_date, commodity_name, commodity_unit, time_period
            ORDER BY trade_date ASC, price ASC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ep2 AS (
      SELECT snapshot_date, commodity_name, time_period, price AS period_end_price FROM (
        SELECT snapshot_date, commodity_name, time_period, price,
          ROW_NUMBER() OVER (PARTITION BY snapshot_date, commodity_name, commodity_unit, time_period
            ORDER BY trade_date DESC, price DESC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ar AS (
      SELECT snapshot_date, commodity_name, commodity_unit, time_period,
        MIN(trade_date) AS period_start_date,
        MAX(trade_date) AS period_end_date,
        CAST(COUNT(*) AS BIGINT) AS trading_days,
        SUM(CAST(price_change AS DECIMAL(18,6))) AS sum_chg_dec,
        MIN(price_change) AS min_chg, MAX(price_change) AS max_chg,
        SUM(CAST(pct_change AS DECIMAL(18,6))) AS sx_dec,
        CAST(SUM(CAST(pct_change AS DECIMAL(18,3))) AS DOUBLE) AS sxv,
        CAST(SUM(CAST(pct_change AS DECIMAL(18,3)) * CAST(pct_change AS DECIMAL(18,3))) AS DOUBLE) AS sx2,
        CAST(COUNT(pct_change) AS BIGINT) AS n_pct,
        CAST(SUM(CASE WHEN price_change > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_days,
        CAST(SUM(CASE WHEN price_change < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_days,
        CAST(SUM(CASE WHEN price_change = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neutral_days
      FROM fd GROUP BY 1, 2, 3, 4
    )
    SELECT ar.snapshot_date, ar.commodity_name, ar.commodity_unit, ar.time_period,
      ar.period_start_date, ar.period_end_date,
      ar.trading_days, ar.positive_days, ar.negative_days, ar.neutral_days,
      ROUND(CASE WHEN sp2.period_start_price > 0 THEN (ep2.period_end_price - sp2.period_start_price) / sp2.period_start_price * 100 END, 2) + 0.0 AS total_return_pct,
      ${oDivRound("CAST(sx_dec * 1000000 AS HUGEINT)", "n_pct", 4)} AS avg_daily_return_pct,
      ${oSnap("CASE WHEN n_pct > 1 THEN SQRT(GREATEST((sx2 - sxv * sxv / n_pct) / (n_pct - 1), 0.0)) * SQRT(252.0) END", 2)} AS volatility_pct,
      ${oDivRound("positive_days * 100000000", "trading_days", 1)} AS win_rate_pct,
      ${oSnap("CAST(sum_chg_dec AS DOUBLE)", 2)} AS total_price_change,
      ${oDivRound("CAST(sum_chg_dec * 1000000 AS HUGEINT)", "trading_days", 4)} AS avg_daily_price_change,
      ${oSnap("min_chg", 2)} AS worst_day_change,
      ${oSnap("max_chg", 2)} AS best_day_change,
      ${oSnap("sp2.period_start_price", 2)} AS period_start_price,
      ${oSnap("ep2.period_end_price", 2)} AS period_end_price
    FROM ar
    LEFT JOIN sp2 ON ar.snapshot_date = sp2.snapshot_date
      AND ar.commodity_name = sp2.commodity_name AND ar.time_period = sp2.time_period
    LEFT JOIN ep2 ON ar.snapshot_date = ep2.snapshot_date
      AND ar.commodity_name = ep2.commodity_name AND ar.time_period = ep2.time_period"""

  // ------------------------------------------------------------------
  // fred_series_latest_aggregates_snapshot
  // ------------------------------------------------------------------

  private def fredSnapshot(s: SparkSession, dir: String): DataFrame = {
    // trailing-year windows below the static cutoff never see earlier
    // observations — push the bound into the staging's parquet scan
    val minD = java.time.LocalDate.parse(FredCutoff).minusMonths(12).toString
    val fred = FredQueries.fredSeries(s, dir, Some(minD))
    val spine = fred
      .filter(col("d") >= to_date(lit(FredCutoff)))
      .select(trunc(col("d"), "month").as("snapshot_date"))
      .distinct()
    // Aggregate BEFORE amplifying: the trailing-year window
    // [snapshot-12mo, snapshot] is month-aligned — for a month-start
    // snapshot S it contains the 12 FULL months [S-12mo, S-1mo] plus
    // only day 1 of month S — so the per-(snapshot, series, month)
    // cells are just relabeled per-(series, month) aggregates: full-
    // month cells for the trailing months, a day-1 edge cell for the
    // snapshot month. Aggregating raw daily rows once per (series,
    // month) and then joining the spine moves the ×12 spine fan-out
    // from the raw daily rows to the ~25× smaller monthly frame, and
    // the post-join grain is already (snapshot, series, month) — no
    // aggregation of amplified rows at all. Decimal sums are exact, so
    // the cells equal the amplified-aggregation values bit-for-bit.
    val keys = Seq(col("series_code"), col("series_name"))
    // ONE pass over the staging for both cell kinds: full-month cells
    // carry conditional day-1 sums alongside, so the edge cells for
    // the snapshot month read from the same aggregate instead of a
    // second filtered groupBy (cells identical: the `cnt_d1 > 0`
    // filter reproduces exactly the groups the filtered aggregation
    // would have formed).
    val isDay1 = col("d") === trunc(col("d"), "month")
    val cells = fred
      .groupBy(keys :+ trunc(col("d"), "month").as("month"): _*)
      .agg(
        sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"),
        count(lit(1)).as("cnt"),
        sum(when(isDay1, col("value").cast(DecimalType(18, 6)))).as("sum_dec_d1"),
        count(when(isDay1, lit(1))).as("cnt_d1"))
      // two consumers (trailing-window join + edge-cell join) — persist
      // so the staging-wide aggregation runs once, not per branch
      .persist()
    val monthly = cells
      .join(broadcast(spine),
        col("month") >= add_months(col("snapshot_date"), -12) && col("month") < col("snapshot_date"))
      .select(col("snapshot_date") +: (keys :+ col("month") :+ col("sum_dec") :+ col("cnt")): _*)
      .unionByName(cells
        .join(broadcast(spine), col("month") === col("snapshot_date"))
        .filter(col("cnt_d1") > 0)
        .select(col("snapshot_date") +: (keys :+ col("month") :+
          col("sum_dec_d1").as("sum_dec") :+ col("cnt_d1").as("cnt")): _*))
      // monthly averages are int-ratio quotients of a decimal sum —
      // they land on exact .xxxx5 boundaries, so divide in DECIMAL
      // (exact half-up) rather than rounding a double (rdiv pattern)
      .select(col("snapshot_date"), col("series_code"), col("series_name"), col("month"),
        rdiv(col("sum_dec"), col("cnt"), 4).as("clean_value"), col("cnt"))
    // The output keeps only the LATEST month per (snapshot, series),
    // and its lag-3/6/12 values are positional among that group's <=13
    // month cells — so ONE aggregation collecting the sorted cell
    // array replaces the round-4 shape's three passes over the
    // amplified frame (grain groupBy + lag window sort + latest-month
    // self-join) and the persist that fed them. Bounded state: 13
    // cells per group regardless of corpus size. Measured 8.8 -> ~4 s
    // at sf0.1; values are bit-identical (same rdiv cells, same
    // positional lags the window produced for the latest row).
    val cur = element_at(col("cells"), col("n"))
    def lagv(off: Int) =
      when(col("n") > off, element_at(col("cells"), col("n") - off).getField("clean_value"))
    def pct(off: Int) = {
      val v = lagv(off)
      when(v.isNull || v === 0, lit(null))
        .otherwise(round((cur.getField("clean_value") - v) / v, 2))
    }
    monthly
      .groupBy(col("snapshot_date"), col("series_code"), col("series_name"))
      .agg(
        sum(col("cnt")).as("entry_count"),
        sort_array(collect_list(struct(col("month"), col("clean_value")))).as("cells"))
      .withColumn("date_grain",
        when(col("entry_count") >= 200, "Daily")
          .when(col("entry_count") >= 50, "Weekly")
          .when(col("entry_count") >= 9, "Monthly")
          .when(col("entry_count") >= 2, "Quarterly")
          .when(col("entry_count") >= 1, "Annually")
          .otherwise("Limited Data"))
      .filter(col("date_grain").isin("Daily", "Monthly", "Quarterly", "Weekly"))
      .withColumn("n", size(col("cells")))
      .select(
        col("snapshot_date"), col("series_code"), col("series_name"),
        cur.getField("month").as("month"),
        cur.getField("clean_value").as("current_value"),
        pct(3).as("pct_change_3m"),
        pct(6).as("pct_change_6m"),
        pct(12).as("pct_change_1y"),
        col("date_grain"))
  }

  private val fredSnapshotSql: String = s"""
    WITH ${FredQueries.fredSeriesSql},
    spine AS (
      SELECT DISTINCT CAST(DATE_TRUNC('month', d) AS DATE) AS snapshot_date
      FROM fred WHERE d >= DATE '$FredCutoff'
    ),
    windowed AS (
      SELECT f.*, s.snapshot_date
      FROM fred f CROSS JOIN spine s
      WHERE f.d >= CAST(s.snapshot_date - INTERVAL 12 MONTH AS DATE) AND f.d <= s.snapshot_date
    ),
    grain AS (
      SELECT snapshot_date, series_code,
        CASE WHEN COUNT(*) >= 200 THEN 'Daily'
             WHEN COUNT(*) >= 50 THEN 'Weekly'
             WHEN COUNT(*) >= 9 THEN 'Monthly'
             WHEN COUNT(*) >= 2 THEN 'Quarterly'
             WHEN COUNT(*) >= 1 THEN 'Annually'
             ELSE 'Limited Data' END AS date_grain
      FROM windowed GROUP BY 1, 2
    ),
    aggs0 AS (
      SELECT w.snapshot_date, w.series_code, w.series_name, g.date_grain,
        CAST(DATE_TRUNC('month', w.d) AS DATE) AS month,
        SUM(CAST(w.value AS DECIMAL(18,6))) AS sum_dec,
        CAST(COUNT(*) AS BIGINT) AS cnt
      FROM windowed w
      JOIN grain g ON w.snapshot_date = g.snapshot_date AND w.series_code = g.series_code
      WHERE g.date_grain IN ('Daily', 'Monthly', 'Quarterly', 'Weekly')
      GROUP BY 1, 2, 3, 4, 5
    ),
    aggs AS (
      SELECT snapshot_date, series_code, series_name, date_grain, month,
        ${oDivRound("CAST(sum_dec * 1000000 AS HUGEINT)", "cnt", 4)} AS clean_value
      FROM aggs0
    ),
    calc AS (
      SELECT snapshot_date, series_code, series_name, month,
        clean_value AS current_value,
        CASE WHEN v3 IS NULL OR v3 = 0 THEN NULL
             ELSE ROUND((clean_value - v3) / v3, 2) + 0.0 END AS pct_change_3m,
        CASE WHEN v6 IS NULL OR v6 = 0 THEN NULL
             ELSE ROUND((clean_value - v6) / v6, 2) + 0.0 END AS pct_change_6m,
        CASE WHEN v1y IS NULL OR v1y = 0 THEN NULL
             ELSE ROUND((clean_value - v1y) / v1y, 2) + 0.0 END AS pct_change_1y,
        date_grain
      FROM (
        SELECT *,
          LAG(clean_value, 3) OVER w AS v3,
          LAG(clean_value, 6) OVER w AS v6,
          LAG(clean_value, 12) OVER w AS v1y
        FROM aggs
        WINDOW w AS (PARTITION BY snapshot_date, series_code ORDER BY month)
      )
    )
    SELECT c.snapshot_date, c.series_code, c.series_name, c.month, c.current_value,
           c.pct_change_3m, c.pct_change_6m, c.pct_change_1y, c.date_grain
    FROM calc c
    JOIN (SELECT snapshot_date, series_code, MAX(month) AS mm FROM calc GROUP BY 1, 2) m
      ON c.snapshot_date = m.snapshot_date AND c.series_code = m.series_code AND c.month = m.mm"""

  // ------------------------------------------------------------------
  // agent compositions
  // ------------------------------------------------------------------

  /** Shared projection for the performance-snapshot compositions (ref
    * agent_market_performance_snapshot.sql:11-46). */
  private def perfCols(category: String, snapshotCol: Column): Seq[Column] = Seq(
    col("symbol"), col("symbol").as("ticker"), col("asset_type"), col("time_period"),
    col("exchange"), col("name"), col("period_start_date"), col("period_end_date"),
    col("trading_days"), col("total_return_pct"), col("avg_daily_return_pct"),
    col("volatility_pct"), col("volatility_pct").as("annualized_volatility_pct"),
    col("win_rate_pct"), col("total_price_change"), col("avg_daily_price_change"),
    col("worst_day_change"), col("worst_day_change").as("worst_day_pct_change"),
    col("best_day_change"), col("best_day_change").as("best_day_pct_change"),
    col("positive_days"), col("negative_days"), col("neutral_days"),
    col("period_start_price"), col("period_end_price"),
    lit(category).as("market_category"), snapshotCol.as("snapshot_date"))

  private val perfColsSql =
    """symbol, symbol AS ticker, asset_type, time_period, exchange, name,
       period_start_date, period_end_date, trading_days, total_return_pct,
       avg_daily_return_pct, volatility_pct, volatility_pct AS annualized_volatility_pct,
       win_rate_pct, total_price_change, avg_daily_price_change,
       worst_day_change, worst_day_change AS worst_day_pct_change,
       best_day_change, best_day_change AS best_day_pct_change,
       positive_days, negative_days, neutral_days, period_start_price, period_end_price"""

  private def agentMarketPerfSnapshot(s: SparkSession, dir: String): DataFrame = {
    val sector = summarizeSnapshot(usSectorUni(s, dir), SummaryCutoff)
      .select(perfCols("sector", col("snapshot_date")): _*)
    val major = MarketSummary.summarize(
        MarketSummaryQueries.universe(s, dir, PriceBars.Indices, "index", "INDEX"))
      .select(perfCols("major_index", trunc(col("period_end_date"), "month")): _*)
    val w = Window
      .partitionBy(col("snapshot_date"), col("market_category"), col("symbol"),
        col("asset_type"), col("time_period"))
      .orderBy(col("period_end_date").desc, col("period_start_date").desc)
    qualifyRowNumber(sector.unionByName(major), w)
  }

  private val agentMarketPerfSnapshotSql: String = {
    val majorOracle = MarketSummary.oracleSql(
      MarketSummaryQueries.uniCte(PriceBars.Indices, "index", "INDEX"))
    s"""
    WITH sector AS (SELECT * FROM (${ohlcSnapshotOracleSql(usSectorUniCte, SummaryCutoff)})),
    major AS (SELECT * FROM ($majorOracle)),
    comb AS (
      SELECT $perfColsSql, 'sector' AS market_category, snapshot_date FROM sector
      UNION ALL
      SELECT $perfColsSql, 'major_index' AS market_category,
        CAST(DATE_TRUNC('month', period_end_date) AS DATE) AS snapshot_date FROM major
    )
    SELECT * FROM comb
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY snapshot_date, market_category, symbol, asset_type, time_period
      ORDER BY period_end_date DESC, period_start_date DESC) = 1"""
  }

  /** Commodity flavor of the perf projection (commodity_name/unit keys,
    * ref agent_commodity_performance_snapshot.sql:11-44). */
  private def commodityPerfCols(category: Column): Seq[Column] = Seq(
    col("commodity_name"), col("commodity_name").as("commodity"), col("commodity_unit"),
    col("time_period"), col("period_start_date"), col("period_end_date"),
    col("trading_days"), col("total_return_pct"), col("avg_daily_return_pct"),
    col("volatility_pct"), col("volatility_pct").as("annualized_volatility_pct"),
    col("win_rate_pct"), col("total_price_change"), col("avg_daily_price_change"),
    col("worst_day_change"), col("worst_day_change").as("worst_day_pct_change"),
    col("best_day_change"), col("best_day_change").as("best_day_pct_change"),
    col("positive_days"), col("negative_days"), col("neutral_days"),
    col("period_start_price"), col("period_end_price"),
    category.as("commodity_category"), col("snapshot_date"))

  private val commodityPerfColsSql =
    """commodity_name, commodity_name AS commodity, commodity_unit, time_period,
       period_start_date, period_end_date, trading_days, total_return_pct,
       avg_daily_return_pct, volatility_pct, volatility_pct AS annualized_volatility_pct,
       win_rate_pct, total_price_change, avg_daily_price_change,
       worst_day_change, worst_day_change AS worst_day_pct_change,
       best_day_change, best_day_change AS best_day_pct_change,
       positive_days, negative_days, neutral_days, period_start_price, period_end_price"""

  private def agentCommodityPerfSnapshot(s: SparkSession, dir: String): DataFrame = {
    // ONE snapshot run over the single-scan staging (prefix-independent
    // spine/windows — same shared-run trick as the non-snapshot agent)
    val stg = commodityStaging(PriceBars.commodities(PriceBars.lines(s, dir)))
    val merged = commoditySnapshot(stg, SummaryCutoff)
      .select(commodityPerfCols(PriceBars.commodityCategory): _*)
    val w = Window
      .partitionBy(col("snapshot_date"), col("commodity_category"), col("commodity_name"),
        col("commodity_unit"), col("time_period"))
      .orderBy(col("period_end_date").desc, col("period_start_date").desc)
    qualifyRowNumber(merged, w)
  }

  private val agentCommodityPerfSnapshotSql: String = {
    val branches = PriceBars.Commodities.map { c =>
      s"""SELECT $commodityPerfColsSql, '${c.category}' AS commodity_category, snapshot_date
          FROM (${commoditySnapshotOracleSql(commodityCte(c), SummaryCutoff)})"""
    }
    s"""
    SELECT * FROM (${branches.mkString(" UNION ALL ")})
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY snapshot_date, commodity_category, commodity_name, commodity_unit, time_period
      ORDER BY period_end_date DESC, period_start_date DESC) = 1"""
  }

  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_us_sector_summary_snapshot",
      (s, dir) => summarizeSnapshot(usSectorUni(s, dir), SummaryCutoff),
      Some(ohlcSnapshotOracleSql(usSectorUniCte, SummaryCutoff))
    )
  ) ++ PriceBars.Commodities.map { c =>
    QueryDef(
      s"q_${c.root}_summary_snapshot",
      (s, dir) => commoditySnapshot(commodityStaging(PriceBars.commodity(PriceBars.lines(s, dir), c)), SummaryCutoff),
      Some(commoditySnapshotOracleSql(commodityCte(c), SummaryCutoff))
    )
  } ++ Seq(
    QueryDef(
      "q_fred_series_latest_aggregates_snapshot",
      (s, dir) => fredSnapshot(s, dir),
      Some(fredSnapshotSql)
    ),
    // agent_fred_series_latest_aggregates_snapshot.sql: thin projection
    QueryDef(
      "q_agent_fred_series_latest_aggregates_snapshot",
      (s, dir) => fredSnapshot(s, dir)
        .filter(col("current_value").isNotNull)
        .select(col("snapshot_date"), col("series_code"), col("series_name"), col("month"),
          col("current_value"), col("current_value").as("clean_value"),
          col("pct_change_3m"), col("pct_change_6m"), col("pct_change_1y"), col("date_grain")),
      Some(s"""
        SELECT snapshot_date, series_code, series_name, month,
          current_value, current_value AS clean_value,
          pct_change_3m, pct_change_6m, pct_change_1y, date_grain
        FROM ($fredSnapshotSql)
        WHERE current_value IS NOT NULL""")
    ),
    QueryDef(
      "q_agent_market_performance_snapshot",
      (s, dir) => agentMarketPerfSnapshot(s, dir),
      Some(agentMarketPerfSnapshotSql)
    ),
    QueryDef(
      "q_agent_commodity_performance_snapshot",
      (s, dir) => agentCommodityPerfSnapshot(s, dir),
      Some(agentCommodityPerfSnapshotSql)
    )
  )
}
