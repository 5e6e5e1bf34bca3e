package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryDef.{oDivRound, oSnap, rdiv, rsnap}

/** 1:1 replication of the reference's `calculate_market_summary` macro
  * (dbt_project/macros/calculate_market_summary.sql) — the template
  * behind all ten `*_summary` named models. Per (symbol, exclusive
  * time band {12_weeks, 6_months, 1_year, 5_years} anchored at the
  * universe's max trade date): trading-day counts, up/down/flat days,
  * adjusted price-change stats, pct-change stats annualized by
  * √252, win rate, and the band's boundary prices (first adj_open /
  * last adj_close).
  *
  * The macro is defined here once, as the period-summary kernel
  * ([[band]], [[latest]], [[periodSummary]]), and has four callers
  * that keep only what is their own: [[summarize]] (intraday changes,
  * the `max_by` descriptors), `CommodityQueries.commoditySummary`
  * (full-history LAG changes), and `SnapshotQueries.summarizeSnapshot`
  * and `SnapshotQueries.commoditySnapshot` (the snapshot spine join,
  * the LAG trimmed to each snapshot's window).
  *
  * Parity notes: CURRENT_DATE is replaced by max(trade_date)
  * (deterministic anchor, same band semantics); STDDEV is computed
  * from DECIMAL-exact moments (Σx, Σx²) so both engines do identical
  * IEEE arithmetic instead of order-dependent streaming variance; all
  * rounded outputs snap through DECIMAL(18,6) (adj changes are exact
  * 5-decimal values that sit ON the round-2 boundary). The macro's
  * raw-change aggregates are computed but never selected in the
  * reference output — elided here. The trailing QUALIFY is a no-op
  * (symbol, time_period) is already unique post-aggregation.
  */
object MarketSummary {

  /** Start of the 5-year window that ends at `anchor`. */
  def fiveYearsBefore(anchor: Column): Column = add_months(anchor, -60)

  /** The macro's exclusive `time_period` band of `date` relative to
    * `anchor` (the universe's max date, or a snapshot_date). */
  def band(date: Column, anchor: Column): Column =
    when(date >= date_sub(anchor, 84), "12_weeks")
      .when(date >= add_months(anchor, -6), "6_months")
      .when(date >= add_months(anchor, -12), "1_year")
      .otherwise("5_years")

  /** `base` banded against its own max `date`, the deterministic
    * CURRENT_DATE stand-in, with rows older than 5 years dropped. */
  def latest(base: DataFrame, date: String): DataFrame = {
    val today = base.agg(max(col(date)).as("__today"))
    base.crossJoin(broadcast(today))
      .filter(col(date) >= fiveYearsBefore(col("__today")))
      .withColumn("time_period", band(col(date), col("__today")))
      .drop("__today")
  }

  /** The macro's aggregate and output over a banded frame `fd`: one
    * row per `keys` group (`time_period` among them), led by the
    * `lead` columns (keys and `extras` aliases, in output order) and
    * followed by the shared summary columns. `change`/`pct` are the
    * day's price change and pct change; the period's start price is
    * `open` on its first row and its end price `close` on its last.
    *
    * Boundary prices are MIN/MAX over (date, price) structs inside the
    * ONE aggregation pass: "first row by (date ASC, price ASC)" is
    * exactly the lexicographic struct minimum and "first by (date
    * DESC, price DESC)" the maximum (a NULL price ranks lowest, as in
    * the default NULLS FIRST ascending / NULLS LAST descending orders;
    * PeriodSummarySpecs), so no row_number window sorts the frame and
    * no re-join brings the picks back — the rows flow into a map-side
    * partial aggregation and never shuffle at full width.
    *
    * The moments snap to DECIMAL(18,3): synthetic pct swings reach
    * 1e3+, and an (18,6)-scaled square overflows DuckDB's width-18
    * multiply; at scale 3 the square stays exact in both engines
    * ((37,6) Spark, width-18 int DuckDB). The mean keeps the finer
    * (18,6) snap. */
  def periodSummary(fd: DataFrame, keys: Seq[String], extras: Seq[Column], lead: Seq[String],
      date: Column, open: Column, close: Column, change: Column, pct: Column): DataFrame = {
    val pctDec  = pct.cast(DecimalType(18, 6))
    val pctDec3 = pct.cast(DecimalType(18, 3))
    val aggs = extras ++ Seq(
      min(date).as("period_start_date"),
      max(date).as("period_end_date"),
      min(struct(date.as("d"), open.as("p"))).getField("p").as("start_price"),
      max(struct(date.as("d"), close.as("p"))).getField("p").as("end_price"),
      count(lit(1)).as("trading_days"),
      sum(change.cast(DecimalType(18, 6))).as("sum_chg_dec"),
      min(change).as("min_chg"),
      max(change).as("max_chg"),
      sum(pctDec).as("sx_dec"),
      sum(pctDec3).cast("double").as("sxv"),
      sum(pctDec3 * pctDec3).cast("double").as("sx2"),
      count(pct).as("n_pct"),
      sum(when(change > 0, 1).otherwise(0)).cast("long").as("positive_days"),
      sum(when(change < 0, 1).otherwise(0)).cast("long").as("negative_days"),
      sum(when(change === 0, 1).otherwise(0)).cast("long").as("neutral_days"))
    val vol = when(col("n_pct") > 1,
      sqrt(greatest(
        (col("sx2") - col("sxv") * col("sxv") / col("n_pct")) / (col("n_pct") - 1),
        lit(0.0))) * sqrt(lit(252.0)))
    val (start, end) = (col("start_price"), col("end_price"))
    fd.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*).select(lead.map(col) ++ Seq(
      col("period_start_date"), col("period_end_date"),
      col("trading_days"), col("positive_days"), col("negative_days"), col("neutral_days"),
      // total_return divides near-arbitrary doubles: exact half
      // boundaries are measure-zero, plain round agrees on both
      // engines (a snap would CREATE 6-decimal boundary artifacts)
      round(when(start > 0, (end - start) / start * 100), 2).as("total_return_pct"),
      // int-ratio quotients (decimal sum / count, wins / days) DO hit
      // exact rational halves: divide in DECIMAL (exact half-up at
      // scale 6) and round the decimal — mirrored in the oracle with
      // HUGEINT floor-division, never a double in the rounding path
      rdiv(col("sx_dec"), col("n_pct"), 4).as("avg_daily_return_pct"),
      rsnap(vol, 2).as("volatility_pct"),
      rdiv(col("positive_days") * 100, col("trading_days"), 1).as("win_rate_pct"),
      rsnap(col("sum_chg_dec").cast("double"), 2).as("total_price_change"),
      rdiv(col("sum_chg_dec"), col("trading_days"), 4).as("avg_daily_price_change"),
      rsnap(col("min_chg"), 2).as("worst_day_change"),
      rsnap(col("max_chg"), 2).as("best_day_change"),
      rsnap(start, 2).as("period_start_price"),
      rsnap(end, 2).as("period_end_price")): _*)
  }

  /** Filtered OHLC rows with their intraday adjusted change `pca` and
    * pct change `pcta`. `uni` columns: symbol, trade_date, open, close,
    * adj_open, adj_close, asset_type, exchange, name. */
  def intraday(uni: DataFrame): DataFrame = uni
    .filter(col("trade_date").isNotNull && col("open").isNotNull &&
      col("close").isNotNull && col("open") > 0)
    .withColumn("pca", col("adj_close") - col("adj_open"))
    .withColumn("pcta",
      when(col("adj_open") > 0, (col("adj_close") - col("adj_open")) / col("adj_open") * 100))

  /** Spark plan. `uni` columns as in [[intraday]]. */
  def summarize(uni: DataFrame): DataFrame = {
    val d = col("trade_date")
    periodSummary(latest(intraday(uni), "trade_date"),
      keys = Seq("symbol", "time_period"),
      extras = Seq(
        max_by(col("asset_type"), d).as("asset_type"),
        max_by(col("exchange"), d).as("exchange"),
        max_by(col("name"), d).as("name")),
      lead = Seq("symbol", "asset_type", "time_period", "exchange", "name"),
      date = d, open = col("adj_open"), close = col("adj_close"),
      change = col("pca"), pct = col("pcta"))
  }

  /** DuckDB oracle for the same template; `uniCte` must define `uni`
    * with the summarize() input columns. */
  def oracleSql(uniCte: String): String = s"""
    WITH $uniCte,
    base AS (
      SELECT *, adj_close - adj_open AS pca,
        CASE WHEN adj_open > 0 THEN (adj_close - adj_open) / adj_open * 100 END AS pcta
      FROM uni
      WHERE trade_date IS NOT NULL AND open IS NOT NULL AND close IS NOT NULL AND open > 0
    ),
    db AS (
      SELECT MAX(trade_date) AS today,
        CAST(MAX(trade_date) - INTERVAL 84 DAY AS DATE) AS w12,
        CAST(MAX(trade_date) - INTERVAL 6 MONTH AS DATE) AS m6,
        CAST(MAX(trade_date) - INTERVAL 1 YEAR AS DATE) AS y1,
        CAST(MAX(trade_date) - INTERVAL 5 YEAR AS DATE) AS y5
      FROM base
    ),
    fd AS (
      SELECT b.*,
        CASE WHEN trade_date >= w12 THEN '12_weeks'
             WHEN trade_date >= m6 THEN '6_months'
             WHEN trade_date >= y1 THEN '1_year'
             ELSE '5_years' END AS time_period
      FROM base b, db WHERE trade_date >= y5
    ),
    sp2 AS (
      SELECT symbol, time_period, adj_open AS period_start_price FROM (
        SELECT symbol, time_period, adj_open,
          ROW_NUMBER() OVER (PARTITION BY symbol, time_period
            ORDER BY trade_date ASC, adj_open ASC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ep2 AS (
      SELECT symbol, time_period, adj_close AS period_end_price FROM (
        SELECT symbol, time_period, adj_close,
          ROW_NUMBER() OVER (PARTITION BY symbol, time_period
            ORDER BY trade_date DESC, adj_close DESC) AS rn
        FROM fd) WHERE rn = 1
    ),
    ar AS (
      SELECT symbol, time_period,
        MAX_BY(asset_type, trade_date) AS asset_type,
        MAX_BY(exchange, trade_date) AS exchange,
        MAX_BY(name, trade_date) AS name,
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
      FROM fd GROUP BY 1, 2
    )
    SELECT ar.symbol, ar.asset_type, ar.time_period, ar.exchange, ar.name,
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
    LEFT JOIN sp2 ON ar.symbol = sp2.symbol AND ar.time_period = sp2.time_period
    LEFT JOIN ep2 ON ar.symbol = ep2.symbol AND ar.time_period = ep2.time_period
  """
}
