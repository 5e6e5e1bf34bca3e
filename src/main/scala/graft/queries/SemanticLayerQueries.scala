package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.qualifyRowNumber
import graft.models.{MarketAnalysisReturn, PriceBars}
import graft.runtime.Tables

/** The semantic-layer models 1:1 (SURVEY.md §2.M metrics/semantic
  * layer; refs dbt_project/models/semantic_layer/asset_daily_returns
  * .sql, cross_asset_daily_volatility.sql, time_spine_daily.sql,
  * current_data_coverage.sql): the entity-keyed fact views MetricFlow
  * reads — a cross-asset-class union of the analysis_return models
  * under a uniform asset_key, the volatility slice of the same union,
  * the calendar spine, and the source-freshness/coverage scorecard.
  *
  * Anchors: the reference's CURRENT_DATE becomes the global max
  * observation date and the spine start maps into the synthetic range;
  * `generated_at CURRENT_TIMESTAMP` is elided (non-deterministic).
  *
  * Scale: asset_daily_returns is a UNION ALL of independently
  * partitioned analysis_return plans (each: one fact aggregation, one
  * persisted daily frame); current_data_coverage derives ALL sources
  * from ONE exploded-tag scan of the fact table (the per-source
  * observation sets never interact until the 11-row rollup).
  */
object SemanticLayerQueries {

  // ---- the four analysis_return branches the layer consumes --------

  private def arOracle(uni: PriceBars.Universe, ex: String): String =
    MarketAnalysisReturn.oracleSql(MarketAnalysisQueries.uniCte(uni, ex))

  private val sp500Sql = arOracle(PriceBars.Sp500, "NYSE")

  private val usSectorSql = arOracle(PriceBars.Sectors, "NYSEARCA")

  private val factorSql = arOracle(PriceBars.Factors, "NYSEARCA")

  private val inputCommoditiesSql =
    CommodityQueries.commodityAnalysisReturnOracleSql(PriceBars.InputCommodities)

  /** ONE analysisReturn run for all four asset classes the layer
    * consumes: the per-class universe aggregations union BEFORE the
    * return model, so the landings join and the 20 RANGE windows run
    * once over the combined frame (window partitions are
    * (symbol, exchange) and every class has a distinct symbol prefix,
    * so the combined run equals four separate runs). The union form
    * deliberately beats an exploded-tag single scan here: partial
    * aggregation collapses each branch map-side before its exchange,
    * while an explode materializes every fact row × 4 tags through
    * the shuffle writer (measured 6.4 s vs ~10 s at sf0.1). The
    * commodity class rides with price in every OHLC/adjusted slot,
    * exactly as commodityAnalysisReturn maps it.
    *
    * Projected to the consumed measures (current_price, std_diff_1yr,
    * pct_change_1yr) so ColumnPruning drops the other 17 window
    * expressions everywhere downstream.
    *
    * Deliberately NOT persisted (r10 measurement, guide §5 "caching is
    * only worth it when recomputing is more expensive than the memory
    * pressure it creates"): the interrupted round-10 pre-work persisted
    * this frame eagerly to collapse the 4 class-branch re-derivations
    * the sf10 ISOLATED lane pays, but under the
    * bench's count() methodology the un-persisted branches collapse by
    * column pruning to cheap aggregations, while the eager persist
    * forces full un-pruned materialization of all 20 window
    * expressions per sample INSIDE the shared 4g driver-executor heap:
    * measured at sf0.1, q_asset_daily_returns 5.3 s (r9, no persist)
    * → 62.4 s median / 70–104 s per run (persist, wild GC-pressure
    * variance), q_cross_asset_daily_volatility 3.2 → 16.5 s; removing
    * the persist restores 7.3 s / 3.4 s in the same session
    * (OPTIMIZATION_r10.md). The isolated-lane 4× re-derivation at
    * sf10 remains the documented price of per-query isolation; the
    * production read pattern is the DAG lane (flat 0.7–1.1 s reads,
    * BENCH_FULL.json `dag`). */
  private[queries] def layerAr(s: SparkSession, dir: String): DataFrame = {
    val equity = Seq((PriceBars.Sp500, "NYSE"), (PriceBars.Sectors, "NYSEARCA"), (PriceBars.Factors, "NYSEARCA"))
      .map { case (u, ex) => MarketAnalysisQueries.universe(s, dir, u, ex) }
    val p = col("price")
    val cmdty = CommodityQueries
      .staging(PriceBars.commodity(PriceBars.lines(s, dir), PriceBars.InputCommodities))
      .select(col("commodity_name").as("symbol"),
        col("commodity_unit").as("exchange"), col("date"),
        p.as("close"), p.as("high"), p.as("low"), p.as("volume"),
        p.as("adj_close"), p.as("adj_high"), p.as("adj_low"), p.as("adj_volume"))
    val uni = (equity :+ cmdty).map(_.select("symbol", "exchange", "date",
      "close", "high", "low", "volume",
      "adj_close", "adj_high", "adj_low", "adj_volume"))
      .reduce(_ unionByName _)
    MarketAnalysisReturn.analysisReturn(uni)
      .select("symbol", "exchange", "date",
        "current_price", "std_diff_1yr", "pct_change_1yr")
  }

  private val nullS = lit(null).cast("string")

  /** asset_daily_returns.sql branch projection (symbol-keyed). */
  private def assetCols(cls: String, roleCol: String): Seq[Column] = Seq(
    concat(lit(s"$cls:"), col("exchange"), lit(":"), col("symbol")).as("asset_key"),
    lit(cls).as("asset_class"),
    col("symbol").as("asset_id"),
    col("symbol").as("asset_name"),
    col("symbol"),
    (if (roleCol == "stock_symbol") col("symbol") else nullS).as("stock_symbol"),
    (if (roleCol == "sector_etf_symbol") col("symbol") else nullS).as("sector_etf_symbol"),
    (if (roleCol == "factor_etf_symbol") col("symbol") else nullS).as("factor_etf_symbol"),
    nullS.as("commodity_name"), nullS.as("commodity_unit"),
    col("exchange"),
    col("date").as("trade_date"),
    col("current_price"), col("std_diff_1yr"), col("pct_change_1yr"))

  private def assetColsSql(cls: String, roleCol: String): String = {
    def role(c: String) = if (c == roleCol) "symbol" else "CAST(NULL AS VARCHAR)"
    s"""'$cls:' || exchange || ':' || symbol AS asset_key,
       '$cls' AS asset_class, symbol AS asset_id, symbol AS asset_name, symbol,
       ${role("stock_symbol")} AS stock_symbol,
       ${role("sector_etf_symbol")} AS sector_etf_symbol,
       ${role("factor_etf_symbol")} AS factor_etf_symbol,
       CAST(NULL AS VARCHAR) AS commodity_name, CAST(NULL AS VARCHAR) AS commodity_unit,
       exchange, date AS trade_date, current_price, std_diff_1yr, pct_change_1yr"""
  }

  // ---- current_data_coverage source specs --------------------------

  /** (source_name, domain, grain, lookback, warn, error, spark entity,
    * sql entity) — the reference's source_specs STRUCT array mapped to
    * synthetic entity spaces. */
  private val CoverageSources: Seq[(String, String, String, Int, Int, Int, Column, String)] = {
    def market(src: String, u: PriceBars.Universe) =
      (src, "markets", "daily_market_prices", 31, 5, 10, u.col, u.sql)
    def commodity(src: String, c: PriceBars.Commodity) =
      (src, "commodities", "daily_commodity_prices", 31, 5, 10,
        concat(c.universe.col, lit(s":${c.unit}")), s"${c.universe.sql} || ':${c.unit}'")
    Seq(
      market("sp500_companies_prices_raw", PriceBars.Sp500),
      market("us_sector_etfs_raw", PriceBars.Sectors),
      market("currency_etfs_raw", PriceBars.Currency),
      market("commodity_etfs_raw", PriceBars.CommodityEtfs),
      market("major_indices_raw", PriceBars.Indices),
      market("fixed_income_etfs_raw", PriceBars.FixedIncome),
      market("global_markets_raw", PriceBars.GlobalMarkets),
      commodity("energy_commodities_raw", PriceBars.EnergyCommodities),
      commodity("input_commodities_raw", PriceBars.InputCommodities),
      commodity("agriculture_commodities_raw", PriceBars.AgricultureCommodities),
      ("fred_raw", "government", "economic_series", 93, 45, 75,
        concat(lit("supp_"), col("l_suppkey") % 23), "'supp_' || CAST(l_suppkey % 23 AS VARCHAR)"))
  }

  /** asset_daily_returns over the `mart_analysis_returns_layer` frame
    * (declared in [[SharedMarts]]; inline it is [[layerAr]]). */
  private[queries] def assetDailyReturnsFrom(ar: DataFrame): DataFrame = {
    val stocks = ar.filter(col("symbol").startsWith("SP_"))
      .select(assetCols("stock", "stock_symbol"): _*)
    val sectors = ar.filter(col("symbol").startsWith("SECT_"))
      .select(assetCols("sector_etf", "sector_etf_symbol"): _*)
    val factors = ar.filter(col("symbol").startsWith("FAC_"))
      .select(assetCols("factor_etf", "factor_etf_symbol"): _*)
    val commodities = ar.filter(col("symbol").startsWith("IN_"))
      .withColumnRenamed("symbol", "commodity_name")
      .withColumnRenamed("exchange", "commodity_unit")
      .select(
        concat(lit("commodity:"), col("commodity_name"), lit(":"), col("commodity_unit")).as("asset_key"),
        lit("commodity").as("asset_class"),
        col("commodity_name").as("asset_id"),
        col("commodity_name").as("asset_name"),
        nullS.as("symbol"), nullS.as("stock_symbol"),
        nullS.as("sector_etf_symbol"), nullS.as("factor_etf_symbol"),
        col("commodity_name"), col("commodity_unit"),
        nullS.as("exchange"),
        col("date").as("trade_date"),
        col("current_price"), col("std_diff_1yr"), col("pct_change_1yr"))
    val unioned = stocks.unionByName(sectors).unionByName(factors).unionByName(commodities)
    qualifyRowNumber(unioned,
      Window.partitionBy(col("asset_key"), col("trade_date"))
        .orderBy(col("current_price").desc_nulls_last))
  }

  val defs: Seq[QueryDef] = Seq(
    // asset_daily_returns.sql: the cross-class union + QUALIFY dedup.
    SharedMarts.query(
      "q_asset_daily_returns",
      Some(s"""
        WITH stocks AS (SELECT ${assetColsSql("stock", "stock_symbol")} FROM ($sp500Sql)),
        sector_etfs AS (SELECT ${assetColsSql("sector_etf", "sector_etf_symbol")} FROM ($usSectorSql)),
        factor_etfs AS (SELECT ${assetColsSql("factor_etf", "factor_etf_symbol")} FROM ($factorSql)),
        commodities AS (
          SELECT 'commodity:' || commodity_name || ':' || commodity_unit AS asset_key,
            'commodity' AS asset_class, commodity_name AS asset_id,
            commodity_name AS asset_name,
            CAST(NULL AS VARCHAR) AS symbol, CAST(NULL AS VARCHAR) AS stock_symbol,
            CAST(NULL AS VARCHAR) AS sector_etf_symbol, CAST(NULL AS VARCHAR) AS factor_etf_symbol,
            commodity_name, commodity_unit, CAST(NULL AS VARCHAR) AS exchange,
            date AS trade_date, current_price, std_diff_1yr, pct_change_1yr
          FROM ($inputCommoditiesSql)
        ),
        unioned AS (
          SELECT * FROM stocks UNION ALL SELECT * FROM sector_etfs
          UNION ALL SELECT * FROM factor_etfs UNION ALL SELECT * FROM commodities
        )
        SELECT * FROM unioned
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY asset_key, trade_date
          ORDER BY current_price DESC NULLS LAST) = 1
      """)
    ),

    // cross_asset_daily_volatility.sql: the std_diff_1yr slice.
    QueryDef(
      "q_cross_asset_daily_volatility",
      (s, dir) => {
        val ar = layerAr(s, dir)
        val stocks = ar.filter(col("symbol").startsWith("SP_")).select(
          lit("stock").as("asset_class"),
          concat(col("symbol"), lit("|"), col("exchange")).as("asset_id"),
          col("date"), col("symbol"), col("exchange"),
          nullS.as("commodity_name"), nullS.as("commodity_unit"),
          col("current_price"), col("std_diff_1yr"))
        val sectors = ar.filter(col("symbol").startsWith("SECT_")).select(
          lit("sector_etf").as("asset_class"),
          concat(col("symbol"), lit("|"), col("exchange")).as("asset_id"),
          col("date"), col("symbol"), col("exchange"),
          nullS.as("commodity_name"), nullS.as("commodity_unit"),
          col("current_price"), col("std_diff_1yr"))
        val commodities = ar.filter(col("symbol").startsWith("IN_")).select(
          lit("commodity").as("asset_class"),
          concat(col("symbol"), lit("|"), col("exchange")).as("asset_id"),
          col("date"), nullS.as("symbol"), nullS.as("exchange"),
          col("symbol").as("commodity_name"), col("exchange").as("commodity_unit"),
          col("current_price"), col("std_diff_1yr"))
        stocks.unionByName(sectors).unionByName(commodities)
      },
      Some(s"""
        SELECT 'stock' AS asset_class, symbol || '|' || exchange AS asset_id, date,
          symbol, exchange, CAST(NULL AS VARCHAR) AS commodity_name,
          CAST(NULL AS VARCHAR) AS commodity_unit, current_price, std_diff_1yr
        FROM ($sp500Sql)
        UNION ALL
        SELECT 'sector_etf', symbol || '|' || exchange, date, symbol, exchange,
          CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), current_price, std_diff_1yr
        FROM ($usSectorSql)
        UNION ALL
        SELECT 'commodity', commodity_name || '|' || commodity_unit, date,
          CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), commodity_name, commodity_unit,
          current_price, std_diff_1yr
        FROM ($inputCommoditiesSql)
      """)
    ),

    // time_spine_daily.sql: MetricFlow's calendar (spine start mapped
    // into the synthetic range; end = latest order date + 30).
    QueryDef(
      "q_time_spine_daily",
      (s, dir) => Tables(s, dir).orders
        .agg(max(to_date(col("o_orderdate"))).as("maxd"))
        .select(explode(sequence(
          to_date(lit("1992-01-01")),
          date_add(col("maxd"), 30))).as("date_day")),
      Some("""
        SELECT CAST(t.d AS DATE) AS date_day
        FROM (SELECT UNNEST(generate_series(
          DATE '1992-01-01',
          (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) + 30,
          INTERVAL 1 DAY)) AS d) t
      """)
    ),

    // current_data_coverage.sql: per-source freshness + entity
    // coverage scorecard over an 11-source observation union.
    QueryDef(
      "q_current_data_coverage",
      (s, dir) => {
        import s.implicits._
        val tags = array(CoverageSources.map { case (src, _, _, _, _, _, ent, _) =>
          struct(lit(src).as("source_name"), ent.cast("string").as("entity_id"))
        }: _*)
        val obs = Tables(s, dir).lineitem
          .select(to_date(col("l_shipdate")).as("observation_date"), explode(tags).as("t"))
          .select(col("t.source_name"), col("t.entity_id"), col("observation_date"))
          .distinct()
        val specs = CoverageSources
          .map { case (src, dom, grain, lb, warn, err, _, _) => (src, dom, grain, lb, warn, err) }
          .toDF("source_name", "source_domain", "grain", "lookback_days",
            "freshness_warn_days", "freshness_error_days")
        val today = obs.agg(max(col("observation_date")).as("today"))
        val expected = obs.groupBy(col("source_name"))
          .agg(countDistinct(col("entity_id")).as("expected_entity_count"),
            max(col("observation_date")).as("coverage_date"))
        val windowed = obs
          .join(expected.select(col("source_name"), col("coverage_date")), Seq("source_name"))
          .join(broadcast(specs.select(col("source_name"), col("lookback_days"))), Seq("source_name"))
          .filter(col("observation_date") >= date_sub(col("coverage_date"), col("lookback_days")))
          .groupBy(col("source_name").as("c_source"))
          .agg(count(lit(1)).as("observed_row_count"),
            countDistinct(col("entity_id")).as("observed_entity_count"))
        val pct = coalesce(col("observed_entity_count"), lit(0L)).cast("double") /
          when(col("expected_entity_count") =!= 0, col("expected_entity_count").cast("double"))
        specs
          .join(expected, Seq("source_name"), "left")
          .join(windowed, col("source_name") === col("c_source"), "left")
          .crossJoin(broadcast(today))
          .select(
            concat(col("source_name"), lit(":"), col("coverage_date").cast("string")).as("coverage_id"),
            col("source_name"), col("source_domain"), col("grain"), col("coverage_date"),
            date_sub(col("coverage_date"), col("lookback_days")).as("coverage_window_start"),
            col("lookback_days").cast("long").as("lookback_days"),
            col("expected_entity_count"),
            coalesce(col("observed_entity_count"), lit(0L)).as("observed_entity_count"),
            (col("expected_entity_count") - coalesce(col("observed_entity_count"), lit(0L)))
              .as("missing_entity_count"),
            coalesce(col("observed_row_count"), lit(0L)).as("observed_row_count"),
            pct.as("coverage_pct"),
            datediff(col("today"), col("coverage_date")).cast("long").as("freshness_lag_days"),
            col("freshness_warn_days").cast("long").as("freshness_warn_days"),
            col("freshness_error_days").cast("long").as("freshness_error_days"),
            when(col("expected_entity_count") === 0, "no_expected_entities")
              .when(datediff(col("today"), col("coverage_date")) > col("freshness_error_days"), "stale")
              .when(pct < 0.80, "coverage_gap")
              .when(datediff(col("today"), col("coverage_date")) > col("freshness_warn_days"), "lagging")
              .when(pct < 0.98, "partial")
              .otherwise("healthy").as("coverage_status"))
      },
      Some {
        val obsBranches = CoverageSources.map { case (src, _, _, _, _, _, _, entSql) =>
          s"""SELECT DISTINCT '$src' AS source_name, $entSql AS entity_id,
              CAST(l_shipdate AS DATE) AS observation_date FROM lineitem"""
        }.mkString(" UNION ALL ")
        val specRows = CoverageSources.map { case (src, dom, grain, lb, warn, err, _, _) =>
          s"('$src', '$dom', '$grain', $lb, $warn, $err)"
        }.mkString(", ")
        s"""
        WITH obs AS ($obsBranches),
        specs AS (
          SELECT * FROM (VALUES $specRows)
          AS t(source_name, source_domain, grain, lookback_days, freshness_warn_days, freshness_error_days)
        ),
        today AS (SELECT MAX(observation_date) AS today FROM obs),
        expected AS (
          SELECT source_name,
            CAST(COUNT(DISTINCT entity_id) AS BIGINT) AS expected_entity_count,
            MAX(observation_date) AS coverage_date
          FROM obs GROUP BY 1
        ),
        windowed AS (
          SELECT o.source_name,
            CAST(COUNT(*) AS BIGINT) AS observed_row_count,
            CAST(COUNT(DISTINCT o.entity_id) AS BIGINT) AS observed_entity_count
          FROM obs o
          JOIN expected e ON o.source_name = e.source_name
          JOIN specs sp ON o.source_name = sp.source_name
          WHERE o.observation_date >= e.coverage_date - sp.lookback_days
          GROUP BY 1
        )
        SELECT specs.source_name || ':' || CAST(e.coverage_date AS VARCHAR) AS coverage_id,
          specs.source_name, specs.source_domain, specs.grain, e.coverage_date,
          e.coverage_date - specs.lookback_days AS coverage_window_start,
          CAST(specs.lookback_days AS BIGINT) AS lookback_days,
          e.expected_entity_count,
          COALESCE(w.observed_entity_count, 0) AS observed_entity_count,
          e.expected_entity_count - COALESCE(w.observed_entity_count, 0) AS missing_entity_count,
          COALESCE(w.observed_row_count, 0) AS observed_row_count,
          CAST(COALESCE(w.observed_entity_count, 0) AS DOUBLE)
            / NULLIF(CAST(e.expected_entity_count AS DOUBLE), 0) AS coverage_pct,
          CAST(t.today - e.coverage_date AS BIGINT) AS freshness_lag_days,
          CAST(specs.freshness_warn_days AS BIGINT) AS freshness_warn_days,
          CAST(specs.freshness_error_days AS BIGINT) AS freshness_error_days,
          CASE
            WHEN e.expected_entity_count = 0 THEN 'no_expected_entities'
            WHEN t.today - e.coverage_date > specs.freshness_error_days THEN 'stale'
            WHEN CAST(COALESCE(w.observed_entity_count, 0) AS DOUBLE)
              / NULLIF(CAST(e.expected_entity_count AS DOUBLE), 0) < 0.80 THEN 'coverage_gap'
            WHEN t.today - e.coverage_date > specs.freshness_warn_days THEN 'lagging'
            WHEN CAST(COALESCE(w.observed_entity_count, 0) AS DOUBLE)
              / NULLIF(CAST(e.expected_entity_count AS DOUBLE), 0) < 0.98 THEN 'partial'
            ELSE 'healthy'
          END AS coverage_status
        FROM specs
        LEFT JOIN expected e ON specs.source_name = e.source_name
        LEFT JOIN windowed w ON specs.source_name = w.source_name
        CROSS JOIN today t
      """
      }
    )
  )
}
