package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.runtime.ModelRegistry
import graft.runtime.ModelRegistry.{Materialization, ModelDef}

/** The shared marts behind the fleet's fan-in consumers, and those
  * consumers, each declared once — as the reference writes each dbt
  * model once, wired by `ref()`, its view/table tier being
  * configuration (dbt_project.yml:30-57).
  *
  * Both lanes derive from the declarations. Isolated: a consumer's
  * registry [[QueryDef]] ([[query]]) applies its reader to its marts
  * built [[inline]]. DAG: [[registry]] materializes each mart once as
  * a Table-tier model (it survives `clearCache`) and [[read]] applies
  * the same reader to the materialized frames. The three identity
  * consumers are not derived: their registry query is the mart's own
  * build. `ModelRegistrySpecs` checks every declaration in both lanes.
  *
  * Declarations hold functions only and read no other object's `defs`
  * at init time: the derived queries are members of those `defs`.
  */
object SharedMarts {

  /** A registry query over shared marts; `read` gets them in `marts`
    * order. */
  final case class Consumer(name: String, marts: Seq[String], read: Seq[DataFrame] => DataFrame)

  /** The marts over `(s, dir)`, all Table tier. A mart that is a
    * registry query is declared by that query's name. */
  def marts(s: SparkSession, dir: String): Seq[ModelDef] = {
    def mart(name: String, deps: String*)(build: Map[String, DataFrame] => DataFrame) =
      ModelDef(name, deps, Materialization.Table, build)
    def query(name: String, q: String) = mart(name)(_ => Registry.byName(q).query(s, dir))
    Seq(
      mart("mart_fred_monthly_calc")(_ => FredQueries.fredMonthlyCalc(s, dir)),
      query("mart_leading_econ_return_indicator", "q_leading_econ_return_indicator"),
      mart("stg_base_historical_thin")(_ => AnalysisQueries2.baseHistoricalThin(s, dir)),
      query("mart_market_performance", "q_agent_market_performance"),
      query("mart_commodity_performance", "q_agent_commodity_performance"),
      // the five int_cross_asset branches behind the divergences fan-in
      mart("int_credit_signals")(_ => CrossAssetQueries2.creditSignals(s, dir, None)),
      mart("int_risk_confirmation_signals")(_ =>
        CrossAssetQueries.riskConfirmationSignals(s, dir, None)),
      mart("int_commodity_signals")(_ => CrossAssetQueries2.commoditySignals(s, dir, None)),
      mart("int_breadth_signals")(_ => CrossAssetQueries.breadthSignals(s, dir, None)),
      mart("int_confirmation_signals")(_ => CrossAssetQueries.confirmationSignals(s, dir, None)),
      // the TA chain: instances is the forward-return child of events
      mart("mart_signal_events")(_ => TechnicalSignalQueries.signalEvents(s, dir)),
      mart("mart_signal_instances", "mart_signal_events")(d =>
        MiscModelQueries.signalInstancesFrom(s, dir, d("mart_signal_events"))),
      // the analysis-returns layer the semantic-layer views share
      mart("mart_analysis_returns_layer")(_ => SemanticLayerQueries.layerAr(s, dir)))
  }

  /** The consumers over `(s, dir)`, in the bench's DAG-lane order. */
  def consumers(s: SparkSession, dir: String): Seq[Consumer] = {
    def over(name: String, mart: String)(read: DataFrame => DataFrame) =
      Consumer(name, Seq(mart), m => read(m.head))
    Seq(
      Consumer("q_interesting_data_points",
        Seq("mart_fred_monthly_calc", "mart_leading_econ_return_indicator",
          "mart_market_performance", "mart_commodity_performance"),
        { case Seq(fred, econ, market, commodity) =>
          DataPointQueries.interestingFrom(fred, econ, market, commodity) }),
      over("q_agent_leading_econ_return_indicator", "mart_leading_econ_return_indicator")(identity),
      over("q_agent_leading_econ_return_indicator_snapshot", "stg_base_historical_thin")(
        AnalysisQueries2.leadingEconSnapshotFrom),
      over("q_agent_market_performance", "mart_market_performance")(identity),
      over("q_agent_commodity_performance", "mart_commodity_performance")(identity),
      Consumer("q_cross_asset_divergences",
        Seq("int_credit_signals", "int_risk_confirmation_signals", "int_commodity_signals",
          "int_breadth_signals", "int_confirmation_signals"),
        { case Seq(credit, risk, commodity, breadth, confirmation) =>
          CrossAssetQueries2.divergencesFrom(s, dir, None,
            credit, risk, commodity, breadth, confirmation) }),
      over("q_leading_econ_return_indicator_snapshot", "stg_base_historical_thin")(
        AnalysisQueries2.leadingEconSnapshotFrom),
      over("q_agent_technical_signal_history", "mart_signal_instances")(
        AgentQueries.signalHistoryFrom),
      over("q_technical_current_setups", "mart_signal_events")(
        TechnicalSignalQueries.currentSetupsFrom(s, dir, _)),
      over("q_asset_daily_returns", "mart_analysis_returns_layer")(
        SemanticLayerQueries.assetDailyReturnsFrom))
  }

  /** The marts as a [[ModelRegistry]] (the DAG lane). */
  def registry(s: SparkSession, dir: String): ModelRegistry =
    marts(s, dir).foldLeft(new ModelRegistry())(_.register(_))

  /** Mart `name` built inline: its deps built inline in turn, nothing
    * materialized. */
  def inline(s: SparkSession, dir: String)(name: String): DataFrame = {
    val byName = marts(s, dir).map(m => m.name -> m).toMap
    def build(n: String): DataFrame = {
      val m = byName(n)
      m.build(m.deps.map(d => d -> build(d)).toMap)
    }
    build(name)
  }

  /** Consumer `c` over the marts `mart` returns: the materialized
    * frames of a registry run, or [[inline]]. */
  def read(c: Consumer, mart: String => DataFrame): DataFrame = c.read(c.marts.map(mart))

  /** The isolated registry query of consumer `name`. */
  def query(name: String, oracle: Option[String]): QueryDef =
    QueryDef(name, (s, dir) => {
      val c = consumers(s, dir).find(_.name == name)
        .getOrElse(sys.error(s"no consumer declared as $name"))
      read(c, inline(s, dir))
    }, oracle)
}
