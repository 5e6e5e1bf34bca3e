package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry
import graft.runtime.ModelRegistry
import graft.runtime.ModelRegistry.{Materialization, ModelDef}

/** The mart DAG the marts workload refreshes and then reads.
  *
  * Source marts are registry queries behind the program's DAG lane,
  * addressed by registry name, so each materialized mart must carry the
  * same checksum as its query's fleet golden. One derived mart reads all
  * four, so the refresh has real dependency edges. All are Table tier:
  * durable parquet in a fresh warehouse per refresh.
  */
object Marts {

  /** mart name -> registry query it materializes: four of the five
    * cross-asset signal branches the DAG lane shares. */
  val sources: Seq[(String, String)] = Seq(
    "mart_credit_signals"            -> "q_cross_asset_credit_signals",
    "mart_breadth_signals"           -> "q_cross_asset_breadth_signals",
    "mart_confirmation_signals"      -> "q_cross_asset_confirmation_signals",
    "mart_risk_confirmation_signals" -> "q_cross_asset_risk_confirmation_signals")

  /** The fan-in over all four, one row per credit date (like the
    * divergences consumer): values passed through and integer flags
    * summed, so its checksum cannot depend on evaluation order. */
  val Derived = "mart_cross_asset_board"
  private val derivedSql =
    """SELECT c.date, c.hy_spread, c.stock_bond_corr_regime, b.iwm_spy_ratio, b.rsp_spy_ratio,
      |       f.dow_non_confirmation_flag, f.semis_divergence_flag,
      |       r.defensive_ratio_uptrend_flag, r.aud_risk_divergence_flag,
      |       COALESCE(c.hy_equity_divergence_flag, 0) + COALESCE(c.hy_spread_divergence_flag, 0)
      |         + COALESCE(f.dow_non_confirmation_flag, 0) + COALESCE(f.semis_divergence_flag, 0)
      |         + COALESCE(r.aud_risk_divergence_flag, 0) AS divergence_count
      |FROM mart_credit_signals c
      |LEFT JOIN mart_breadth_signals b ON b.date = c.date
      |LEFT JOIN mart_confirmation_signals f ON f.date = c.date
      |LEFT JOIN mart_risk_confirmation_signals r ON r.date = c.date""".stripMargin

  val names: Seq[String] = sources.map(_._1) :+ Derived

  /** A registry whose every build first calls `onBuild(model)`, so the
    * caller can mark where each model's work starts. */
  def registry(spark: SparkSession, dir: String, onBuild: String => Unit): ModelRegistry = {
    val reg = new ModelRegistry()
    sources.foreach { case (mart, query) =>
      val q = Registry.byName(query)
      reg.register(ModelDef(mart, Nil, Materialization.Table, _ => { onBuild(mart); q.query(spark, dir) }))
    }
    reg.register(ModelDef(Derived, sources.map(_._1), Materialization.Table, deps => {
      onBuild(Derived)
      expose(deps)
      spark.sql(derivedSql)
    }))
  }

  /** Make the built marts readable by name from SQL. */
  def expose(frames: Map[String, DataFrame]): Unit =
    frames.foreach { case (name, df) => df.createOrReplaceTempView(name) }

  /** Read templates, keyed "<template>|<param>|...". Each key in the marts
    * goldens is one read; the workload draws its reads from those keys, so
    * the goldens also fix the parameter domain. Every top-k breaks ties by
    * the unique date. */
  def sql(key: String): String = {
    val p = key.split('|').toIndexedSeq
    def year(col: String) = s"$col BETWEEN DATE '${p(1)}-01-01' AND DATE '${p(1)}-12-31'"
    p.head match {
      case "board_day" => // point lookup
        s"SELECT * FROM mart_cross_asset_board WHERE date = DATE '${p(1)}'"
      case "credit_day" => // point lookup
        s"SELECT * FROM mart_credit_signals WHERE date = DATE '${p(1)}'"
      case "credit_range" => // date-range scan
        s"SELECT * FROM mart_credit_signals WHERE ${year("date")}"
      case "board_range" => // date-range scan with a filter
        s"SELECT * FROM mart_cross_asset_board WHERE ${year("date")} AND divergence_count > 0"
      case "spread_topk" => // top-k
        s"""SELECT date, hy_spread, hy_spread_20d_change FROM mart_credit_signals
           |WHERE hy_spread IS NOT NULL ORDER BY hy_spread DESC, date LIMIT ${p(1)}""".stripMargin
      case "breadth_topk" =>
        s"""SELECT date, iwm_spy_ratio, iwm_spy_sma_50 FROM mart_breadth_signals
           |WHERE iwm_spy_ratio IS NOT NULL ORDER BY iwm_spy_ratio DESC, date LIMIT ${p(1)}""".stripMargin
      case "credit_breadth_join" => // mart-to-mart join
        s"""SELECT c.date, c.hy_spread, c.stock_bond_corr_regime, b.iwm_spy_ratio, b.rsp_spy_ratio
           |FROM mart_credit_signals c JOIN mart_breadth_signals b ON c.date = b.date
           |WHERE ${year("c.date")}""".stripMargin
      case "confirm_risk_join" =>
        s"""SELECT f.date, f.dow_non_confirmation_flag, f.semis_divergence_flag,
           |       r.defensive_ratio_uptrend_flag, r.aud_risk_divergence_flag
           |FROM mart_confirmation_signals f JOIN mart_risk_confirmation_signals r ON f.date = r.date
           |WHERE ${year("f.date")}""".stripMargin
      case "board_months" => // aggregate over the derived mart
        s"""SELECT month(date) AS m, COUNT(*) AS days, SUM(divergence_count) AS divergences
           |FROM mart_cross_asset_board WHERE ${year("date")} GROUP BY month(date)""".stripMargin
      case t => throw new IllegalArgumentException(s"unknown read template $t")
    }
  }

  /** Every read key over the built marts: each template with parameters
    * taken from the marts' own values (at most `per` of them, evenly
    * spaced over the sorted distinct values). Used when recording. */
  def domain(spark: SparkSession, per: Int = 8): Seq[String] = {
    def distinct(q: String): Seq[String] = {
      val all = spark.sql(q).collect().toSeq.map(r => String.valueOf(r.get(0)))
      if (all.size <= per) all else (0 until per).map(i => all(i * all.size / per))
    }
    val days  = distinct("SELECT DISTINCT date FROM mart_cross_asset_board ORDER BY 1")
    val years = distinct("SELECT DISTINCT CAST(year(date) AS STRING) FROM mart_credit_signals ORDER BY 1")
    val ks    = Seq("5", "25")
    def keys(t: String, ps: Seq[String]): Seq[String] = ps.map(p => s"$t|$p")
    keys("board_day", days) ++ keys("credit_day", days) ++
      keys("credit_range", years) ++ keys("board_range", years) ++
      keys("spread_topk", ks) ++ keys("breadth_topk", ks) ++
      keys("credit_breadth_join", years) ++ keys("confirm_risk_join", years) ++
      keys("board_months", years)
  }
}
