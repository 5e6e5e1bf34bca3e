package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.signals.NumericSignals
import graft.runtime.Tables
import graft.queries.QueryDef.{davgOver, dsum, oSnap, r4, rsnap}

/** Numeric research-signal queries (SURVEY.md §2.K). The linear-
  * algebra signals (Mahalanobis turbulence, eigen absorption ratio,
  * permutation entropy, MST metrics) are not SQL-expressible, so they
  * ship without a DuckDB oracle (driver records rows-only checks);
  * fear/greed and the FCI weighted window are window-function shapes
  * and carry full oracles.
  *
  * The "market" panels are daily revenue series per supplier bucket —
  * the same wide-matrix shape as the reference's ETF panels. These are
  * market-LEVEL series (one global window, bounded rows by
  * construction), matching the reference's explicit note that these
  * signals run on small aggregate panels.
  */
object SignalQueries {

  /** Rolling normalized order-3 permutation entropy as pure window
    * expressions over a (flag, d, ret) frame (ref
    * entropy_complexity.py:31-58). The ordinal pattern of
    * (lag2, lag1, current) is the ranks sequence from a stable
    * ascending sort by (value, index) encoded to its lexicographic
    * id — 012=0, 021=1, 102=2, 120=3, 201=4, 210=5; 58 trailing
    * patterns = the reference's sliding(3) over a 60-value history
    * window ending at the current row. Round5Specs asserts parity
    * with [[NumericSignals.permutationEntropy]] (the UDF form this
    * replaced — same values, no 60-double array per row). Output:
    * input columns + `pe`, rows before the 4th observation dropped
    * (the reference's window.length < order+1 guard). */
  private[graft] def permEntropyFrame(withRet: DataFrame): DataFrame = {
    val wp = Window.partitionBy(col("flag")).orderBy(col("d"))
    val withPat = withRet
      .withColumn("a", lag(col("ret"), 2).over(wp))
      .withColumn("b", lag(col("ret"), 1).over(wp))
      .withColumn("pat",
        when(col("a").isNull, lit(null))
          .when(col("a") <= col("b") && col("b") <= col("ret"), 0)
          .when(col("a") <= col("b") && col("a") <= col("ret"), 1)
          .when(col("a") <= col("b"), 4)
          .when(col("b") <= col("ret") && col("a") <= col("ret"), 2)
          .when(col("b") <= col("ret"), 3)
          .otherwise(5))
      .withColumn("rn", row_number().over(wp))
    val wPat    = wp.rowsBetween(-57, 0)
    val counted = withPat.select(
      col("*") +:
        (0 to 5).map(k =>
          sum(when(col("pat") === k, 1).otherwise(0)).over(wPat).as(s"c$k")) :+
        count(col("pat")).over(wPat).as("ct"): _*)
    val hTerms = (0 to 5).map { k =>
      val p = col(s"c$k").cast("double") / col("ct").cast("double")
      when(col(s"c$k") > 0, p * log(p)).otherwise(lit(0.0))
    }
    val pe = when(col("rn") > 3, -hTerms.reduce(_ + _) / lit(math.log(6.0)))
    counted
      .withColumn("pe", pe)
      .filter(col("pe").isNotNull)
      .drop("a", "b", "pat", "rn", "c0", "c1", "c2", "c3", "c4", "c5", "ct")
  }

  /** Wide daily panel: one column per supplier bucket (dense by
    * construction), inner-aligned (rows with any missing asset drop —
    * reference FCI merge semantics). */
  private def panel(s: SparkSession, dir: String, buckets: Int): DataFrame = {
    val li = Tables(s, dir).lineitem
    val base = li
      .groupBy(to_date(col("l_shipdate")).as("d"), (col("l_suppkey") % buckets).as("asset"))
      .agg(r4(dsum(col("l_extendedprice"))).as("v"))
    val cols = (0 until buckets).map(a => max(when(col("asset") === a, col("v"))).as(s"a$a"))
    base
      .groupBy(col("d"))
      .agg(cols.head, cols.tail: _*)
      .filter((0 until buckets).map(a => col(s"a$a").isNotNull).reduce(_ && _))
  }

  /** Per-asset simple returns + vector column. */
  private def returnsPanel(df: DataFrame, buckets: Int): DataFrame = {
    val w = Window.orderBy(col("d"))
    val withR = (0 until buckets).foldLeft(df) { (acc, a) =>
      acc.withColumn(s"r$a", safeDivide(col(s"a$a") - lag(col(s"a$a"), 1).over(w), lag(col(s"a$a"), 1).over(w)))
    }
    withR
      .withColumn("vec", array((0 until buckets).map(a => col(s"r$a")): _*))
      .filter((0 until buckets).map(a => col(s"r$a").isNotNull).reduce(_ && _))
  }

  val defs: Seq[QueryDef] = Seq(
    // Rolling Mahalanobis turbulence + expanding percentile + regime
    // buckets (turbulence_index.py:80-177). Stored-golden oracle
    // (r8): deterministic pinv over exact-decimal panels; numpy leg
    // in tools/check_numeric.py.
    QueryDef(
      "q_turbulence_index",
      (s, dir) => {
        val rp   = returnsPanel(panel(s, dir, 4), 4)
        val w    = Window.orderBy(col("d"))
        val hist = collect_list(col("vec")).over(w.rowsBetween(-251, 0))
        val out = rp
          .withColumn("turbulence", NumericSignals.mahalanobis(col("vec"), hist))
          .filter(col("turbulence").isNotNull)
        val w20  = Window.orderBy(col("d")).rowsBetween(-19, 0)
        val w252 = Window.orderBy(col("d")).rowsBetween(-251, 0)
        out
          .withColumn("turb_avg20", avg(col("turbulence")).over(w20))
          .withColumn(
            "turb_z252",
            safeDivide(col("turbulence") - avg(col("turbulence")).over(w252),
              stddev_samp(col("turbulence")).over(w252))
          )
          .withColumn(
            "regime",
            when(col("turb_z252") > 2, "extreme")
              .when(col("turb_z252") > 1, "elevated")
              .when(col("turb_z252") > -1, "normal")
              .otherwise("calm")
          )
          .select(col("d"), r4(col("turbulence")).as("turbulence"),
            r4(col("turb_avg20")).as("turb_avg20"), r4(col("turb_z252")).as("turb_z252"),
            col("regime"))
      },
      TextMlGolden.turbulenceIndex
    ),
    // Rolling correlation-eigenvalue absorption ratio
    // (absorption_ratio.py:49-145). Stored-golden oracle (r8):
    // deterministic eigendecomposition; numpy leg in check_numeric.
    QueryDef(
      "q_absorption_ratio",
      (s, dir) => {
        val rp   = returnsPanel(panel(s, dir, 8), 8)
        val w    = Window.orderBy(col("d"))
        val hist = collect_list(col("vec")).over(w.rowsBetween(-119, 0))
        val out = rp
          .withColumn("ar", NumericSignals.absorptionRatio(0.25)(hist))
          .filter(col("ar").isNotNull)
        val w252 = Window.orderBy(col("d")).rowsBetween(-251, 0)
        out
          .withColumn("ar_delta15", col("ar") - lag(col("ar"), 15).over(w))
          .withColumn(
            "ar_z1y",
            safeDivide(col("ar") - avg(col("ar")).over(w252), stddev_samp(col("ar")).over(w252))
          )
          .select(col("d"), r4(col("ar")).as("absorption_ratio"),
            r4(col("ar_delta15")).as("ar_delta15"), r4(col("ar_z1y")).as("ar_z1y"))
      },
      TextMlGolden.absorptionRatio
    ),
    // Rolling normalized permutation entropy per instrument
    // (entropy_complexity.py:31-180). Promoted to a full oracle in
    // round 5: the order-3 ordinal patterns are just comparisons of
    // (lag2, lag1, current) with the reference's stable (value, idx)
    // tie-break, so the UDF-over-collect_list form is replaced by six
    // conditional windowed counts + an explicit entropy expression —
    // no 60-double array per row, and the same formulation runs in
    // DuckDB. Round5Specs asserts expression/UDF parity.
    QueryDef(
      "q_permutation_entropy",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val series = li
          .groupBy(col("l_returnflag").as("flag"), to_date(col("l_shipdate")).as("d"))
          .agg(r4(dsum(col("l_extendedprice"))).as("v"))
        val wp  = Window.partitionBy(col("flag")).orderBy(col("d"))
        val ret = safeDivide(col("v") - lag(col("v"), 1).over(wp), lag(col("v"), 1).over(wp))
        val peFrame = permEntropyFrame(
          series.withColumn("ret", ret).filter(col("ret").isNotNull))
        val w20  = wp.rowsBetween(-19, 0)
        val w252 = wp.rowsBetween(-251, 0)
        peFrame
          .withColumn("pe_trend20", col("pe") - avg(col("pe")).over(w20))
          .withColumn(
            "pe_z252",
            safeDivide(col("pe") - avg(col("pe")).over(w252), stddev_samp(col("pe")).over(w252))
          )
          .select(col("flag"), col("d"), rsnap(col("pe"), 4).as("perm_entropy"),
            rsnap(col("pe_trend20"), 4).as("pe_trend20"), rsnap(col("pe_z252"), 4).as("pe_z252"))
      },
      Some(s"""
        WITH series AS (
          SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
          FROM lineitem GROUP BY 1, 2
        ),
        rets AS (
          SELECT flag, d,
            (v - LAG(v, 1) OVER w) / NULLIF(LAG(v, 1) OVER w, 0) AS ret
          FROM series WINDOW w AS (PARTITION BY flag ORDER BY d)
        ),
        pats AS (
          SELECT flag, d, ret,
            LAG(ret, 2) OVER w AS a, LAG(ret, 1) OVER w AS b,
            ROW_NUMBER() OVER w AS rn
          FROM rets WHERE ret IS NOT NULL
          WINDOW w AS (PARTITION BY flag ORDER BY d)
        ),
        coded AS (
          SELECT flag, d, rn,
            CASE WHEN a IS NULL THEN NULL
                 WHEN a <= b AND b <= ret THEN 0
                 WHEN a <= b AND a <= ret THEN 1
                 WHEN a <= b THEN 4
                 WHEN b <= ret AND a <= ret THEN 2
                 WHEN b <= ret THEN 3
                 ELSE 5 END AS pat
          FROM pats
        ),
        counted AS (
          SELECT flag, d, rn,
            SUM(CASE WHEN pat = 0 THEN 1 ELSE 0 END) OVER wp AS c0,
            SUM(CASE WHEN pat = 1 THEN 1 ELSE 0 END) OVER wp AS c1,
            SUM(CASE WHEN pat = 2 THEN 1 ELSE 0 END) OVER wp AS c2,
            SUM(CASE WHEN pat = 3 THEN 1 ELSE 0 END) OVER wp AS c3,
            SUM(CASE WHEN pat = 4 THEN 1 ELSE 0 END) OVER wp AS c4,
            SUM(CASE WHEN pat = 5 THEN 1 ELSE 0 END) OVER wp AS c5,
            COUNT(pat) OVER wp AS ct
          FROM coded
          WINDOW wp AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 57 PRECEDING AND CURRENT ROW)
        ),
        pe_calc AS (
          SELECT flag, d,
            CASE WHEN rn > 3 THEN
              -(  CASE WHEN c0 > 0 THEN (CAST(c0 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c0 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c1 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c2 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c3 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c4 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE) / CAST(ct AS DOUBLE)) * LN(CAST(c5 AS DOUBLE) / CAST(ct AS DOUBLE)) ELSE 0.0 END
              ) / LN(6.0)
            END AS pe
          FROM counted
        ),
        kept AS (SELECT * FROM pe_calc WHERE pe IS NOT NULL)
        SELECT flag, d,
          ${oSnap("pe", 4)} AS perm_entropy,
          ${oSnap("pe - AVG(pe) OVER w20", 4)} AS pe_trend20,
          ${oSnap("(pe - AVG(pe) OVER w252) / NULLIF(STDDEV_SAMP(pe) OVER w252, 0)", 4)} AS pe_z252
        FROM kept
        WINDOW
          w20 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
          w252 AS (PARTITION BY flag ORDER BY d ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
      """)
    ),
    // MST network metrics on rolling correlation, 5-day stride
    // (network_correlation.py:60-156). Stored-golden oracle (r8);
    // numpy leg in check_numeric.
    QueryDef(
      "q_mst_network_metrics",
      (s, dir) => {
        val rp = returnsPanel(panel(s, dir, 8), 8)
        val w  = Window.orderBy(col("d"))
        val out = rp
          .withColumn("rn", row_number().over(w))
          .withColumn("hist", collect_list(col("vec")).over(w.rowsBetween(-62, 0)))
          .filter(col("rn") % 5 === 0) // 5-day stride AFTER the daily window
          .withColumn("m", NumericSignals.mstMetrics(col("hist")))
          .filter(col("m").isNotNull)
        out.select(
          col("d"),
          r4(col("m._1")).as("mst_total_length"),
          col("m._2").cast("long").as("mst_max_degree"),
          r4(col("m._3")).as("mst_avg_path"),
          r4(col("m._4")).as("mst_max_betweenness")
        )
      },
      TextMlGolden.mstNetworkMetrics
    ),
    // Fear/greed composite: percentile-ranked components + nanmean +
    // buckets (fear_greed_composite.py:30-277). Full oracle.
    QueryDef(
      "q_fear_greed_composite",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val series = li
          .filter(col("l_returnflag") === "A")
          .groupBy(to_date(col("l_shipdate")).as("d"))
          .agg(r4(dsum(col("l_extendedprice"))).as("v"))
        val w = Window.orderBy(col("d"))
        val base = series
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("ret20", safeDivide(col("v") - lag(col("v"), 20).over(w), lag(col("v"), 20).over(w)))
          .withColumn("ret1", safeDivide(col("v") - lag(col("v"), 1).over(w), lag(col("v"), 1).over(w)))
          .withColumn("vol20", avg(abs(col("ret1"))).over(w.rowsBetween(-19, 0)))
        val hist = base.select(col("rn").as("hrn"), col("ret20").as("h_ret20"),
          col("vol20").as("h_vol20"), col("v").as("h_v"))
        val joined = base
          .join(hist, col("hrn") <= col("rn") && col("hrn") > col("rn") - 252)
          .groupBy(col("d"), col("rn"), col("v"), col("ret20"), col("vol20"))
          .agg(
            (sum(when(col("h_ret20") <= col("ret20"), 1).otherwise(0)).cast("double") /
              count(when(col("h_ret20").isNotNull, 1))).as("pct_momentum"),
            (sum(when(col("h_vol20") <= col("vol20"), 1).otherwise(0)).cast("double") /
              count(when(col("h_vol20").isNotNull, 1))).as("pct_vol"),
            (sum(when(col("h_v") <= col("v"), 1).otherwise(0)).cast("double") /
              count(lit(1))).as("pct_level")
          )
          .filter(col("ret20").isNotNull && col("vol20").isNotNull)
        joined
          .withColumn("inv_vol", lit(1.0) - col("pct_vol"))
          .withColumn("composite", nanMean(col("pct_momentum"), col("inv_vol"), col("pct_level")))
          .withColumn(
            "sentiment",
            when(col("composite") >= 0.75, "extreme greed")
              .when(col("composite") >= 0.55, "greed")
              .when(col("composite") > 0.45, "neutral")
              .when(col("composite") > 0.25, "fear")
              .otherwise("extreme fear")
          )
          .select(col("d"), col("pct_momentum"), col("inv_vol"), col("pct_level"),
            col("composite"), col("sentiment"))
      },
      Some("""
        WITH series AS (
          SELECT CAST(l_shipdate AS DATE) AS d,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
          FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
        ),
        rets AS (
          SELECT d, v,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
            (v - LAG(v, 20) OVER w) / NULLIF(LAG(v, 20) OVER w, 0) AS ret20,
            (v - LAG(v, 1) OVER w) / NULLIF(LAG(v, 1) OVER w, 0) AS ret1
          FROM series
          WINDOW w AS (ORDER BY d)
        ),
        base AS (
          SELECT d, v, rn, ret20,
            AVG(ABS(ret1)) OVER (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol20
          FROM rets
        ),
        ranked AS (
          SELECT s.d, s.rn, s.v, s.ret20, s.vol20,
            CAST(SUM(CASE WHEN h.ret20 <= s.ret20 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(CASE WHEN h.ret20 IS NOT NULL THEN 1 END) AS pct_momentum,
            CAST(SUM(CASE WHEN h.vol20 <= s.vol20 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(CASE WHEN h.vol20 IS NOT NULL THEN 1 END) AS pct_vol,
            CAST(SUM(CASE WHEN h.v <= s.v THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*) AS pct_level
          FROM base s
          JOIN base h ON h.rn <= s.rn AND h.rn > s.rn - 252
          GROUP BY s.d, s.rn, s.v, s.ret20, s.vol20
        )
        SELECT d, pct_momentum, 1.0 - pct_vol AS inv_vol, pct_level,
          (pct_momentum + (1.0 - pct_vol) + pct_level) / 3.0 AS composite,
          CASE WHEN (pct_momentum + (1.0 - pct_vol) + pct_level) / 3.0 >= 0.75 THEN 'extreme greed'
               WHEN (pct_momentum + (1.0 - pct_vol) + pct_level) / 3.0 >= 0.55 THEN 'greed'
               WHEN (pct_momentum + (1.0 - pct_vol) + pct_level) / 3.0 > 0.45 THEN 'neutral'
               WHEN (pct_momentum + (1.0 - pct_vol) + pct_level) / 3.0 > 0.25 THEN 'fear'
               ELSE 'extreme fear' END AS sentiment
        FROM ranked
        WHERE ret20 IS NOT NULL AND vol20 IS NOT NULL
      """)
    ),
    // FCI-style weighted trailing window dot product with reversed
    // hardcoded weights (financial_condition_index.py:253-385).
    QueryDef(
      "q_fci_weighted_window",
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        val series = li
          .filter(col("l_returnflag") === "N")
          .groupBy(to_date(col("l_shipdate")).as("d"))
          .agg(r4(dsum(col("l_extendedprice"))).as("v"))
        val w       = Window.orderBy(col("d"))
        val weights = (0 until 12).map(i => (12.0 - i) / 78.0) // w(0)=newest
        val m90 = davgOver(col("v"), w.rowsBetween(-89, 0), 4)
        val base = series
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("m90", m90)
          .withColumn("diff3", col("m90") - lag(col("m90"), 3).over(w))
        // trailing array is oldest->newest; weights reversed to match
        // (reference reverses the hardcoded table, fci.py:343)
        val arr        = collect_list(col("diff3")).over(w.rowsBetween(-11, 0))
        val weightsArr = array(weights.reverse.map(lit): _*)
        val fci        = aggregate(zip_with(arr, weightsArr, (x, wt) => x * wt), lit(0.0), (a, x) => a + x)
        base
          .withColumn("fci", fci)
          .filter(col("rn") >= 15)
          .select(col("d"), r4(col("m90")).as("m90"), r4(col("diff3")).as("diff3"), r4(col("fci")).as("fci"))
      },
      Some {
        val weights = (0 until 12).map(i => (12.0 - i) / 78.0)
        val terms = (11 to 0 by -1)
          .map(i =>
            if (i == 0) s"diff3 * (${weights(0)})"
            else s"LAG(diff3, $i) OVER w * (${weights(i)})"
          )
          .mkString(" + ")
        s"""
        WITH series AS (
          SELECT CAST(l_shipdate AS DATE) AS d,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS v
          FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
        ),
        base AS (
          SELECT d, v,
            CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
            CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w90 AS DOUBLE) / COUNT(v) OVER w90 AS m90
          FROM series
          WINDOW w AS (ORDER BY d),
                 w90 AS (ORDER BY d ROWS BETWEEN 89 PRECEDING AND CURRENT ROW)
        ),
        diffs AS (
          SELECT d, rn, m90, m90 - LAG(m90, 3) OVER w AS diff3
          FROM base WINDOW w AS (ORDER BY d)
        )
        SELECT d, ROUND(m90, 4) + 0.0 AS m90, ROUND(diff3, 4) + 0.0 AS diff3,
          ROUND(fci_raw, 4) + 0.0 AS fci
        FROM (SELECT d, rn, m90, diff3, $terms AS fci_raw FROM diffs WINDOW w AS (ORDER BY d)) t
        WHERE rn >= 15
      """
      }
    )
  )
}
