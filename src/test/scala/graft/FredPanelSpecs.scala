package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.queries.FredSignalQueries.{dateOf, panel}
import graft.queries.QueryDef.dsum
import graft.runtime.GraftSession

/** The FRED period panel: one grouped pivot of a `stgFred`-shaped slice
  * must equal the per-series aggregate-and-join chains it replaces — the
  * coalesce-keyed FULL OUTER chain of monthly MAX/mean CTEs, and the
  * LEFT JOIN chain anchored on one series — row for row, with the mean
  * decimal-exact. The chains are built by hand here as the reference. */
class FredPanelSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def d(s: String) = Date.valueOf(s)

  /** (series_code, date, value, literal) */
  private lazy val stg: DataFrame = Seq[(String, Date, Option[Double], Option[Double])](
    // A and B cover disjoint months
    ("A", d("2020-01-06"), Some(1.5), Some(1.5)),
    ("A", d("2020-01-20"), Some(2.5), Some(2.5)),
    ("A", d("2020-02-03"), Some(3.0), Some(3.0)),
    // a NULL literal, alone in its month: May is in the value panel only
    ("A", d("2020-05-11"), Some(4.0), None),
    ("B", d("2020-03-02"), Some(7.0), Some(7.0)),
    ("B", d("2020-04-01"), Some(8.0), Some(8.0)),
    // C carries max, min and mean; its January mean is 0.15 exactly, but
    // the double sum 0.1 + 0.2 is 0.30000000000000004
    ("C", d("2020-01-06"), Some(0.1), Some(0.1)),
    ("C", d("2020-01-07"), Some(0.2), Some(0.2)),
    ("C", d("2020-03-10"), Some(0.7), Some(0.7)),
    ("C", d("2020-03-11"), Some(0.4), Some(0.4)),
    ("C", d("2020-03-12"), Some(0.4), None),
    // an unlisted code must not add a period
    ("D", d("2020-06-01"), Some(9.9), Some(9.9))
  ).toDF("series_code", "date", "value", "literal")

  private def key(period: String) =
    (if (period == "day") col("date") else date_trunc(period, col("date")).cast("date"))

  private def series(code: String, v: String, period: String, k: String) =
    stg.filter(col("series_code") === code && col(v).isNotNull).groupBy(key(period).as(k))

  private def mMax(code: String, alias: String, k: String): DataFrame =
    series(code, "literal", "month", k).agg(max(col("literal")).as(alias))

  private def mean(code: String, v: String, period: String, alias: String, k: String): DataFrame =
    series(code, v, period, k).agg((dsum(col(v)) / count(lit(1))).as(alias))

  private def rows(df: DataFrame): Seq[Row] = df.orderBy(col("date").asc_nulls_first).collect().toSeq

  test("panel equals the coalesce-keyed full-outer chain of per-series aggregates") {
    val c = series("C", "literal", "month", "c_m")
      .agg(max(col("literal")).as("c_max"), min(col("literal")).as("c_min"),
        (dsum(col("literal")) / count(lit(1))).as("c_mean"))
    val chain = mMax("A", "a", "a_m")
      .join(mMax("B", "b", "b_m"), col("a_m") === col("b_m"), "full_outer")
      .join(c, coalesce(col("a_m"), col("b_m")) === col("c_m"), "full_outer")
      .select(coalesce(col("a_m"), col("b_m"), col("c_m")).as("date"),
        coalesce(col("a_m"), col("c_m")).as("ac_date"),
        col("a"), col("b"), col("c_max"), col("c_min"), col("c_mean"))
    val p = panel(stg, "month", "literal")(("A", "max", "a"), ("B", "max", "b"),
        ("C", "max", "c_max"), ("C", "min", "c_min"), ("C", "mean", "c_mean"))
      .select(col("date"), dateOf("a", "c_max").as("ac_date"),
        col("a"), col("b"), col("c_max"), col("c_min"), col("c_mean"))

    val got = rows(p)
    assert(got == rows(chain))
    assert(got.map(_.getDate(0).toString) == Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01"))
    // B-only April has no A or C row: the partial coalesce is NULL there
    assert(got(3).isNullAt(1) && !got(2).isNullAt(1))
    // January: max/min/mean of C, the mean decimal-exact, not the double average
    assert(got.head.getDouble(4) == 0.2 && got.head.getDouble(5) == 0.1)
    assert(got.head.getDouble(6) == 0.15 && (0.1 + 0.2) / 2 != 0.15)
    // March: the NULL-literal C row is not counted
    assert(got(2).getDouble(6) == 0.55)
  }

  test("panel filtered on one column equals the left-join chain anchored on that series") {
    for (period <- Seq("day", "week", "month")) {
      val chain = mean("A", "literal", period, "a", "a_k")
        .join(mean("C", "literal", period, "c", "c_k"), col("a_k") === col("c_k"), "left")
        .join(mean("B", "literal", period, "b", "b_k"), col("a_k") === col("b_k"), "left")
        .select(col("a_k").as("date"), col("a"), col("c"), col("b"))
      val p = panel(stg, period, "literal")(("A", "mean", "a"), ("C", "mean", "c"), ("B", "mean", "b"))
        .filter(col("a").isNotNull)
      assert(rows(p) == rows(chain), period)
    }
  }

  test("a value panel counts NULL-literal rows; an unlisted code never adds a period") {
    val p = rows(panel(stg, "month", "value")(("A", "max", "a"), ("C", "mean", "c")))
    assert(p.map(_.getDate(0).toString) == Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-05-01"))
    assert(p(2).isNullAt(1) && p(2).getDouble(2) == 0.5 && p(3).getDouble(1) == 4.0)
    intercept[IllegalArgumentException](panel(stg, "quarter", "value")(("A", "max", "a")))
  }
}
