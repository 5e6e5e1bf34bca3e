package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.models.MarketSummary
import graft.runtime.GraftSession

/** The period-summary kernel's boundary prices: the struct MIN/MAX
  * picks inside its aggregate must equal the first row of the
  * `row_number` orders they replaced — (date ASC, price ASC) for the
  * start price, (date DESC, price DESC) for the end price — on ties of
  * dates, ties of prices and NULL prices. */
class PeriodSummarySpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def d(s: String) = Date.valueOf(s)

  /** (k, date, open, close): each key is one (symbol, period) group. */
  private lazy val toy: DataFrame = Seq[(String, Date, Option[Double], Option[Double])](
    // equal first and last dates, distinct prices
    ("tie_dates", d("2024-01-02"), Some(10.25), Some(11.0)),
    ("tie_dates", d("2024-01-02"), Some(9.5), Some(12.0)),
    ("tie_dates", d("2024-01-03"), Some(8.0), Some(13.5)),
    ("tie_dates", d("2024-01-03"), Some(7.0), Some(14.25)),
    // equal dates AND equal prices
    ("tie_all", d("2024-02-01"), Some(5.0), Some(6.0)),
    ("tie_all", d("2024-02-01"), Some(5.0), Some(6.0)),
    // NULL prices beside real ones on the boundary dates
    ("nulls", d("2024-03-01"), None, Some(1.0)),
    ("nulls", d("2024-03-01"), Some(3.0), None),
    ("nulls", d("2024-03-05"), Some(4.0), None),
    ("nulls", d("2024-03-05"), None, Some(2.5)),
    // every price NULL
    ("all_null", d("2024-04-01"), None, None),
    ("all_null", d("2024-04-02"), None, None)
  ).toDF("k", "date", "open", "close")
    .withColumn("time_period", lit("12_weeks"))
    .withColumn("change", coalesce(col("close"), lit(0.0)) - coalesce(col("open"), lit(0.0)))
    .withColumn("pct", col("change"))

  private def picks(df: DataFrame): Map[String, (Any, Any)] =
    df.collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap

  test("struct boundary picks equal the row_number first and last rows") {
    val kernel = MarketSummary.periodSummary(toy,
      keys = Seq("k", "time_period"), extras = Nil, lead = Seq("k", "time_period"),
      date = col("date"), open = col("open"), close = col("close"),
      change = col("change"), pct = col("pct"))
      .select(col("k"), col("period_start_price"), col("period_end_price"))

    val byGroup = Window.partitionBy(col("k"), col("time_period"))
    def firstBy(price: String, order: Column*) =
      toy.withColumn("rn", row_number().over(byGroup.orderBy(order: _*)))
        .filter(col("rn") === 1)
        .select(col("k"), col(price))
    val start = firstBy("open", col("date").asc, col("open").asc)
    val end   = firstBy("close", col("date").desc, col("close").desc)
    val ranked = start.join(end, "k")
      .select(col("k"), round(col("open"), 2), round(col("close"), 2))

    val got = picks(kernel)
    assert(got == picks(ranked))
    // spelled out: a NULL price ranks first ascending and last descending
    assert(got("tie_dates") == ((9.5, 14.25)))
    assert(got("tie_all") == ((5.0, 6.0)))
    assert(got("nulls") == ((null, 2.5)))
    assert(got("all_null") == ((null, null)))
  }
}
