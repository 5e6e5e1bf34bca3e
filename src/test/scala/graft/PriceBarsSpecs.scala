package graft

import java.nio.file.Files
import java.security.MessageDigest
import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.models.PriceBars
import graft.runtime.GraftSession

/** The synthetic price source: `PriceBars.daily` over `PriceBars.lines`
  * must pick open/close as the first/last line of each (symbol, date)
  * by the md5 of the line key, and aggregate high/low/volume, exactly as
  * a by-hand computation over the same lines does; and the one-pass
  * commodity fan-out must equal the per-universe frames unioned. */
class PriceBarsSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("price-bars").toString

  override def afterAll(): Unit = spark.stop()

  private def day(d: Int) = LocalDateTime.of(1996, 3, d, 0, 0)

  /** (orderkey, partkey, suppkey, linenumber, quantity, price, flag, ship day) */
  private val toy: Seq[(Long, Long, Long, Int, Double, Option[Double], String, Int)] = Seq(
    // tied prices on one (symbol, date): 10.0 twice, and quantities whose
    // double sum is inexact (0.1 + 0.2 + 0.4 is 0.7000000000000001)
    (1L, 11L, 21L, 1, 0.1, Some(10.0), "A", 1),
    (2L, 12L, 22L, 1, 0.2, Some(10.0), "A", 1),
    (3L, 13L, 23L, 2, 0.4, Some(7.5), "A", 1),
    (4L, 14L, 24L, 1, 1.0, Some(20.0), "A", 2),
    (5L, 15L, 25L, 3, 2.0, Some(20.0), "A", 2),
    // a NULL price: with two lines, it is the first or the last by key
    (10L, 20L, 30L, 1, 1.0, None, "N", 1),
    (11L, 21L, 31L, 1, 2.0, Some(9.0), "N", 1),
    // NULL prices among several lines
    (6L, 16L, 26L, 1, 4.0, None, "N", 2),
    (7L, 17L, 27L, 2, 1.0, Some(5.0), "N", 2),
    (8L, 18L, 28L, 1, 6.0, Some(8.0), "N", 2),
    (9L, 19L, 29L, 4, 1.5, None, "N", 2),
    // a one-line bucket
    (12L, 22L, 32L, 1, 7.0, Some(3.25), "R", 3))

  private lazy val lines = {
    toy.map { case (ok, pk, sk, ln, q, p, flag, d) => (ok, pk, sk, ln, q, p, 0.05, 0.02, flag, "O", day(d)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    PriceBars.lines(spark, dir)
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("daily bars equal a by-hand first/last by line key and a by-hand aggregate") {
    val got = PriceBars.daily(lines, Seq(PriceBars.Flags.col.as("symbol")))
      .select(col("symbol"), col("date").cast("string"), col("open"), col("high"), col("low"),
        col("close"), col("volume"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap

    val byHand = toy.groupBy { case (_, _, _, _, _, _, flag, d) => (flag, f"1996-03-$d%02d") }.map {
      case (k, rows) =>
        val byKey = rows.sortBy { case (ok, pk, sk, ln, _, _, _, _) => md5Hex(s"$ok|$ln|$pk|$sk") }
        val prices = rows.flatMap(_._6)
        val volume = rows.map(r => BigDecimal(r._5).setScale(6)).sum.toDouble
        def v(p: Option[Double]): Any = p.getOrElse(null)
        k -> Seq(v(byKey.head._6), v(prices.maxOption), v(prices.minOption), v(byKey.last._6), volume)
    }
    assert(got == byHand)
    // spelled out: the exact decimal volume, and the NULL price picked
    // as open or close of its two-line bucket
    assert(got(("A", "1996-03-01"))(4) == 0.7)
    assert(got(("N", "1996-03-01")).take(4).count(_ == null) == 1)
    assert(got(("R", "1996-03-03")) == Seq(3.25, 3.25, 3.25, 3.25, 7.0))
  }

  test("the one-pass commodity fan-out equals the per-universe bars unioned") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select("commodity_name", "commodity_unit", "date", "open", "high", "low", "close", "volume")
        .collect().toSeq.sortBy(_.mkString("|"))
    val fanned = rows(PriceBars.commodities(lines))
    val unioned = rows(PriceBars.Commodities.map(PriceBars.commodity(lines, _)).reduce(_ unionByName _))
    assert(fanned.nonEmpty)
    assert(fanned == unioned)
    assert(fanned.map(_.getString(1)).distinct.sorted == PriceBars.Commodities.map(_.unit).sorted)
  }
}
