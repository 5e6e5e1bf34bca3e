package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LayoutOps
import graft.runtime.GraftSession

/** Z-order layout: Morton interleave correctness vs an independent JVM
  * fold, exact fixed-point ranks, and the clustering property the
  * layout exists for (per-bucket spans ≪ global span on BOTH dims). */
class LayoutSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.get(Some("local[4]"), 4)

  override def afterAll(): Unit = spark.stop()

  test("zValue16 matches an independent JVM bit interleave") {
    import spark.implicits._
    def ref(a: Int, b: Int): Long =
      (0 until 16).map(i => (((a >> i) & 1).toLong << (2 * i + 1)) |
        (((b >> i) & 1).toLong << (2 * i))).sum
    val cases = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (1, 65535))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), LayoutOps.zValue16(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    cases.foreach { case (a, b) => assert(got((a, b)) == ref(a, b), s"z($a,$b)") }
    assert(ref(65535, 65535) == 4294967295L)
  }

  test("minMaxRank16: endpoints exact, interior matches BigInt floor division") {
    import spark.implicits._
    val lo = 17L; val hi = 987654L
    val xs = Seq(lo, hi, 500000L, 123456L, lo + 1)
    val got = xs.toDF("x")
      .select(col("x"), LayoutOps.minMaxRank16(col("x"), lit(lo), lit(hi)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    xs.foreach { x =>
      val expect = ((BigInt(x - lo) * 65535) / BigInt(hi - lo)).toInt
      assert(got(x) == expect, s"rank($x)")
    }
    assert(got(lo) == 0 && got(hi) == 65535)
  }

  test("session_window boundary: exactly-gap MERGES, gap+1us splits (oracle rule: diff > gap)") {
    import spark.implicits._
    // Spark merges event windows [ts, ts+gap) that overlap OR TOUCH:
    // an event EXACTLY 30:00 after the previous one continues the
    // session; one microsecond later starts a new one. The
    // q_sessionize_events / q_stream_sessionize / overlap oracles
    // replay this as `diff > gap` gaps-and-islands — this test pins
    // the boundary on both sides.
    val base = 1700000000000000L // epoch micros
    val gap  = 30L * 60 * 1000000
    val rows = Seq(
      (1L, base),
      (1L, base + gap),          // touches: merges
      (1L, base + 2 * gap + 1L)) // 1us past: new session
    val df = rows.toDF("user_id", "us")
      .select(col("user_id"), expr("timestamp_micros(us)").as("ts"))
    val sessions = df
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), "30 minutes"))
      .count()
      .collect()
    assert(sessions.length == 2, s"expected 2 sessions, got ${sessions.length}")
    assert(sessions.map(_.getAs[Long]("count")).sorted.toSeq == Seq(1L, 2L))
  }

  test("zorderAudit: per-bucket spans are narrow on BOTH dimensions") {
    import spark.implicits._
    val grid = for (a <- 0 until 128; b <- 0 until 128) yield (a.toLong, b.toLong)
    val audit = LayoutOps.zorderAudit(grid.toDF("x", "y"), "x", "y", 64)
      .collect()
    assert(audit.map(_.getAs[Long]("n_rows")).sum == 128L * 128L)
    // 64 equal-width z bins over a 128x128 grid: each bin covers a
    // 16x16-ish z tile, so every bucket's span on each dim must be
    // well under the global 0..127 span.
    audit.foreach { r =>
      val sa = r.getAs[Long]("x_max") - r.getAs[Long]("x_min")
      val sb = r.getAs[Long]("y_max") - r.getAs[Long]("y_min")
      assert(sa <= 40 && sb <= 40,
        s"bucket ${r.getAs[Long]("bucket")} spans x=$sa y=$sb — not clustered")
    }
  }
}
