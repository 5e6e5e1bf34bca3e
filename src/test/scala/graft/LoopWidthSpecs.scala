package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.runtime.{GraftSession, LoopWidth}

/** Focused spec for the round-11 loop-width optimization: iterative
  * operators (PageRank / BFS / LPA / CC) derive their loop-internal
  * shuffle width from edge count instead of inheriting the session
  * width, capped AT the session width so cluster-scale plans are
  * unchanged. */
class LoopWidthSpecs extends AnyFunSuite {

  private lazy val spark = GraftSession.get(Some("local[2]"), 32)

  test("derive: small loops narrow, big loops capped at session width") {
    assert(LoopWidth.derive(spark, 1000L) == 2)                  // floor 2
    assert(LoopWidth.derive(spark, LoopWidth.RowsPerTask * 9) == 9)
    assert(LoopWidth.derive(spark, LoopWidth.RowsPerTask * 1000) == 32) // session cap
  }

  test("withWidth: sets inside the scope, restores after (even on throw)") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = LoopWidth.withWidth(spark, 5)(spark.conf.get(key))
    assert(inside == "5")
    assert(spark.conf.get(key) == before)
    intercept[RuntimeException] {
      LoopWidth.withWidth(spark, 5)(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(key) == before)
  }

  test("pageRank results identical across session widths (loop narrowing is width-invariant)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"),
      ("e", "a"), ("a", "e")).toDF("src", "dst")
    def run(w: Int): Map[String, Long] = LoopWidth.withWidth(spark, w) {
      graft.operators.GraphOps.pageRankScaled(edges, iterations = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(run(32) == run(2))
  }
}
