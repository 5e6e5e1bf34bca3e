package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.MILLISECONDS

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, GraphOps}
import graft.runtime.{GraftSession, Loop}

/** Focused spec for the loop runner ([[Loop]]) behind the iterative
  * operators (PageRank / BFS / LPA / CC): loop-internal shuffle width
  * derived from edge count instead of inheriting the session width,
  * capped AT the session width so cluster-scale plans are unchanged; a
  * width scope that survives concurrent use; loops that release what
  * they persist. */
class LoopWidthSpecs extends AnyFunSuite {

  private lazy val spark = GraftSession.get(Some("local[2]"), 32)

  test("derive: small loops narrow, big loops capped at session width") {
    assert(Loop.derive(spark, 1000L) == 2)                  // floor 2
    assert(Loop.derive(spark, Loop.RowsPerTask * 9) == 9)
    assert(Loop.derive(spark, Loop.RowsPerTask * 1000) == 32) // session cap
  }

  test("withWidth: sets inside the scope, restores after (even on throw)") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = Loop.withWidth(spark, 5)(spark.conf.get(key))
    assert(inside == "5")
    assert(spark.conf.get(key) == before)
    intercept[RuntimeException] {
      Loop.withWidth(spark, 5)(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(key) == before)
  }

  test("pageRank results identical across session widths (loop narrowing is width-invariant)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"),
      ("e", "a"), ("a", "e")).toDF("src", "dst")
    def run(w: Int): Map[String, Long] = Loop.withWidth(spark, w) {
      graft.operators.GraphOps.pageRankScaled(edges, iterations = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(run(32) == run(2))
  }

  test("withWidth: two concurrent scopes leave the session width as it was") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val aIn, bIn, aOut = new CountDownLatch(1)
    // Unserialized, this interleaving is: A sets 2, B sets 3 (prior 2),
    // A restores `before`, B restores 2 — the session stays at 2. The
    // waits are bounded, so a serialized scope cannot deadlock them.
    val a = new Thread(() => {
      Loop.withWidth(spark, 2) { aIn.countDown(); bIn.await(1000, MILLISECONDS) }
      aOut.countDown()
    })
    val b = new Thread(() => {
      aIn.await(10000, MILLISECONDS)
      Loop.withWidth(spark, 3) { bIn.countDown(); aOut.await(10000, MILLISECONDS) }
    })
    a.start(); b.start()
    a.join(30000); b.join(30000)
    assert(!a.isAlive && !b.isAlive)
    assert(spark.conf.get(key) == before)
  }

  test("each loop operator leaves at most its result's checkpoint persisted") {
    import spark.implicits._
    val directed = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("a", "d")).toDF("src", "dst")
    // a 41-node chain: CC needs several rounds, each one checkpoint
    val pairs = ((1L to 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (102L, 101L))).toDF("a", "b")
    val ops: Seq[(String, () => Long)] = Seq(
      "pageRankScaled" -> (() => GraphOps.pageRankScaled(directed, iterations = 3).count()),
      "labelPropagation" -> (() => GraphOps.labelPropagation(pairs, "a", "b", iterations = 3).count()),
      "boundedBfs" -> (() => GraphOps.boundedBfs(directed, "a", maxHops = 3).count()),
      "connectedComponents" -> (() => DedupOps.connectedComponentsWithRounds(pairs, "a", "b")._1.count()))
    // Hold every RDD persisted while an operator runs, so the
    // ContextCleaner cannot drop a leaked one at GC before it is seen.
    val sc = spark.sparkContext
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val holder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(holder)
    try ops.foreach { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet
      assert(run() > 0)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size <= 1, s"$name left ${added.size} persisted RDDs")
    } finally { sc.removeSparkListener(holder); held.clear() }
  }
}
