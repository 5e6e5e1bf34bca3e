package graft

import java.io.ByteArrayOutputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.runtime.GraftSession

/** Specs for the fleet runner every main runs queries through: the
  * warm-up, per-query failure logging and the exit on a dead context.
  * The runner's exit is stubbed with a throw, so the exit-2 path ends
  * the loop without ending the test JVM. */
class FleetSpecs extends AnyFunSuite with BeforeAndAfterAll {
  import FleetSpecs.Exited

  private lazy val spark = GraftSession.get(Some("local[2]"), 4)

  override def afterAll(): Unit = spark.stop()

  private def fleet(queries: (String, SparkSession => DataFrame)*): Fleet =
    new Fleet(spark, "no-corpus", "spec",
      queries.map { case (n, f) => n -> ((s: SparkSession, _: String) => f(s)) }.toMap,
      code => throw Exited(code))

  /** What `body` writes to `Console.err`. */
  private def stderrOf(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withErr(buf)(body)
    buf.toString("UTF-8")
  }

  test("warmUp counts the registered names and warns about a missing one") {
    val counted = mutable.Buffer.empty[String]
    val f = fleet("q_warm" -> { s => counted += "q_warm"; s.range(3).toDF() })
    val log = stderrOf(f.warmUp(Seq("q_warm", "q_not_registered")))
    assert(counted == Seq("q_warm"))
    assert(log.contains("[spec] WARNING: warmup query q_not_registered not in registry"), log)
  }

  test("a failing query is logged and the fleet goes on; a stopped SparkContext ends it with exit 2") {
    // last in the suite: it stops the suite's session
    val done = mutable.Buffer.empty[String]
    val f = fleet(
      "q_a_ok" -> (s => s.range(5).toDF()),
      "q_b_throws" -> (_ => throw new IllegalStateException("boom")),
      "q_c_stops" -> { s => s.sparkContext.stop(); s.range(1).toDF() },
      "q_d_unreached" -> (s => s.range(1).toDF()))
    var exited: Option[Int] = None
    val log = stderrOf {
      exited = Some(intercept[Exited](f.each(None)((name, fn) => { fn(spark, f.sfDir).count(); done += name })).code)
    }
    assert(exited.contains(2))
    assert(done == Seq("q_a_ok"), "the loop must go on after q_b_throws and end at q_c_stops")
    assert(log.contains("[spec] q_b_throws FAILED: boom"), log)
    assert(log.contains("[spec] q_c_stops FAILED: "), log)
    assert(log.contains("[spec] SparkContext is stopped; aborting"), log)
    assert(!log.contains("q_d_unreached"), log)
    val fresh = GraftSession.get(Some("local[2]"), 4)
    try {
      assert((fresh ne spark) && !fresh.sparkContext.isStopped)
      assert(fresh.range(3).count() == 3L)
    } finally fresh.stop()
  }
}

object FleetSpecs {
  private final case class Exited(code: Int) extends RuntimeException(s"exit $code")
}
