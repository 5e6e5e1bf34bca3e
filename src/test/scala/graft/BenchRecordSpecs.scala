package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{PriorMinima, priorMinima}

/** How `Bench` carries minima over from its prior record. */
class BenchRecordSpecs extends AnyFunSuite {

  // q_b failed every sample: it has a timing and a sample count but no minimum
  private val rec = """{"metric":"total","value":3.500,"unit":"sec","n":2,"code":"ab12","cpus":4,""" +
    """"queries":{"q_a":1.500,"q_b":2.000},"min":{"q_a":1.250},"runs":{"q_b":3},"dag_build":5.000,""" +
    """"dag_build_min":4.500,"dag":{"c_x":0.500},"dag_min":{"c_x":0.400,"c_y":-1.000},"sf":"/d/sf0.1"}""" + "\n"

  test("min, dag_min and dag_build_min merge only at the same code and cpus; runs never leaks in") {
    assert(priorMinima(rec, "ab12", "4") ==
      Some(PriorMinima(Map("q_a" -> 1.25), Map("c_x" -> 0.4, "c_y" -> -1.0), Some(4.5))))
    for ((code, cpus) <- Seq(("ff00", "4"), ("ab12", "8"), ("", "4")))
      assert(priorMinima(rec, code, cpus).isEmpty)
    assert(priorMinima(rec.replace("\"cpus\":4,", ""), "ab12", "4").isEmpty)
  }

  test("a missing or unreadable record gives empty maps") {
    for (txt <- Seq("", "not json", rec.take(rec.length / 2)))
      assert(priorMinima(txt, "ab12", "4").getOrElse(PriorMinima.empty) == PriorMinima.empty)
  }
}
