package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{DagLane, Outcome, PriorMinima, priorMinima, recordJson, summaryLine}
import graft.queries.Registry

/** How `Bench` writes its record and stdout line, and carries minima
  * over from its prior record. */
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

  test("a written record reads back through priorMinima to the same minima") {
    val outcome = Outcome("ab12", "4", None, Nil, Seq("q_a" -> 1.5, "q_b" -> 2.0),
      Seq("q_a" -> 1.25), Seq("q_b" -> 3),
      Some(DagLane(5.0, 4.5, Seq("c_x" -> 0.5), Seq("c_x" -> 0.4, "c_y" -> -1.0))), "/d/sf0.1")
    val written = recordJson(outcome) + "\n"
    assert(written == rec, "same keys, order and 3-decimal timings as the record format")
    assert(priorMinima(written, "ab12", "4") ==
      Some(PriorMinima(Map("q_a" -> 1.25), Map("c_x" -> 0.4, "c_y" -> -1.0), Some(4.5))))
  }

  test("the stdout line for a full-fleet result stays under 1500 chars with at most 15 queries") {
    val names = Registry.all.map(_.name)
    assert(names.size == 319)
    val times = names.zipWithIndex.map { case (n, i) => n -> (1000.0 + i * 0.137) }
    val consumers = names.sortBy(-_.length).take(10)
    val outcome = Outcome("0123456789abcdef0123456789abcdef", "32", Some("scale"), Nil, times, times,
      times.take(60).map(_._1 -> 3), Some(DagLane(123.456, 98.765, consumers.map(_ -> 12.345),
        consumers.map(_ -> 11.111))), "/data/testdata/sf0.1")
    val line = summaryLine(outcome, "BENCH_FULL_scale_sf0.1_c32.json", withMinTotal = true)
    assert(line.length < 1500, s"${line.length} chars: $line")
    val JObject(shown) = JsonMethods.parse(line) \ "queries": @unchecked
    assert(shown.nonEmpty && shown.size <= 15)
    assert(shown.map(_._1) == times.sortBy(-_._2).take(shown.size).map(_._1))
    assert(JsonMethods.parse(line) \ "top_slowest" == JInt(shown.size))
  }
}
