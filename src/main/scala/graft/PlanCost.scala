package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Decompose each query's wall time into driver-side cost (building
  * the DataFrame + analysis/optimization/physical planning, i.e.
  * `queryExecution.executedPlan`) vs execution (the count job) —
  * guide §7.3: planning time itself can be the bottleneck, and it is
  * invisible in stage metrics. Emits one line per query:
  *
  *   PLANCOST <name> build=<s> plan=<s> exec=<s> total=<s>
  *
  * With `--plans <dir>` it also writes each query's formatted initial
  * (pre-execution, AQE) plan to `<dir>/<name>.txt`, outside the timed
  * spans: the before/after plan evidence of an optimization and the
  * input of bulk plan sweeps (exchanges, join strategies, pushed
  * filters and read schema per scan).
  *
  * Usage: runMain graft.PlanCost [--plans <dir>] [q1,q2,...]   (default: all)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanCost {
  def main(args: Array[String]): Unit = {
    val (plans, rest) = args.toList match {
      case "--plans" :: dir :: tail => (Some(dir), tail)
      case other => (None, other)
    }
    val only = rest.headOption.map(_.split(",").toSet)
    plans.foreach(dir => Files.createDirectories(Paths.get(dir)))
    val fleet = Fleet("plancost")
    fleet.warmUp()
    fleet.each(only, gc = true) { (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(fleet.spark, fleet.sfDir) // may itself run driver-side training
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan        // analysis + optimization + physical planning
      val t2 = System.nanoTime()
      plans.foreach(dir => Files.writeString(Paths.get(dir, s"$name.txt"), df.queryExecution.explainString(FormattedMode)))
      val t3 = System.nanoTime()
      df.count()                            // execution (incl. AQE re-planning)
      val t4 = System.nanoTime()
      val (build, plan, exec) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t4 - t3) / 1e9)
      println(f"PLANCOST $name build=$build%.3f plan=$plan%.3f exec=$exec%.3f total=${build + plan + exec}%.3f")
    }
    fleet.spark.stop()
  }
}
