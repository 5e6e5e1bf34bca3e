package graft

import graft.runtime.GraftSession

/** Decompose each query's wall time into driver-side cost (building
  * the DataFrame + analysis/optimization/physical planning, i.e.
  * `queryExecution.executedPlan`) vs execution (the count job) —
  * guide §7.3: planning time itself can be the bottleneck, and it is
  * invisible in stage metrics. Emits one line per query:
  *
  *   PLANCOST <name> build=<s> plan=<s> exec=<s> total=<s>
  *
  * Usage: runMain graft.PlanCost [q1,q2,...]   (default: all)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanCost {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get(Some(s"local[$cpus]"), cpus.toInt)
    // same warmup as Bench so JIT noise doesn't land on the first rows
    Seq("q_join_star_region_revenue", "q_window_lag_returns",
        "q_fred_series_latest_aggregates_snapshot").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    names.foreach { case (name, fn) =>
      spark.catalog.clearCache(); System.gc()
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)            // may itself run driver-side training
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan       // analysis + optimization + physical planning
        val t2 = System.nanoTime()
        df.count()                           // execution (incl. AQE re-planning)
        val t3 = System.nanoTime()
        println(f"PLANCOST $name build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f total=${(t3 - t0) / 1e9}%.3f")
      } catch {
        case e: Throwable => println(s"PLANCOST $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
