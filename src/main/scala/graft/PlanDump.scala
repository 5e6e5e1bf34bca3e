package graft

import graft.runtime.GraftSession

/** Dump `.explain("formatted")` for declared queries to a directory —
  * the optimization round's before/after plan evidence
  * (plans/r10/<query>_{before,after}.txt) and the bulk anti-pattern
  * sweep input (count Exchanges, find join strategies, check
  * PushedFilters/ReadSchema per scan).
  *
  * Usage: runMain graft.PlanDump <outDir> [q1,q2,...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
  * Plans are captured WITHOUT executing the queries (initial AQE plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get(Some(s"local[$cpus]"), cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    println(s"[plandump] wrote ${names.size} plans to $outDir")
    spark.stop()
  }
}
