package graft
import graft.runtime.GraftSession
import java.nio.file.{Files, Paths}
import org.json4s.JsonAST.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get(Some(s"local[$cpus]"), cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // Local-dev subset filter (comma-separated names); driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce would collapse the
      // whole final stage (windows included) into one task; the extra
      // single-file shuffle keeps the compute parallel and the driver's
      // hash compare is order-insensitive.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A dead context makes every later query fail the same way;
        // the dump is incomplete, so abort loudly instead of exiting 0.
        if (spark.sparkContext.isStopped) {
          System.err.println("[verify] SparkContext is stopped — aborting")
          sys.exit(2)
        }
      }
      finally spark.catalog.clearCache() // per-query caches must not leak
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
