package graft
import java.nio.file.{Files, Paths}
import org.json4s.JsonAST.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val fleet = Fleet("verify", sfDir)
    new java.io.File(outDir).mkdirs()
    // Local-dev subset filter (comma-separated names); driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // repartition(1), not coalesce(1): coalesce would collapse the
    // whole final stage (windows included) into one task; the extra
    // single-file shuffle keeps the compute parallel and the driver's
    // hash compare is order-insensitive.
    fleet.each(only) { (name, fn) =>
      fn(fleet.spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    fleet.spark.stop()
  }
}
