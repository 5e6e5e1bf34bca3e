package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.QueryMemos

/** Order-independent checksum over every output column plus the row
  * count. Unlike `count()`, which lets Catalyst prune every column, it
  * makes the engine compute each value the user would receive. */
object Checksum {
  /** Columns are renamed by position first, so duplicate or dotted
    * output names cannot make a reference ambiguous. Signed zeros are
    * folded (`-0.0 + 0.0 == 0.0`) and maps are hashed as key-sorted
    * entry arrays, since map hashing is not supported. */
  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val byPos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => normalize(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    byPos.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c + lit(0.0)
    case _: MapType             => array_sort(map_entries(c))
    case _                      => c
  }

  /** "<rows>:<sum of row hashes>" — the form stored in the goldens. */
  def value(cdf: DataFrame): (Long, String) = {
    val r = cdf.collect()(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    (r.getLong(0), s"${r.getLong(0)}:$s")
  }
}

/** One finished request. `phases` holds (phase name, seconds) in order. */
final case class Outcome(
    id: String,
    key: String,
    latencyS: Double,
    phases: Seq[(String, Double)],
    rows: Long,
    checksum: String,
    persisted: Int,
    gcS: Double,
    error: String) {
  def ok: Boolean = error.isEmpty
}

/** Runs requests one at a time: build (or guard), plan, then the
  * checksum action, each phase under its own job group
  * `<request id>/<phase>` and recorded as a span. Between requests it
  * drops every cache and training memo the request left behind, so each
  * request pays its full cost; that cleanup is outside the request's
  * latency. Without goldens (recording them) every checksum passes. */
final class Requests(spark: SparkSession, spans: Spans, goldens: Option[Map[String, String]], prefix: String = "r") {
  private val sc = spark.sparkContext
  private var seq = 0

  def run(key: String, firstPhase: String)(build: => DataFrame): Outcome = {
    seq += 1
    val id = f"$prefix$seq%05d"
    val before = sc.getPersistentRDDs.keySet
    val gc0 = Jvm.gcSeconds
    val phases = Seq.newBuilder[(String, Double)]
    def phase[A](name: String)(f: => A): A = {
      sc.setJobGroup(s"$id/$name", key)
      try {
        val (a, s) = spans.time(id, name, "request")(f)
        phases += name -> s
        a
      } finally sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    val (rows, sum, error) =
      try {
        val df  = phase(firstPhase)(build)
        val cdf = phase("plan") { val c = Checksum.frame(df); c.queryExecution.executedPlan; c }
        val (n, s) = phase("exec")(Checksum.value(cdf))
        val err = goldens.fold("") { g =>
          g.get(key) match {
            case None                => s"no golden for $key"
            case Some(w) if w != s   => s"checksum $s, golden $w"
            case _                   => ""
          }
        }
        (n, s, err)
      } catch { case NonFatal(e) => (-1L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    spans.all += Span(id, "request", "", t0, t1)
    val gcS = Jvm.gcSeconds - gc0
    val mine = sc.getPersistentRDDs.filter { case (rid, _) => !before.contains(rid) }
    mine.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    QueryMemos.clearTraining()
    if (sc.isStopped) throw new IllegalStateException(s"SparkContext stopped during $key: $error")
    val o = Outcome(id, key, (t1 - t0) / 1e9, phases.result(), rows, sum, mine.size, gcS,
      error.split('\n').head.take(300))
    System.err.println(f"[perfbench] $id ${o.latencyS}%7.3f s  $key  ${o.error}")
    o
  }
}
