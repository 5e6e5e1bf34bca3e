package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.queries.Registry
import graft.runtime.Tables

/** The benchmark's JVM side. `run.py` builds this together with the
  * program and starts it; see BENCHMARK.json for the workloads and
  * metrics.
  *
  *   --mode run     --workload W --seed N --seconds S --trace 0|1
  *   --mode record  --sf sf0.001|sf0.1 --out F [--order-seed N] [--only q1,q2,...]
  *   --mode record-marts --sf sf0.001|sf0.1 --out F
  *   --mode requests --workload W --seed N --count N
  *
  * Common: --bench <benchmark dir> --run-dir <private scratch dir>
  *         --cores N [--trace-out F] [--goldens-dir D]
  */
object Main {

  final case class Workload(name: String, sf: String, marts: Boolean)

  val workloads: Seq[Workload] = Seq(
    Workload("fleet_sf0.001", "sf0.001", marts = false),
    Workload("fleet_sf0.1", "sf0.1", marts = false),
    Workload("marts_sf0.1", "sf0.1", marts = true))

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupRounds = 3

  /** Registry queries run unmeasured at the end of each set-up, so the
    * first timed requests do not pay JIT and codegen warm-up. */
  val Warmup = Seq("q_window_lag_returns")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val bench  = new File(arg("bench"))
    val runDir = new File(arg("run-dir"))
    val cores  = arg("cores").toInt
    val ctx = new Ctx(bench, runDir, cores, a.get("goldens-dir").map(new File(_)))
    arg("mode") match {
      case "run" =>
        val w = workloads.find(_.name == arg("workload"))
          .getOrElse(throw new IllegalArgumentException(s"unknown workload ${arg("workload")}"))
        Run(ctx, w, arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
          new File(a.getOrElse("trace-out", new File(runDir, "trace.jsonl").getPath)))
      case "record" =>
        Record(ctx, arg("sf"), new File(arg("out")), a.get("order-seed").map(_.toLong),
          a.get("only").map(_.split(',').toSet))
      case "record-marts" =>
        Record.marts(ctx, arg("sf"), new File(arg("out")))
      case "requests" =>
        val keys = arg("workload") match {
          case "marts_sf0.1" => Plan.reads(ctx.goldens("marts_sf0.1.json"), arg("seed").toLong)
          case _             => Plan.fleet(ctx, arg("seed").toLong)
        }
        keys.take(arg("count").toInt).foreach(println)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }
}

/** Paths and session construction shared by every mode. */
final class Ctx(val bench: File, val runDir: File, val cores: Int, goldensOverride: Option[File]) {
  def dataDir(sf: String): String = new File(bench, s"data/$sf").getCanonicalPath

  def goldensFile(name: String): File = new File(goldensOverride.getOrElse(new File(bench, "goldens")), name)

  def readJson(f: File): JValue = JsonMethods.parse(new String(Files.readAllBytes(f.toPath), UTF_8))

  /** Goldens file: {"<key>": "<rows>:<hash sum>", ...}. */
  def goldens(name: String): Map[String, String] = {
    implicit val fmt: Formats = DefaultFormats
    readJson(goldensFile(name)).extract[Map[String, String]]
  }

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  /** Same conf as the oracle-checked `graft.Verify` (ANSI at Spark's
    * default), on local[cores] with one shuffle partition per core;
    * scratch and warehouse directories live in this run's private dir. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    catch { case scala.util.control.NonFatal(_) => () }
    s
  }

  /** Touch the fact tables so `Tables` compacts them now, inside set-up.
    * Its scratch copies live under this JVM's private `java.io.tmpdir`;
    * they are removed first so every set-up round pays the compaction. */
  def compact(spark: SparkSession, sf: String): Unit = {
    Ctx.deleteChildren(new File(tmp, "graft-compact"))
    val t = Tables(spark, dataDir(sf))
    t.lineitem; t.orders; t.events
  }
}

object Ctx {
  def deleteChildren(d: File): Unit = Option(d.listFiles()).foreach(_.foreach(deleteTree))

  def deleteTree(f: File): Unit = { deleteChildren(f); f.delete(): Unit }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(UTF_8)): Unit
  }

  def jstr(s: String): String = JsonMethods.compact(JsonMethods.render(JString(s)))
}

/** Records the checksum of every registry query on one corpus (or of the
  * `only` ones) with its phase times, one JSON object per query. */
object Record {
  def apply(ctx: Ctx, sf: String, out: File, orderSeed: Option[Long], only: Option[Set[String]]): Unit = {
    val spark = ctx.session()
    ctx.compact(spark, sf)
    val spans = new Spans
    val req = new Requests(spark, spans, None)
    val dir = ctx.dataDir(sf)
    val all = Registry.all.filter(q => only.forall(_.contains(q.name)))
    val defs = orderSeed.fold(all)(s => new Random(s).shuffle(all))
    val lines = defs.map { q =>
      val o = req.run(q.name, "build")(q.query(spark, dir))
      val ph = o.phases.map { case (k, v) => s"${Ctx.jstr(k + "_s")}: $v" }.mkString(", ")
      s"""{"name": ${Ctx.jstr(q.name)}, "checksum": ${Ctx.jstr(o.checksum)}, "latency_s": ${o.latencyS}, $ph, "error": ${Ctx.jstr(o.error)}}"""
    }
    Ctx.write(out, lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Records the marts goldens: the checksum of every materialized mart
    * ("mart:<name>") and of every read key over them, each read run
    * twice so a read whose result varies is caught here. Needs the fleet
    * goldens of the same corpus. */
  def marts(ctx: Ctx, sf: String, out: File): Unit = {
    val spark = ctx.session()
    ctx.compact(spark, sf)
    val dir = ctx.dataDir(sf)
    val res = Marts.registry(spark, dir, _ => ()).run(spark, new File(ctx.runDir, "warehouse/record").getPath)
    Marts.expose(res.frames)
    val marts = Marts.names.map(m => s"mart:$m" -> Checksum.value(Checksum.frame(res.frames(m)))._2)
    // A Table-tier mart is its query's output after a parquet round trip,
    // so it must carry that query's fleet golden.
    val fleet = ctx.goldens(s"fleet_$sf.json")
    Marts.sources.foreach { case (m, q) =>
      require(fleet.get(q).exists(g => marts.contains(s"mart:$m" -> g)),
        s"mart $m does not match the golden of its query $q")
    }
    val req = new Requests(spark, new Spans, None)
    val reads = Marts.domain(spark).map { k =>
      val Seq(a, b) = Seq.fill(2)(req.run(k, "guard")(graft.runtime.SqlGuard.readOnly(spark, Marts.sql(k))))
      require(a.ok && a.checksum == b.checksum, s"read $k: ${a.checksum} ${a.error} / ${b.checksum} ${b.error}")
      k -> a.checksum
    }
    val body = (marts ++ reads).map { case (k, v) => s"  ${Ctx.jstr(k)}: ${Ctx.jstr(v)}" }
    Ctx.write(out, body.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
