package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.queries.Registry
import graft.runtime.SqlGuard

/** The request lists a workload draws from its seed. */
object Plan {
  /** Fleet: `fleet_pool.json` lists the pool sorted by cost. The seed
    * picks an offset u; request i runs the query at quantile
    * frac(u + i / golden ratio) of the pool. Any run of consecutive
    * requests is spread evenly over the cost range, so runs with
    * different seeds (different queries) see the same cost mix, and
    * across seeds every pool query gets drawn. */
  def fleet(ctx: Ctx, seed: Long): Iterator[String] = {
    implicit val fmt: Formats = DefaultFormats
    val pool = (ctx.readJson(new File(ctx.bench, "fleet_pool.json")) \ "pool").extract[IndexedSeq[String]]
    val u = new SplittableRandom(seed).nextDouble()
    val step = (math.sqrt(5) - 1) / 2
    Iterator.from(0).map(i => pool(((u + i * step) % 1.0 * pool.size).toInt))
  }

  /** Marts: the read keys of the marts goldens, grouped by template. Reads
    * cycle through the templates, starting at a seed-drawn one, so every
    * stretch of reads has the same mix of lookups, scans, top-k and joins;
    * the seed draws each read's parameters. */
  def reads(martGoldens: Map[String, String], seed: Long): Iterator[String] = {
    val byTemplate = martGoldens.keys.filterNot(_.startsWith("mart:")).toIndexedSeq.sorted
      .groupBy(_.takeWhile(_ != '|')).toIndexedSeq.sortBy(_._1).map(_._2)
    val rnd = new SplittableRandom(seed)
    val start = rnd.nextInt(byTemplate.size)
    Iterator.from(start).map { i =>
      val keys = byTemplate(i % byTemplate.size)
      keys(rnd.nextInt(keys.size))
    }
  }
}

/** One measured run of a workload: set-up (repeated), then `seconds` of
  * measurement with one client in a closed loop, then the report. Fleet:
  * queries for `seconds`, then one mart refresh. Marts: one refresh, then
  * reads over the fresh marts until `seconds` have passed. */
object Run {
  /** Fleet requests run, unmeasured, between set-up and the window. */
  val WarmRequests = 3
  private val MB = 1024.0 * 1024.0

  final case class Refresh(id: String, seconds: Double, models: Seq[(String, Double)], bytes: Long, bad: Seq[String])

  def apply(ctx: Ctx, w: Main.Workload, seed: Long, seconds: Double, trace: Boolean, traceOut: File): Unit = {
    val load0 = Jvm.loadAverage
    val spans = new Spans
    val probe = if (trace) Some(new Probe) else None
    val dir = ctx.dataDir(w.sf)
    val martGold = ctx.goldens(s"marts_${w.sf}.json")
    val goldens = ctx.goldens(s"fleet_${w.sf}.json") ++ martGold

    // ---- set-up: session, compaction, warm-up; repeated, median reported
    val setupS = ArrayBuffer.empty[Double]
    val compactionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 1 to Main.SetupRounds) {
      val t0 =
        if (round == 1) System.nanoTime() - (System.currentTimeMillis() - Jvm.startMillis) * 1000000L
        else {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          System.nanoTime()
        }
      spark = ctx.session()
      probe.foreach(spark.sparkContext.addSparkListener)
      compactionS += spans.time(s"setup$round", "compaction", "setup")(ctx.compact(spark, w.sf))._2
      val warm = new Requests(spark, spans, None, s"setup$round-")
      Main.Warmup.foreach(q => warm.run(q, "build")(Registry.byName(q).query(spark, dir)))
      val t1 = System.nanoTime()
      spans.all += Span(s"setup$round", "setup", "", t0, t1)
      setupS += (t1 - t0) / 1e9
    }
    val sc = spark.sparkContext

    // ---- mart refresh: ModelRegistry.run into a fresh warehouse, then
    // every mart's checksum is compared with its golden (unmeasured)
    def refresh(): Refresh = {
      val id = "refresh"
      val starts = ArrayBuffer.empty[(String, Long)]
      val reg = Marts.registry(spark, dir, m => {
        starts += m -> System.nanoTime()
        sc.setJobGroup(s"$id/$m", m)
      })
      val wh = new File(ctx.runDir, "warehouse")
      val (res, secs) =
        try spans.time(id, "refresh")(reg.run(spark, wh.getPath))
        finally sc.clearJobGroup()
      val end = spans.all.last.endNs
      val models = starts.indices.map { i =>
        val (m, s) = starts(i)
        val e = if (i + 1 < starts.size) starts(i + 1)._2 else end
        spans.all += Span(id, s"model:$m", "refresh", s, e)
        m -> (e - s) / 1e9
      }
      Marts.expose(res.frames)
      val bad = res.frames.toSeq.flatMap { case (m, df) =>
        val got = scala.util.Try(Checksum.value(Checksum.frame(df))._2).getOrElse("error")
        if (martGold.get(s"mart:$m").contains(got)) None else Some(s"$m: $got")
      }
      Refresh(id, secs, models, Ctx.bytesUnder(wh), bad)
    }

    // ---- measured window: the fleet refreshes after its requests, the
    // marts workload before its reads
    val reqs = new Requests(spark, spans, Some(goldens))
    val outs = ArrayBuffer.empty[Outcome]
    val warmed = ArrayBuffer.empty[Outcome] // checked, but not timed
    /** Runs requests until `seconds` after `windowStart`; returns the
      * seconds spent serving them. */
    def serve(windowStart: Long)(next: () => Outcome): Double = {
      val t0 = System.nanoTime()
      val deadline = windowStart + (seconds * 1e9).toLong
      do outs += next() while (System.nanoTime() < deadline)
      (System.nanoTime() - t0) / 1e9
    }
    val (servedS, mart) =
      if (!w.marts) {
        val queries = Plan.fleet(ctx, seed)
        // The young JVM's first requests pay JIT warm-up of whole operator
        // families and were the slowest of a run, whatever they ran; they
        // run before the window and are not measured.
        val warm = new Requests(spark, spans, Some(goldens), "warm-")
        for (_ <- 1 to WarmRequests) {
          val q = queries.next()
          warmed += warm.run(q, "build")(Registry.byName(q).query(spark, dir))
        }
        val s = serve(System.nanoTime()) { () =>
          val q = queries.next()
          reqs.run(q, "build")(Registry.byName(q).query(spark, dir))
        }
        (s, refresh())
      } else {
        val windowStart = System.nanoTime()
        val r = refresh()
        val keys = Plan.reads(martGold, seed)
        (serve(windowStart) { () =>
          val k = keys.next()
          reqs.run(k, "guard")(SqlGuard.readOnly(spark, Marts.sql(k)))
        }, r)
      }
    val load1 = Jvm.loadAverage

    // ---- report
    val lat = outs.map(_.latencyS).sorted
    val failedReqs = (warmed ++ outs).filterNot(_.ok)
    val attempted = warmed.size + outs.size + Marts.names.size
    val failed = failedReqs.size + mart.bad.size
    failedReqs.foreach(o => System.err.println(s"[perfbench] FAILED ${o.key}: ${o.error}"))
    mart.bad.foreach(b => System.err.println(s"[perfbench] FAILED mart $b"))
    val errorRate = failed.toDouble / attempted

    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("latency_p50_s", Stats.median(lat.toSeq), "s"),
      ("latency_p90_s", Stats.nearestRank(lat.toSeq, 0.9), "s"),
      ("requests_per_s", outs.size / servedS, "1/s"),
      ("success_rate", 1.0 - errorRate, "ratio"),
      ("refresh_s", mart.seconds, "s"),
      ("warehouse_mb", mart.bytes / MB, "MB"),
      ("peak_rss_mb", Jvm.peakRssMb, "MB"))

    val perLayer = probe.map { p =>
      p.drain(sc)
      def mean(f: Outcome => Double): Double = outs.map(f).sum / outs.size
      def phase(o: Outcome, n: String): Double = o.phases.collectFirst { case (`n`, s) => s }.getOrElse(0.0)
      def exec(o: Outcome) = p.counts(s"${o.id}/exec")
      def all(o: Outcome) = p.counts(s"${o.id}/")
      val execS = mean(phase(_, "exec"))
      val taskRunS = mean(exec(_).taskRunMs / 1e3)
      val rowsOut = outs.map(_.rows.max(0L)).sum
      Seq(
        ("build_s", mean(phase(_, "build")), "s"),
        ("build_jobs", mean(o => p.counts(s"${o.id}/build").jobs.toDouble), "count"),
        ("plan_s", mean(phase(_, "plan")), "s"),
        ("guard_s", mean(phase(_, "guard")), "s"),
        ("exec_s", execS, "s"),
        ("jobs", mean(exec(_).jobs.toDouble), "count"),
        ("stages", mean(exec(_).stages.toDouble), "count"),
        ("tasks", mean(exec(_).tasks.toDouble), "count"),
        ("task_overhead_s", mean(o => (exec(o).taskDurationMs - exec(o).taskRunMs) / 1e3), "s"),
        ("task_run_s", taskRunS, "s"),
        ("task_cpu_s", mean(exec(_).taskCpuNs / 1e9), "s"),
        ("core_busy_frac", taskRunS / (execS * ctx.cores), "ratio"),
        ("shuffle_read_mb", mean(all(_).shuffleReadBytes / MB), "MB"),
        ("shuffle_write_mb", mean(all(_).shuffleWriteBytes / MB), "MB"),
        ("spill_mb", mean(all(_).spillBytes / MB), "MB"),
        ("input_mb", mean(all(_).inputBytes / MB), "MB"),
        ("input_rows", mean(all(_).inputRows.toDouble), "count"),
        ("rows_read_per_row_out", outs.map(all(_).inputRows).sum.toDouble / rowsOut.max(1L), "ratio"),
        ("persisted_rdds", mean(_.persisted.toDouble), "count"),
        ("gc_s", mean(_.gcS), "s"),
        ("compaction_s", Stats.median(compactionS.toSeq), "s"),
        ("output_mb", p.counts(s"${mart.id}/").outputBytes / MB, "MB"),
        ("traced_latency_p50_s", Stats.median(lat.toSeq), "s"),
        ("phase_gap_frac", outs.map(o => 1.0 - o.phases.map(_._2).sum / o.latencyS).max, "ratio")) ++
        mart.models.map { case (m, s) => (s"refresh_model_s.$m", s, "s") }
    }.getOrElse(Nil)

    val host =
      s"""{"workload": ${Ctx.jstr(w.name)}, "seed": $seed, "nproc": ${ctx.cores}, "spark": ${Ctx.jstr(spark.version)}, """ +
      s""""commit": ${Ctx.jstr(sys.props.getOrElse("perfbench.commit", "unknown"))}, "load1_before": $load0, "load1_after": $load1, """ +
      s""""requests": ${outs.size}, "error_rate": $errorRate, "trace": $trace}"""
    if (trace) writeTrace(traceOut, host, spans, outs.toSeq, perLayer)
    spark.stop()

    def fmt(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s"${Ctx.jstr(n)}: {\"value\": $v, \"unit\": ${Ctx.jstr(u)}}" }.mkString("{", ", ", "}")
    println(s"host $host")
    (endToEnd ++ perLayer :+ (("error_rate", errorRate, "ratio"))).foreach { case (n, v, u) =>
      println(f"metric $n%-40s $v%.6f $u")
    }
    val reported = if (trace) perLayer else endToEnd
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${fmt(reported)}}""")
  }

  private def writeTrace(f: File, host: String, spans: Spans, outs: Seq[Outcome],
                         perLayer: Seq[(String, Double, String)]): Unit = {
    val t0 = spans.all.map(_.startNs).min
    val lines = ArrayBuffer(s"""{"type": "host", "host": $host}""")
    spans.all.foreach { s =>
      lines += s"""{"type": "span", "request": ${Ctx.jstr(s.request)}, "name": ${Ctx.jstr(s.name)}, "parent": ${Ctx.jstr(s.parent)}, "start_s": ${(s.startNs - t0) / 1e9}, "end_s": ${(s.endNs - t0) / 1e9}}"""
    }
    outs.foreach { o =>
      lines += s"""{"type": "request", "id": ${Ctx.jstr(o.id)}, "key": ${Ctx.jstr(o.key)}, "latency_s": ${o.latencyS}, "rows": ${o.rows}, "error": ${Ctx.jstr(o.error)}}"""
    }
    perLayer.foreach { case (n, v, u) =>
      lines += s"""{"type": "metric", "name": ${Ctx.jstr(n)}, "value": $v, "unit": ${Ctx.jstr(u)}}"""
    }
    Ctx.write(f, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Smallest sample with at least fraction `q` of the samples at or below it. */
  def nearestRank(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
}
