package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.runtime.GraftSession

/** The fleet runner every main runs registry queries through
  * (`Verify`, `Bench`, `PlanCost`; `GenScale` takes only its session).
  * It owns what they share: the environment contract, the session,
  * query selection, the JIT warm-up, per-query cache hygiene and the
  * failure policy.
  *
  * Failure policy: a query that throws is logged as
  * `[<tag>] <name> FAILED: <message>` on stderr and the fleet goes on.
  * If the SparkContext has stopped, every later query would fail (or
  * "time") the same way, so the run exits 2 instead: a dead context
  * must never end as a normal, shorter run.
  *
  * @param exit how the run ends on a dead context; `sys.exit` in the
  *             mains, a throwing stub in the specs
  */
final class Fleet(
    val spark: SparkSession,
    val sfDir: String,
    tag: String,
    queries: Map[String, Fleet.Query] = SparkEntry.queries,
    exit: Int => Nothing = code => sys.exit(code)) {

  /** The registry queries in `only` (all when None), sorted by name. */
  def select(only: Option[Set[String]]): Seq[(String, Fleet.Query)] =
    queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.contains(n)) }

  /** Count each of `names` once, off the record, so the first measured
    * queries don't pay the JVM, codegen and parquet-footer warm-up. A
    * name missing from the registry is a registry bug: it is warned
    * about, not skipped silently. */
  def warmUp(names: Seq[String] = Fleet.WarmUp): Unit = names.foreach { q =>
    queries.get(q) match {
      case Some(fn) => run(q)(fn(spark, sfDir).count())
      case None => Console.err.println(s"[$tag] WARNING: warmup query $q not in registry; JIT warmup skipped")
    }
  }

  /** `body` over each selected query in name order, one [[run]] each. */
  def each(only: Option[Set[String]], gc: Boolean = false)(body: (String, Fleet.Query) => Unit): Unit =
    select(only).foreach { case (name, fn) => run(name, gc)(body(name, fn)) }

  /** One query's turn: the session's caches are cleared before and
    * after, so one query's cached frames can't leak into the next, and
    * with `gc` a full GC runs before the clock starts, so its garbage
    * can't either. Returns the seconds `body` took (a failed body's
    * time to die included) and its result, None when it threw. */
  def run[A](name: String, gc: Boolean = false)(body: => A): (Double, Option[A]) = {
    spark.catalog.clearCache()
    if (gc) System.gc()
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          Console.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
          if (spark.sparkContext.isStopped) {
            Console.err.println(s"[$tag] SparkContext is stopped; aborting")
            exit(2)
          }
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (dt, out)
  }
}

object Fleet {
  type Query = (SparkSession, String) => DataFrame

  /** Three shapes that stack the operators the alphabetically first
    * queries use: a star join, a window/lookback model, and an
    * object-hash-aggregate snapshot (collect_list/sort_array plus a
    * broadcast-nested-loop spine join). */
  val WarmUp: Seq[String] =
    Seq("q_join_star_region_revenue", "q_window_lag_returns", "q_fred_series_latest_aggregates_snapshot")

  /** `SPARK_GRAFT_CPUS`: the local core count (default 32, the stated
    * execution model). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `SPARK_GRAFT_SF_DIR`: the corpus the profiling mains read
    * (default sf0.1, the canonical scale). */
  def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The graft session on `local[cpus]`. */
  def session(shufflePartitions: Int = cpus.toInt): SparkSession =
    GraftSession.get(Some(s"local[$cpus]"), shufflePartitions)

  /** A runner over the registry on a fresh [[session]]. */
  def apply(tag: String, sfDir: String = envSfDir, shufflePartitions: Int = cpus.toInt): Fleet =
    new Fleet(session(shufflePartitions), sfDir, tag)
}
