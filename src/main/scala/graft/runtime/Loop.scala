package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The one fixed-point loop runner behind the iterative operators
  * (PageRank, LPA, BFS, connected components): width derivation, the
  * keyed edge cache, per-round truncation, release of superseded
  * rounds and the width scope live here and nowhere else.
  *
  * Width (guide §2.2/§2.4). An iterative operator pays its shuffle
  * fixed costs once per ROUND: at session width W every round launches
  * W tasks per stage across 3–4 stages, so a small graph spends its
  * wall-clock on task launch and stage bookkeeping, not compute.
  * Measured at sf0.1 local[32] (min of 3): q_pagerank_trade 7.6 s at
  * 32 loop partitions vs 4.5 s at 4–8; q_bfs_hops_trade 4.8 → 3.0;
  * LPA 5.3 → 2.8 — and the SAME penalty at local[8] with 32 partitions
  * (8.2 s pagerank), proving the cost is per-task scheduling × rounds,
  * not thread contention. [[derive]] sizes loop-internal shuffles by
  * DATA (edge rows), capped at the session width: once
  * rows/RowsPerTask exceeds the configured width the loop runs at
  * exactly the session width, so cluster-scale plans are unchanged.
  *
  * Truncation ([[rounds]]). Each round is an EAGER `localCheckpoint`,
  * not just a cache: an iterative DataFrame's logical plan otherwise
  * grows one round deeper every iteration and re-analysis/AQE
  * re-optimization of the accumulated plan comes to dominate
  * wall-clock (measured: per-round cost climbing 0.5→7 s by round 8
  * with plain cache, flat ~0.5 s with checkpoint; a 10-round CC loop
  * un-truncated spins minutes in the analyzer). A superseded round is
  * dropped at once instead of letting executor storage grow by one
  * block set per round until ContextCleaner GC (ADVICE r6).
  * localCheckpoint stores blocks on executors — right for local mode
  * and static clusters; where executor loss must be survivable, swap
  * in reliable `checkpoint` against a checkpoint dir.
  */
object Loop {

  /** Loop rows per task. The measured plateau at sf0.1 spans 4–16
    * partitions for the 1.17 M-row trade-graph edge frame (A/B:
    * pagerank 4.5 s at 4–8 parts vs 7.6 s at 32; bfs 3.0–3.3 vs
    * 4.8; LPA 2.8–3.1 vs 5.3); 128 Ki rows/task lands mid-plateau and
    * keeps per-task compute (μs/row joins and aggregations) well above
    * the ~ms task fixed cost. */
  val RowsPerTask = 131072L

  private val WidthKey = "spark.sql.shuffle.partitions"

  private def sessionWidth(spark: SparkSession): Int = spark.conf.get(WidthKey, "200").toInt

  /** Width for a loop whose per-round frames carry `rows` rows:
    * ceil(rows / RowsPerTask) clamped to [2, session shuffle width]. */
  def derive(spark: SparkSession, rows: Long): Int = {
    val byData = math.ceil(rows.toDouble / RowsPerTask).toLong
    math.max(2L, math.min(sessionWidth(spark).toLong, byData)).toInt
  }

  /** Persist `df` hash-partitioned on `key` (the rounds' join key, so
    * no round re-exchanges the |E| side) and materialize it before any
    * round is planned: an unexecuted AQE cache reports unknown output
    * partitioning, so round 1 would re-exchange it. Below the session
    * width it is re-keyed once to the derived width (a reshuffle of
    * cached rows, only paid when the data is small). Returns the frame,
    * which the caller unpersists, and the loop width. */
  def keyed(df: DataFrame, key: String): (DataFrame, Int) = {
    val spark = df.sparkSession
    val wide = df.repartition(col(key)).persist()
    val width = derive(spark, wide.count())
    if (width >= sessionWidth(spark)) (wide, width)
    else {
      val narrow = wide.repartition(width, col(key)).persist()
      narrow.count()
      wide.unpersist(blocking = false)
      (narrow, width)
    }
  }

  /** Eager local checkpoint: `df` materialized, its plan truncated to
    * a flat scan. A loop's seed; [[rounds]] releases it. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Run `step` from `seed` (a [[checkpoint]]) at shuffle width
    * `width` until `stop(prev, next)` holds or `maxRounds` rounds ran.
    * Every round is checkpointed; the round it supersedes is released
    * once `stop` has read it. Returns the last round and the number of
    * rounds run. */
  def rounds(seed: DataFrame, width: Int, maxRounds: Int)(
      step: DataFrame => DataFrame,
      stop: (DataFrame, DataFrame) => Boolean = (_, _) => false): (DataFrame, Int) =
    withWidth(seed.sparkSession, width) {
      var cur = seed
      var n = 0
      var done = false
      while (!done && n < maxRounds) {
        val next = checkpoint(step(cur))
        done = stop(cur, next)
        release(cur)
        cur = next
        n += 1
      }
      (cur, n)
    }

  /** Release a checkpointed DataFrame's storage. The blocks belong to
    * the internal RDD captured in the checkpoint's LogicalRDD node
    * (Dataset.unpersist only consults the SQL cache manager, which
    * knows nothing of them). The lineage is truncated, so nothing can
    * recompute the frame afterwards. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => () // not a checkpoint scan; nothing to release
    }

  private val scopeLocks = new java.util.WeakHashMap[SparkSession, AnyRef]()

  /** Run `body` with the session's shuffle width set to `w`, restoring
    * the prior value after (even on throw). Scopes on one session run
    * one at a time (a thread may nest them): interleaved scopes would
    * restore in the wrong order and leave the session at a loop's width
    * for good. Other threads planning meanwhile see `w` (widths change,
    * never results). */
  private[graft] def withWidth[T](spark: SparkSession, w: Int)(body: => T): T = {
    val lock = scopeLocks.synchronized(scopeLocks.computeIfAbsent(spark, _ => new AnyRef))
    lock.synchronized {
      val prior = spark.conf.get(WidthKey, "200")
      spark.conf.set(WidthKey, w.toString)
      try body
      finally spark.conf.set(WidthKey, prior)
    }
  }
}
