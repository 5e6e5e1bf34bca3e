package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Window-function primitives mirroring the reference's ta_* macro
  * bundle (SURVEY.md §2.E; ref dbt_project/macros/technical_analysis/
  * ta_primitives.sql). All pure `WindowSpec`/`Column` composition —
  * Catalyst merges same-spec windows into one shuffle+sort, so a stack
  * of indicators over one (key, date) window costs a single exchange.
  *
  * == Bounded-global-window invariant ==
  * Several signal queries (FredSignalQueries*, SignalQueries,
  * MarketSignalsQueries breadth composites) use `Window.orderBy(date)`
  * with NO partitioning, which WindowExec executes on a single
  * partition (and warns about). Every such site sits ABOVE a
  * date-grain aggregate of a market-wide or single-FRED-series line,
  * so the windowed frame is bounded by the trading calendar (~250
  * rows/year, ~10k rows over 40 years) at ANY corpus scale — the
  * scale-bearing shuffle is the groupBy beneath it, and the single
  * partition holds kilobytes. Do NOT "fix" these by salting or
  * partitioning-by-year: a cumulative/recursive frame over a split
  * key would silently truncate its history. A global window over a
  * per-document or per-trade grain WOULD be a scale bug — keep those
  * keyed via [[keyed]].
  */
object WindowOps {

  /** Canonical per-instrument window: partition by keys, order by time. */
  def keyed(partCols: Seq[Column], orderCol: Column): WindowSpec =
    Window.partitionBy(partCols: _*).orderBy(orderCol)

  /** Trailing n-row frame including the current row (ta_rolling,
    * ref ta_primitives.sql:18-26). */
  def trailing(w: WindowSpec, n: Int): WindowSpec = w.rowsBetween(-(n - 1), 0)

  /** Cumulative frame from the start of the partition. */
  def cumulative(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, 0)

  /** Rolling z-score of `c` over a trailing n-row frame (ta_zscore,
    * ref ta_primitives.sql:60-66). */
  def zscore(c: Column, w: WindowSpec, n: Int): Column = {
    val f  = trailing(w, n)
    val mu = avg(c).over(f)
    val sd = stddev_samp(c).over(f)
    safeDivide(c - mu, sd)
  }

  /** Position of `c` within its trailing n-row [min, max] range
    * (ta_range_position, ref ta_primitives.sql:69-81). 0 = at low,
    * 1 = at high, NULL when the range is degenerate. */
  def rangePosition(c: Column, w: WindowSpec, n: Int): Column = {
    val f  = trailing(w, n)
    val lo = min(c).over(f)
    val hi = max(c).over(f)
    safeDivide(c - lo, hi - lo)
  }

  /** Finite-window EWM over the trailing `window` rows (reference
    * semantics: weight-normalized, NULL values dropped but offsets
    * kept; ref ta_primitives.sql:84-126). alpha = 2/(span+1) for EMA,
    * 1/n for Wilder smoothing. Requires a position column (e.g.
    * row_number over the same window ordering).
    *
    * Pow-ratio identity: weight_i = decay^(curPos - pos_i)
    * = decay^curPos · decay^(-pos_i), and the decay^curPos factor
    * cancels between numerator and denominator — so the EWM is a ratio
    * of two plain windowed SUMs of pre-scaled terms (whole-stage
    * codegen, zero per-row allocation), not a collect_list array fold.
    * Overflow bound: decay^(-pos) stays finite while
    * pos·|ln decay| < ~700; worst alpha here (0.2 → decay 0.8,
    * |ln| 0.223) allows ~3100 rows per key — above any trading-history
    * partition at our SFs. For longer histories re-base pos per key
    * (pos - min(pos) over the partition) before calling.
    */
  def ewm(value: Column, pos: Column, w: WindowSpec, window: Int, alpha: Double): Column = {
    val decay = 1.0 - alpha
    val f     = w.rowsBetween(-(window - 1), 0)
    val wgt   = pow(lit(decay), -pos)
    val num   = sum(value * wgt).over(f)
    val den   = sum(when(value.isNotNull, wgt)).over(f)
    num / den
  }

  /** Exact global `row_number` over an UNBOUNDED frame, without the
    * single-partition WindowExec a bare `Window.orderBy` costs. For
    * calendar-bounded frames (the header invariant) the plain global
    * window is correct and cheaper; use THIS when the ranked set grows
    * with the corpus — the GlobalWindowAudit sf0.1→sf1 run caught
    * exactly one such site (FTS search ranking: matched docs ×9.8 over
    * 10× data) and this is its scale path.
    *
    * Classic distributed ranking: range-repartition on the order key
    * (so partition p's rows all precede partition p+1's), rank WITHIN
    * each partition in parallel, then add per-partition row-count
    * offsets (numPartitions driver-side rows, broadcast back as a
    * literal map). `order` must be a TOTAL order (include a unique
    * tie-break column) — that's also what makes the result
    * deterministic. Two passes over `df`, both fully parallel; the
    * input is persisted across them and unpersisted before return.
    */
  def distributedRowNumber(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // pass 1: per-partition row counts -> exclusive prefix offsets
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetOf = map((0 until parts).flatMap(p => Seq(lit(p), lit(offsets(p)))): _*)
    // pass 2: parallel per-partition ranking + offset. `ranged` stays
    // persisted — the result is lazy and pass 2 reads the cache when
    // the caller executes it; per-query clearCache reclaims it (the
    // fleet convention for internal persists).
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    ranged
      .withColumn(rankCol, row_number().over(w).cast("long") + element_at(offsetOf, col("__pid")))
      .drop("__pid")
  }
}
