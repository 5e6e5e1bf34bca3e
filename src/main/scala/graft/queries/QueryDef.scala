package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.runtime.Tables

/** One verifiable engine capability: a Spark query over the testdata
  * tables plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Oracle-parity conventions (both sides!):
  *  - float outputs rounded to 4 decimals;
  *  - large SUMs of doubles routed through DECIMAL(18,6) so the
  *    result is exact and summation-order-independent;
  *  - counts / integer outputs cast to BIGINT;
  *  - every ranking/dedup fully tie-broken by a unique key.
  *
  * Caching contract — one rule: the code that reads a frame twice
  * persists it (a grain-reduced aggregate consumed by several joins; a
  * mart a [[SharedMarts]] reader scans twice). Code that only builds a
  * frame or hands it on never persists it, so an inline build and a
  * materialized mart are cached by the same reader. Persisted frames
  * are NOT unpersisted — they are still referenced by the returned
  * plan, so eager unpersist would force recomputation. Callers that
  * run many registry queries in one session (Verify, Bench do this)
  * must call `spark.catalog.clearCache()` after consuming each result;
  * a caller composing a handful of queries interactively can rely on
  * LRU eviction of executor storage instead.
  */
final case class QueryDef(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {

  /** Exact, order-independent sum of a double expression via decimal. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Exact mean built on the decimal sum. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double") / count(c)

  /** [[davg]] over a window `frame`, with the decimal sum at `scale`
    * (the oracle side casts to the same DECIMAL(18, scale)). */
  def davgOver(c: Column, frame: WindowSpec, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).over(frame).cast("double") / count(c).over(frame)

  def r4(c: Column): Column = round(c, 4)

  /** round(x, n) with a DECIMAL(18,6) snap first: values whose intended
    * decimal expansion lands exactly on a half boundary (diffs/halves
    * of round-4 inputs, int/int ratios) round engine-dependently on
    * raw doubles; snapping to 6 decimals (error ≪ 5e-7) makes both
    * engines round the same exact decimal. Pair with [[oSnap]]. */
  def rsnap(c: Column, n: Int): Column =
    round(c.cast(DecimalType(18, 6)), n).cast("double")

  /** Oracle-side mirror of [[rsnap]] (+0.0 normalizes -0.0). */
  def oSnap(x: String, n: Int): String =
    s"CAST(ROUND(CAST($x AS DECIMAL(18,6)), $n) AS DOUBLE) + 0.0"

  /** Spark side of the exact int-ratio rounding pair: divide in
    * DECIMAL(38,6) (exact half-up at scale 6) then round — int-ratio
    * quotients (decimal-sum / count) land on exact rational halves
    * where any double-based rounding is engine-dependent. Mirror with
    * [[oDivRound]]. `num` must be a DECIMAL column, `den` integral. */
  def rdiv(num: Column, den: Column, n: Int): Column =
    round(num.cast(DecimalType(38, 6)) / den, n).cast("double")

  /** Oracle-side mirror of [[rdiv]]: q6 = half-up(num/den, 6) then
    * half-up(q6, n), all in HUGEINT floor-division. `numInt` is the
    * scale-6 integer form of the numerator (value ×10⁶), `denInt` a
    * positive integer. */
  def oDivRound(numInt: String, denInt: String, n: Int): String = {
    val outDiv = math.pow(10, 6 - n).toLong
    val tenN   = math.pow(10, n).toLong
    s"""(CASE WHEN ($numInt) < 0 THEN -1.0 ELSE 1.0 END
        * CAST((2 * ((2 * ABS(CAST($numInt AS HUGEINT)) + CAST($denInt AS HUGEINT))
                     // (2 * CAST($denInt AS HUGEINT)))
                + $outDiv) // (2 * $outDiv) AS DOUBLE)
        / $tenN.0 + 0.0)"""
  }

  /** SQL `NULLIF(c, 0)`: NULL where `c` is zero. */
  def nullif(c: Column): Column = when(c =!= 0, c)

  /** Corpus max ship date: the deterministic CURRENT_DATE stand-in. */
  def maxDate(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem.agg(max(to_date(col("l_shipdate"))).as("__maxd"))

  /** Oracle-side mirror of [[maxDate]]. */
  val maxDateSql = "(SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)"

  /** Oracle side of the reference's workhorse CTE: monthly MAX(literal)
    * of one series (month column `month_date`). The oracles keep the
    * reference's one-CTE-per-series join chains; the Spark side reads
    * all of a model's series in one pivot, `FredSignalQueries.panel`. */
  def mMaxSql(code: String, alias: String): String =
    s"""SELECT CAST(DATE_TRUNC('month', date) AS DATE) AS month_date,
        MAX(literal) AS $alias
        FROM stg WHERE series_code = '$code' AND literal IS NOT NULL GROUP BY 1"""
}
