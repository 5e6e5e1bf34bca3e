package graft.models

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.dsum
import graft.runtime.Tables

/** The synthetic price source: the one place that knows how a daily
  * price series is made from lineitem. The reference reads one raw
  * OHLCV panel per universe (the `(symbol, exchange, date)` bars of
  * stg_us_sectors.sql); here every such panel is lineitem grouped by a
  * symbol bucket and the ship date, with open and close picked by the
  * md5 of the unique line key — an engine-portable, tie-free order.
  *
  * Every market staging is [[daily]] over [[lines]] under one
  * [[Universe]] bucket; callers keep only what is their own (the
  * columns they select, `r4`, renames such as `d`, `trade_date` or
  * `adj_*`, extra aggregates). Each universe's SQL twin is a literal,
  * never derived from the Spark column, so the DuckDB oracle stays an
  * independent statement of the same data.
  */
object PriceBars {

  /** A symbol universe: the bucket each line lands in, as a Spark
    * column over lineitem and the DuckDB expression of the same. */
  final case class Universe(col: Column, sql: String)

  /** The unique line key whose md5 orders a bucket's lines. */
  val lineKey: Column =
    md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))

  val lineKeySql: String =
    "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
      "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR))"

  /** The oracle's open (first line by key) and close (last line by key). */
  val openSql: String  = s"MIN_BY(l_extendedprice, $lineKeySql)"
  val closeSql: String = s"MAX_BY(l_extendedprice, $lineKeySql)"

  /** lineitem with `date` and the md5 `__key` projected once per row,
    * plus every column a bucket may reference (unused ones are pruned
    * below each aggregate). */
  def lines(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem.select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_linestatus"), col("l_returnflag"),
      to_date(col("l_shipdate")).as("date"),
      col("l_extendedprice"), col("l_quantity"),
      lineKey.as("__key"))

  /** Raw open/high/low/close/volume per (`keys`…, date) of a [[lines]]
    * frame, followed by the caller's `extra` aggregates. Volume is the
    * exact decimal sum of quantities; nothing is rounded. */
  def daily(lines: DataFrame, keys: Seq[Column], extra: Column*): DataFrame = {
    val (p, k) = (col("l_extendedprice"), col("__key"))
    val aggs = Seq(min_by(p, k).as("open"), max(p).as("high"), min(p).as("low"),
      max_by(p, k).as("close"), dsum(col("l_quantity")).as("volume")) ++ extra
    lines.groupBy(keys :+ col("date"): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `key % i` → `symbols(i)` (NULL past the list), both sides of a
    * named-symbol universe. */
  def named(key: Column, keySql: String, symbols: Seq[String]): Universe = Universe(
    symbols.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (sym, i)) =>
      when(key === i, lit(sym)).otherwise(acc)
    },
    s"CASE $keySql ${symbols.zipWithIndex.map { case (sym, i) => s"WHEN $i THEN '$sym'" }.mkString(" ")} END")

  private def prefixed(prefix: String, c: String, mod: Int): Universe =
    Universe(concat(lit(prefix), col(c) % mod), s"'$prefix' || CAST($c % $mod AS VARCHAR)")

  // ---- the symbol universes ------------------------------------------

  /** The model family's bars: one symbol per return flag. */
  val Flags         = Universe(col("l_returnflag"), "l_returnflag")
  val Sectors       = Universe(concat(lit("SECT_"), col("l_returnflag")), "'SECT_' || l_returnflag")
  val Indices       = Universe(concat(lit("IDX_"), col("l_linestatus")), "'IDX_' || l_linestatus")
  val Sp500         = prefixed("SP_", "l_suppkey", 100)
  val Nasdaq        = prefixed("ND_", "l_partkey", 200)
  val GlobalMarkets = prefixed("GM_", "l_suppkey", 7)
  val Currency      = prefixed("FX_", "l_partkey", 9)
  val FixedIncome   = prefixed("FI_", "l_partkey", 11)
  val Factors       = prefixed("FAC_", "l_suppkey", 12)
  val CommodityEtfs = prefixed("CE_", "l_partkey", 8)
  val Energy        = prefixed("EN_", "l_suppkey", 4)
  val Agriculture   = prefixed("AG_", "l_orderkey", 5)
  val Inputs        = prefixed("IN_", "l_partkey", 6)

  // ---- the commodity universes ---------------------------------------

  /** A commodity universe: its model-name root, buckets, unit and the
    * agent views' category. */
  final case class Commodity(root: String, universe: Universe, unit: String, category: String)

  val EnergyCommodities      = Commodity("energy_commodities", Energy, "barrel", "energy")
  val AgricultureCommodities = Commodity("agriculture_commodities", Agriculture, "bushel", "agriculture")
  val InputCommodities       = Commodity("input_commodities", Inputs, "ton", "input")
  val Commodities: Seq[Commodity] = Seq(EnergyCommodities, AgricultureCommodities, InputCommodities)

  /** One commodity universe's bars: (commodity_name, date, OHLCV,
    * commodity_unit). */
  def commodity(lines: DataFrame, c: Commodity): DataFrame =
    daily(lines, Seq(c.universe.col.as("commodity_name"))).withColumn("commodity_unit", lit(c.unit))

  /** Every commodity universe's bars from ONE pass over `lines`: each
    * row fans out to its bucket in every universe via explode, so the
    * fact table is scanned and shuffled once instead of once per
    * universe. Row-identical to the per-universe [[commodity]] frames
    * unioned (PriceBarsSpecs): the buckets are total (every line lands
    * in each universe) and the EN_/AG_/IN_ key spaces are disjoint,
    * so the grouped cells coincide 1:1. */
  def commodities(lines: DataFrame): DataFrame = {
    val fams = array(Commodities.map { c =>
      struct(c.universe.col.as("commodity_name"), lit(c.unit).as("commodity_unit"))
    }: _*)
    daily(lines.withColumn("fam", explode(fams)),
      Seq(col("fam.commodity_name").as("commodity_name"), col("fam.commodity_unit").as("commodity_unit")))
  }

  /** A commodity frame's `commodity_category`, read off its unit. */
  val commodityCategory: Column = Commodities.tail.foldLeft(
    when(col("commodity_unit") === Commodities.head.unit, Commodities.head.category)) {
    (acc, c) => acc.when(col("commodity_unit") === c.unit, c.category)
  }
}
