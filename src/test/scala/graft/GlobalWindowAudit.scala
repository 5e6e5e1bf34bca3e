package graft

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Shared machinery for the bounded-global-window fleet audit
  * (VERDICT r8 #2): find every Window node with an EMPTY partitionSpec
  * in a query's optimized plan (subqueries included) and execute its
  * CHILD in isolation — the exact frame WindowExec pulls into one
  * partition. Used two ways:
  *
  *  - [[GlobalWindowSpecs]] — standing `sbt test` gate: at sf0.01
  *    every such input must hold ≤ [[AbsMax]] rows;
  *  - `Test/runMain graft.GlobalWindowAudit <dirA> <dirB>` — the
  *    scale-evidence run: measures the same inputs at sf0.1 and sf1
  *    (10× data on a saturated calendar) and prints per-query growth,
  *    recorded in SCALE.md. Growth between the TOY SFs (0.001→0.01)
  *    is deliberately NOT gated: the calendar is unsaturated there,
  *    so sparse series legitimately grow ~10× by filling in missing
  *    days — the boundedness claim is about the saturated regime.
  */
object GlobalWindowAudit {

  /** ≈ trading-calendar days in the corpus date range × a small enum
    * multiplier (asset-class / series-family fan-outs). Kilobytes-to-
    * low-MB in one WindowExec partition; a per-trade or per-document
    * grain leaking into a global window blows through this at once. */
  val AbsMax = 60000L

  /** Global-window children of one query's optimized plan, deduped
    * within the query by canonicalized form. */
  def globalWindowChildren(plan: LogicalPlan): Seq[LogicalPlan] = {
    val seen = scala.collection.mutable.HashSet.empty[LogicalPlan]
    plan.collectWithSubqueries {
      case w: LWindow if w.partitionSpec.isEmpty && seen.add(w.child.canonicalized) =>
        w.child
    }
  }

  /** Row counts flowing into every global window, per query, at one
    * SF. Children shared across queries (the breadth/macro marts) are
    * counted once via a canonical-plan cache. Construction or count
    * failures throw — an audit that skips is not an audit. */
  def audit(spark: SparkSession, dir: String): Map[String, Seq[Long]] = {
    val cache = scala.collection.mutable.HashMap.empty[LogicalPlan, Long]
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    graft.queries.Registry.all.foreach { q =>
      try {
        val children = globalWindowChildren(
          q.query(spark, dir).queryExecution.optimizedPlan)
        if (children.nonEmpty)
          perQuery(q.name) = children.map { c =>
            cache.getOrElseUpdate(c.canonicalized,
              GraftPlanBridge.ofRows(spark, c).count())
          }
      } catch {
        case e: Throwable =>
          throw new RuntimeException(s"${q.name} audit failed at $dir: ${e.getMessage}", e)
      } finally spark.catalog.clearCache()
    }
    perQuery.toMap
  }

  /** Scale-evidence run: audit each dir, print per-dir totals and the
    * per-query growth ratio dirA→dirB, plus a JSON line for records. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: GlobalWindowAudit <dirA> <dirB>")
    val spark = graft.runtime.GraftSession.get(Some(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    val Seq(a, b) = args.toSeq
    val ca = audit(spark, a)
    val cb = audit(spark, b)
    require(ca.keySet == cb.keySet, s"site sets differ: ${(ca.keySet diff cb.keySet) ++ (cb.keySet diff ca.keySet)}")
    val rows = ca.keys.toSeq.sorted.map { q =>
      val sa = ca(q).sum; val sb = cb(q).sum
      (q, sa, sb, sb.toDouble / sa.max(1L))
    }
    rows.foreach { case (q, sa, sb, r) =>
      println(f"[gwaudit] $q%-55s $sa%8d -> $sb%8d  (${r}%.2fx)")
    }
    val maxAbs = rows.map(_._3).max
    val maxR   = rows.map(_._4).max
    val json = rows.map { case (q, sa, sb, r) =>
      f"""\"$q\":{\"a\":$sa,\"b\":$sb,\"ratio\":$r%.3f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"global_window_growth","dirA":"$a","dirB":"$b","queries":${rows.size},"max_abs_b":$maxAbs,"max_ratio":${f"$maxR%.3f"},"detail":$json}""")
    spark.stop()
  }
}
