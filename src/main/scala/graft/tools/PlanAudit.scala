package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.SparkEntry
import graft.engine.GraftSession

/** Plan audit over every SparkEntry query: execute, then report shuffle /
  * broadcast / cartesian counts from the FINALIZED (post-AQE) plan — the
  * smell test for "would this survive a 100× scale-up".
  *
  * The counting lives in [[PlanAudit.counts]] and is shared with
  * PlanAuditSpec (which pins these numbers as CI budgets) so the tool that
  * prints re-pin values and the spec that enforces them can never drift.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [namePrefixes]
  * (optional 2nd arg: comma-separated entry-name prefixes to audit a
  * subset while iterating)
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Execute `df` through its OWN queryExecution (a noop write or count()
    * would execute a separate derived plan, leaving this one un-finalized
    * and the audit blind to AQE's runtime join demotions) and count
    * (shuffles, broadcast JOINS, cartesians, rows) in the final plan.
    *
    * Broadcasts are counted as broadcast-join operators (hash +
    * nested-loop), not BroadcastExchangeExec nodes: in a finalized AQE
    * plan a reused broadcast shows up as ReusedExchangeExec, so exchange
    * counting would under-report exactly when AQE does the right thing —
    * the invariant we pin is "this join executes as a broadcast join".
    * Shuffle counting stays at ShuffleExchangeExec as an upper bound
    * (reuse only lowers it, which a <= budget absorbs).
    */
  def counts(df: DataFrame): (Int, Int, Int, Long) = {
    val plan = df.queryExecution.executedPlan
    val rows = plan.execute().count()
    val sh = collect(plan) { case s: ShuffleExchangeExec => s }.size
    val bc = collect(plan) {
      case b: BroadcastHashJoinExec => b
      case b: BroadcastNestedLoopJoinExec => b
    }.size
    val ca = collect(plan) { case c: CartesianProductExec => c }.size
    (sh, bc, ca, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(graft.engine.GraftSession.envCpus(16), "plan-audit")
    println(f"${"query"}%-28s shuffles bcasts cartesian rows")
    SparkEntry.select(args.lift(1)).sortBy(_.name).foreach { e =>
      try {
        val (shuffles, bcasts, cart, n) = counts(e.build(spark, sfDir))
        val flag = if (cart > 0) "  <-- CARTESIAN" else ""
        println(f"${e.name}%-28s $shuffles%8d $bcasts%6d $cart%9d $n%7d$flag")
      } catch { case ex: Throwable => println(f"${e.name}%-28s FAILED: ${ex.toString.take(80)}") }
    }
    spark.stop()
  }
}
