package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, ReusedSubqueryExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Reads an executed physical plan. Collect the DataFrame itself
  * first: `head()` and `count()` plan and run another query, and an
  * unexecuted adaptive plan is not final. */
object PlanWalk {

  /** Every operator of the plan, once each, looking through AQE and
    * query-stage wrappers and into command and subquery plans. A
    * reused exchange or subquery is listed, not entered: its plan ran
    * where it was first used. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = Vector.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case r @ (_: ReusedExchangeExec | _: ReusedSubqueryExec) => out += r
      case other =>
        out += other
        (other.children ++ other.subqueries).foreach(walk)
    }
    walk(plan)
    out.result()
  }

  /** The named SQL metric of `df`'s executed plan, summed over its
    * operators (0 where none carries it). */
  def metric(df: DataFrame, name: String): Long =
    operators(df.queryExecution.executedPlan).iterator
      .flatMap(_.metrics.get(name)).map(_.value).sum
}
