package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** What the traced run reads from a finished operation's query
  * execution: Catalyst phase times and the library's own rules from
  * the planning tracker, and SQL metrics from the final (post-AQE)
  * physical plan. */
object PlanStats {

  /** Every operator of the executed plan, looking through AQE and
    * query-stage wrappers and into command and subquery plans. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case c: CommandResultExec => operators(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(operators)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def of(df: DataFrame): Map[String, Any] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val graftRules = qe.tracker.rules.filter(_._1.startsWith("graft."))
    val ops = operators(qe.executedPlan)
    val aggs = ops.collect { case a: ObjectHashAggregateExec => a }
    val v2Scans = ops.collect { case b: BatchScanExec => b }
    val fileScans = ops.collect { case f: FileSourceScanExec => f }
    Map(
      "analysis_s" -> phase("analysis"),
      "optimizer_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "rule_s" -> graftRules.values.map(_.totalTimeNs).sum / 1e9,
      "rule_runs" -> graftRules.values.map(_.numInvocations).sum,
      "rule_effective_runs" -> graftRules.values.map(_.numEffectiveInvocations).sum,
      "plan_nodes" -> ops.size,
      "logical_nodes" -> qe.optimizedPlan.collect { case n => n }.size,
      "exchanges" -> ops.count(_.isInstanceOf[ShuffleExchangeLike]),
      "agg_time_s" -> aggs.map(metric(_, "aggTime")).sum / 1e3,
      "sort_fallback_tasks" -> aggs.map(metric(_, "numTasksFallBacked")).sum,
      "scan_rows" -> (v2Scans ++ fileScans).map(metric(_, "numOutputRows")).sum,
      "scan_file_bytes" -> fileScans.map(metric(_, "filesSize")).sum,
      "scan_splits" -> v2Scans.map(_.inputPartitions.size).sum)
  }
}
