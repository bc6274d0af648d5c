package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.queries.SourceQueries

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partition pruning is THE first-order scan lever at 100 TB: a
  * filter on the partition column must never read the other
  * partitions' files. (`DataFrame.inputFiles` reports the unpruned
  * relation, so the assertion reads the executed scan's `numFiles`
  * metric instead.) */
class PartitionPruneSpec extends SparkTestBase {

  private def scanFileCount(df: org.apache.spark.sql.DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count() // drive the actual physical scan
    val scan = qe.executedPlan.collect { case f: FileSourceScanExec => f }.head
    scan.metrics("numFiles").value
  }

  test("a partition-column filter reads only the matching directory") {
    val dir = "/root/testdata/sf0.001"
    val path = SourceQueries.partitionedEvents(spark, dir)

    val filtered = spark.read.parquet(path)
      .where(col("event_type") === "click")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("click"), plan)

    val prunedFiles = scanFileCount(filtered)
    val allFiles = scanFileCount(spark.read.parquet(path))
    assert(prunedFiles > 0)
    assert(prunedFiles < allFiles,
      s"pruning must reduce the file set ($prunedFiles vs $allFiles)")

    // and the pruned read still returns exactly the click rows
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .where(col("event_type") === "click").count()
    assert(filtered.count() == expected)
  }

  test("dynamic partition pruning: a filtered dim join prunes the fact scan at runtime") {
    val dir = "/root/testdata/sf0.001"
    val path = SourceQueries.partitionedEvents(spark, dir)
    val q = SourceQueries.dppJoin(spark, dir)

    // the fact scan must carry a join-driven dynamicpruning subquery —
    // no STATIC filter on event_type exists anywhere in this plan
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter:\n$planStr")

    // runtime file metric: only the 2 'conversion' partitions read
    // (the join goes adaptive — descend through AQE stages)
    q.collect()
    val factScan = PlanWalk.operators(q.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("Location").exists(_.contains("events")))
      .head
    val pruned = factScan.metrics("numFiles").value
    val allFiles = scanFileCount(spark.read.parquet(path))
    assert(pruned > 0 && pruned < allFiles,
      s"DPP must cut the file set ($pruned vs $allFiles)")

    // result-invisible vs the unpartitioned join
    val dim = spark.read.parquet(SourceQueries.eventDim(spark))
      .where(col("type_class") === "conversion")
    val expect = spark.read.parquet(s"$dir/events.parquet")
      .join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy(col("event_type")).collect().toSeq
    assert(q.collect().toSeq == expect)
  }
}
