package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric,
  CustomTaskMetric}

/** The catalog scan's work counters, reported per query as DSv2 custom
  * metrics on the scan node, the way a host engine's runtime profile
  * reports scan work per fragment. Planning counts are driver metrics
  * of the scan that planned them (a metadata-served aggregate's come
  * from the fold that served it); reader counts are task metrics
  * summed over the scan's tasks. Read one with [[graft.PlanWalk]]. */
object ScanMetrics {
  val PartPruned = "partPruned"
  val RowGroupsPruned = "rowGroupsPruned"
  val AggFilteredServed = "aggFilteredServed"
  val AggGroupedServed = "aggGroupedServed"
  val AggSampledServed = "aggSampledServed"
  val AggBoundaryRows = "aggBoundaryRows"
  val BatchReaders = "batchReaders"
  val FiltersEngaged = "filtersEngaged"
  val RowsEvaluated = "rowsEvaluated"

  private val described = Seq(
    PartPruned -> "files pruned by partition tuple",
    RowGroupsPruned -> "row groups of kept files pruned by footer stats",
    AggFilteredServed -> "filtered aggregates served from metadata",
    AggGroupedServed -> "GROUP BY partition aggregates served from metadata",
    AggSampledServed -> "TABLESAMPLE aggregates served from metadata",
    AggBoundaryRows -> "boundary rows a served aggregate decoded",
    BatchReaders -> "columnar file readers opened",
    FiltersEngaged -> "file reads that handed parquet-mr a filter",
    RowsEvaluated -> "rows the pushed filters evaluated")

  /** The metrics every catalog scan declares. */
  private[sources] def supported: Array[CustomMetric] =
    described.map { case (n, d) => new ScanSumMetric(n, d): CustomMetric }
      .toArray

  /** Named values as the task metrics Spark reads. */
  private[sources] def values(vs: Seq[(String, Long)])
      : Array[CustomTaskMetric] =
    vs.map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }.toArray
}

/** One summed scan metric. Spark's status listener re-creates a custom
  * metric by class name to aggregate task values, hence the no-arg
  * constructor (summing needs no name). */
final class ScanSumMetric(n: String, d: String) extends CustomSumMetric {
  def this() = this("", "")
  override def name(): String = n
  override def description(): String = d
}
