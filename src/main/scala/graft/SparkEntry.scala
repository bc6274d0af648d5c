package graft

import graft.functions.GraftFunctions
import graft.queries._
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7.
  *
  * Queries are assembled from the per-area modules under
  * [[graft.queries]]; each brings its own DuckDB oracle SQL where the
  * semantics are ANSI-SQL-expressible (SURVEY §5).
  */
object SparkEntry {

  private def allDefs: Seq[QueryDef] =
    CoreQueries.defs ++ MedianQueries.defs ++ DedupQueries.defs ++
      TextQueries.defs ++ NearDupQueries.defs ++ SimilarityQueries.defs ++
      MultimodalQueries.defs ++ EventQueries.defs ++ PipelineQueries.defs ++
      CurationQueries.defs ++ LmQueries.defs ++ WinnowQueries.defs ++
      GraphQueries.defs ++ ReleaseQueries.defs ++ RerankQueries.defs ++
      PcaQueries.defs ++
      JoinQueries.defs ++ SourceQueries.defs ++ TpchQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference README walkthrough (`README.md:61`) run on
    * real data via the SQL registration path. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .createOrReplaceTempView("lineitem")
    spark.sql(
      "SELECT CAST(appx_median_bounded(l_quantity, 100000) AS DOUBLE) AS med FROM lineitem")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
