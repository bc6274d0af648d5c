package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (JVM-wide singleton —
  * getOrCreate returns the same session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config(graft.sources.Tables.requiredConf)
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** The sf0.01 fixture, beside [[sf0001]]. */
  def sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  /** `sql`'s rows, collected through its own plan, and the DataFrame
    * whose SQL metrics describe that run (see [[PlanWalk]]). */
  def collected(sql: String): (Array[Row], DataFrame) = {
    val df = spark.sql(sql)
    (df.collect(), df)
  }

  /** Columnar readers the catalog scans of `df`'s own run opened. */
  def readers(df: DataFrame): Long =
    PlanWalk.metric(df, graft.sources.ScanMetrics.BatchReaders)

  /** Run `body` with session confs set, restoring prior values after —
    * the session is JVM-shared across suites, so leaks would bleed. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
