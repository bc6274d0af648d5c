package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.sources.ScanMetrics.{AggFilteredServed, AggGroupedServed,
  AggSampledServed, PartPruned}

/** Every metadata-served aggregate against a TWIN the source cannot
  * serve: `min(abs(k))` is not a bare column, so the source declines it
  * and Spark aggregates the scan (every numeric column is
  * non-negative, so `abs` keeps the values; Catalyst would fold a
  * `k + 0` twin back to `k`). Each (aggregate, query shape) pair
  * must agree with its twin row for row, serve exactly when expected
  * (no aggregate operator left in the plan, the shape's served
  * metric at 1) and leave the twin unserved.
  *
  * The table: 1,000 rows in ten k-disjoint inserts, identity-partitioned
  * on `p`; `c` is NULL on every fifth row, `z` is all-NULL, and `big`
  * sits past 2^53 so its AVG must decline (a double cannot hold the
  * exact sum) while its SUM still serves. */
class AggPushTwinSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_twin").toString

  private lazy val table: String = {
    spark.conf.set("spark.sql.catalog.gtw", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtw.path", root)
    spark.sql("DROP TABLE IF EXISTS gtw.t")
    spark.sql(
      """CREATE TABLE gtw.t (p STRING, k BIGINT, c BIGINT, s STRING,
        |  z BIGINT, big BIGINT) PARTITIONED BY (p)""".stripMargin)
    (0 until 1000 by 100).foreach(a => spark.sql(
      s"""INSERT INTO gtw.t SELECT /*+ REPARTITION(1) */
         |  concat('p', id % 2), id, IF(id % 5 = 0, NULL, id * 3),
         |  concat('s', lpad(CAST(id AS STRING), 4, '0')),
         |  CAST(NULL AS BIGINT), id + ${1L << 53}
         |FROM RANGE($a, ${a + 100})""".stripMargin))
    "gtw.t"
  }

  /** (served aggregate, its unservable twin) */
  private val aggs = Seq(
    "count(*)" -> "count(abs(k))",
    "count(c)" -> "count(abs(c))",
    "min(k)" -> "min(abs(k))",
    "max(k)" -> "max(abs(k))",
    "min(s)" -> "min(lower(s))",
    "max(s)" -> "max(lower(s))",
    "sum(c)" -> "sum(abs(c))",
    "avg(c)" -> "avg(abs(c))",
    "count(z)" -> "count(abs(z))",
    "min(z)" -> "min(abs(z))",
    "max(z)" -> "max(abs(z))",
    "sum(z)" -> "sum(abs(z))",
    "avg(z)" -> "avg(abs(z))",
    "sum(big)" -> "sum(abs(big))",
    "avg(big)" -> "avg(abs(big))")

  /** The aggregates past AVG's 2^53 exactness bound. */
  private val declines = Set("avg(big)")

  private case class Shape(name: String, clause: String, grouped: Boolean,
      metric: Option[String])

  private val shapes = Seq(
    Shape("unfiltered", "", grouped = false, None),
    Shape("aligned filter", "WHERE k >= 500", grouped = false,
      Some(AggFilteredServed)),
    Shape("straddling filter", "WHERE k >= 250 AND k < 750",
      grouped = false, Some(AggFilteredServed)),
    Shape("grouped", "GROUP BY p", grouped = true, Some(AggGroupedServed)),
    Shape("grouped + filter", "WHERE k >= 250 GROUP BY p", grouped = true,
      Some(AggGroupedServed)),
    Shape("filter that empties a group", "WHERE k = 301 GROUP BY p",
      grouped = true, Some(AggGroupedServed)),
    Shape("TABLESAMPLE", "TABLESAMPLE (50 PERCENT) REPEATABLE (7)",
      grouped = false, Some(AggSampledServed)))

  /** Sorted rendered rows, whether the source served the aggregate,
    * and the run's value of the shape's served metric. */
  private def run(shape: Shape, agg: String): (Seq[String], Boolean, Long) = {
    val key = if (shape.grouped) "p, " else ""
    val df = spark.sql(s"SELECT $key$agg AS v FROM $table ${shape.clause}")
    val rows = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val plan = df.queryExecution.executedPlan.toString
    val served = !Seq("HashAggregate", "SortAggregate").exists(plan.contains)
    (rows, served, shape.metric.map(PlanWalk.metric(df, _)).getOrElse(0L))
  }

  shapes.foreach { shape =>
    test(s"served aggregates equal their unservable twins: ${shape.name}") {
      aggs.foreach { case (agg, twin) =>
        val (got, served, bumped) = run(shape, agg)
        val (want, twinServed, twinBumped) = run(shape, twin)
        val ctx = s"${shape.name}: $agg"
        assert(got == want, s"$ctx served $got, twin $want")
        assert(!twinServed && twinBumped == 0L, s"$ctx: twin was served ")
        val expect = !declines(agg)
        assert(served == expect, s"$ctx: served=$served, expected $expect")
        if (shape.metric.isDefined)
          assert(bumped == (if (expect) 1L else 0L),
            s"$ctx: served metric is $bumped")
      }
      if (shape.name == "filter that empties a group")
        assert(run(shape, "count(*)")._1 == Seq("p1|1"),
          "the emptied group p0 must emit no row")
    }
  }

  test("a stats-contradicted file in a grouped walk is not a " +
      "partition-tuple skip") {
    // k >= 500 contradicts the stats of every file of the first five
    // inserts; no filter references the partition column
    val df = spark.sql(
      s"SELECT p, count(*) AS n FROM $table WHERE k >= 500 GROUP BY p")
    assert(df.collect().map(_.getLong(1)).sum == 500L)
    assert(PlanWalk.metric(df, AggGroupedServed) == 1L)
    assert(PlanWalk.metric(df, PartPruned) == 0L,
      s"partPruned counted ${PlanWalk.metric(df, PartPruned)} stats skips")
  }
}
