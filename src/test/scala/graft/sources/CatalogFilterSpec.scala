package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.sources.ScanMetrics.{AggBoundaryRows, AggFilteredServed,
  RowsEvaluated}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec

/** Filter pushdown into the catalog scan: handled conjuncts evaluate
  * inside the source (no FilterExec remains for them), untranslatable
  * conjuncts stay as a residual Spark filter, and a predicate the
  * snapshot statistics contradict serves EMPTY without evaluating a
  * single row — the catalog-grain zone-map skip. */
class CatalogFilterSpec extends SparkTestBase {

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmem.path", MemCatalog.defaultRoot)
    spark.sql("DROP TABLE IF EXISTS graftmem.fspec")
    spark.sql("CREATE TABLE graftmem.fspec (k BIGINT, c BIGINT, tag STRING)")
    spark.sql(
      """INSERT INTO graftmem.fspec
        |SELECT id, IF(id % 5 = 0, NULL, id * 2), concat('t', id % 7)
        |FROM RANGE(200)""".stripMargin)
  }

  private def filterExecs(df: DataFrame): Seq[FilterExec] = {
    df.collect() // materialize so AQE finalizes its stages
    PlanWalk.operators(df.queryExecution.executedPlan)
      .collect { case f: FilterExec => f }
  }

  test("handled conjuncts leave no FilterExec; results match the in-memory filter") {
    setup()
    val q = spark.sql(
      "SELECT k FROM graftmem.fspec WHERE k > 150 AND tag = 't3' ORDER BY k")
    assert(filterExecs(q).isEmpty,
      s"fully-pushed predicate must drop Spark's filter:\n${q.queryExecution.executedPlan}")
    val got = q.collect().map(_.getLong(0)).toSeq
    val want = (151L until 200L).filter(k => k % 7 == 3)
    assert(got == want, s"got $got")
  }

  test("partial pushdown: the untranslatable conjunct stays as a residual filter") {
    setup()
    val q = spark.sql(
      "SELECT k FROM graftmem.fspec WHERE k > 150 AND k % 3 = 1 ORDER BY k")
    val residuals = filterExecs(q)
    assert(residuals.nonEmpty, "k % 3 = 1 cannot push — a residual must remain")
    val cond = residuals.map(_.condition.toString).mkString(" ")
    assert(cond.contains("% 3"), s"residual lost the modulo conjunct: $cond")
    assert(!cond.contains("> 150"),
      s"the pushed range conjunct must not be re-evaluated by Spark: $cond")
    assert(q.collect().map(_.getLong(0)).toSeq ==
      (151L until 200L).filter(_ % 3 == 1))
  }

  test("stats-contradicted predicates serve empty without evaluating any row") {
    setup()
    // k ranges [0, 199]: every one of these is provably empty from
    // the snapshot min/max/null statistics alone
    val dead = Seq(
      "k > 1000", "k >= 200", "k < 0", "k <= -1", "k = 5000",
      "k IN (777, 888)", "k IS NULL")
    dead.foreach { p =>
      val (rows, df) = collected(s"SELECT * FROM graftmem.fspec WHERE $p")
      assert(rows.isEmpty, s"$p returned ${rows.length} rows")
      val evaluated = PlanWalk.metric(df, RowsEvaluated)
      assert(evaluated == 0L,
        s"zone-map skip must not touch rows ($p evaluated $evaluated)")
    }
    // and a live predicate does evaluate — the metric is real
    val (_, live) = collected("SELECT * FROM graftmem.fspec WHERE k >= 199")
    assert(PlanWalk.metric(live, RowsEvaluated) > 0L)
  }

  test("aggregate pushdown UNDER a pushed filter: served from post-prune " +
      "row-group stats, boundary groups decoded exactly") {
    setup()
    val (rows, q) = collected(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx, count(c) AS nc " +
        "FROM graftmem.fspec WHERE k >= 100")
    val r = rows.head
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L &&
      r.getLong(2) == 199L)
    // c is NULL at k % 5 == 0 -> 20 of the 100 qualifying rows
    assert(r.getLong(3) == 80L, s"count(c) = ${r.getLong(3)}")
    assert(PlanWalk.metric(q, AggFilteredServed) == 1L,
      "filtered aggregate must be metadata-served")
  }

  test("filtered aggregate over file-aligned predicate decodes ZERO rows") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftmem.faln")
    spark.sql("CREATE TABLE graftmem.faln (k BIGINT, v BIGINT)")
    // three DISJOINT-range files (one insert each, single task)
    Seq((0, 1000), (1000, 2000), (2000, 3000)).foreach { case (a, b) =>
      spark.sql(
        s"""INSERT INTO graftmem.faln
           |SELECT /*+ REPARTITION(1) */ id, id * 3 FROM RANGE($a, $b)
           |""".stripMargin)
    }
    // k >= 1000: file 1 excluded by stats, files 2-3 FULLY inside —
    // the answer folds from metadata alone
    val (rows, q) = collected("SELECT count(*) AS n, min(v) AS mn, " +
      "max(v) AS mx FROM graftmem.faln WHERE k >= 1000")
    val r = rows.head
    assert(r.getLong(0) == 2000L && r.getLong(1) == 3000L &&
      r.getLong(2) == 3 * 2999L)
    assert(PlanWalk.metric(q, AggFilteredServed) == 1L)
    assert(PlanWalk.metric(q, AggBoundaryRows) == 0L,
      s"aligned predicate must decode zero rows, decoded " +
        s"${PlanWalk.metric(q, AggBoundaryRows)}")
  }

  test("SUM/AVG under a pushed filter: file-aligned folds from sums " +
      "with zero decode; unaligned cut decodes boundary only") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftmem.fsum")
    spark.sql("CREATE TABLE graftmem.fsum (k BIGINT, v BIGINT)")
    Seq((0, 1000), (1000, 2000), (2000, 3000)).foreach { case (a, b) =>
      spark.sql(
        s"""INSERT INTO graftmem.fsum
           |SELECT /*+ REPARTITION(1) */ id, id * 3 FROM RANGE($a, $b)
           |""".stripMargin)
    }
    val (rows, q) = collected("SELECT sum(v) AS sv, avg(v) AS av, " +
      "count(*) AS n FROM graftmem.fsum WHERE k >= 1000")
    val r = rows.head
    val exp = (1000L until 3000L).map(_ * 3).sum
    assert(r.getLong(0) == exp && r.getLong(2) == 2000L)
    assert(r.getDouble(1) == exp.toDouble / 2000L)
    assert(PlanWalk.metric(q, AggFilteredServed) == 1L,
      "filtered SUM/AVG must be metadata-served")
    assert(PlanWalk.metric(q, AggBoundaryRows) == 0L,
      "aligned predicate must fold sums with zero rows decoded")
    // unaligned: the middle file decodes (sums aren't in footers),
    // the proved tail file folds from its commit stats, result exact
    val (rows2, q2) = collected("SELECT sum(v) AS sv FROM graftmem.fsum " +
      "WHERE k >= 1500")
    assert(rows2.head.getLong(0) == (1500L until 3000L).map(_ * 3).sum)
    assert(PlanWalk.metric(q2, AggFilteredServed) == 1L)
    val decoded = PlanWalk.metric(q2, AggBoundaryRows)
    assert(decoded > 0L && decoded <= 1000L,
      s"only the straddled file may decode, decoded $decoded")
    // DML overlay: sums decline to the scan, result stays exact
    spark.sql("DELETE FROM graftmem.fsum WHERE k = 2500")
    val (rows3, q3) = collected("SELECT sum(v) AS sv FROM graftmem.fsum " +
      "WHERE k >= 1500")
    assert(rows3.head.getLong(0) ==
      (1500L until 3000L).map(_ * 3).sum - 7500L)
    assert(PlanWalk.metric(q3, AggFilteredServed) == 0L,
      "overlaid snapshot must decline to the scan path")
  }

  test("filtered aggregate declines past the boundary budget and under " +
      "overlays; the scan path answers identically") {
    setup()
    val prior = sys.props.get("graft.catalog.aggpush.boundary")
    sys.props("graft.catalog.aggpush.boundary") = "10"
    try {
      // k >= 75 cuts MID-file: the straddled file's group is boundary
      // work (> 10-row budget) -> decline
      val (rows, q) = collected(
        "SELECT count(*) AS n FROM graftmem.fspec WHERE k >= 75")
      assert(rows.head.getLong(0) == 125L)
      assert(PlanWalk.metric(q, AggFilteredServed) == 0L,
        "boundary budget exceeded must decline to the scan path")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
        s"declined aggregate must plan a real aggregation:\n$plan")
    } finally prior match {
      case Some(v) => sys.props("graft.catalog.aggpush.boundary") = v
      case None => sys.props.remove("graft.catalog.aggpush.boundary")
    }
    // overlay: a DELETE invalidates file stats -> decline
    spark.sql("DELETE FROM graftmem.fspec WHERE k = 7")
    val (rows, q) = collected(
      "SELECT count(*) AS n FROM graftmem.fspec WHERE k >= 100")
    assert(rows.head.getLong(0) == 100L)
    assert(PlanWalk.metric(q, AggFilteredServed) == 0L,
      "overlay must decline the filtered metadata aggregate")
  }

  test("NULL semantics under pushdown match Spark's") {
    setup()
    // c IS NULL hits the planted nulls; comparisons drop NULL rows
    assert(spark.sql("SELECT count(*) AS n FROM graftmem.fspec WHERE c IS NULL")
      .head().getLong(0) == 40L)
    assert(spark.sql("SELECT count(*) AS n FROM graftmem.fspec WHERE c > 0")
      .head().getLong(0) == 160L)
    // pushed vs unpushed (modulo forces residual-only path) agree
    val pushed = spark.sql(
      "SELECT k FROM graftmem.fspec WHERE c >= 100 ORDER BY k").collect().toSeq
    val spark_side = spark.sql(
      "SELECT k FROM graftmem.fspec WHERE c + 0 >= 100 ORDER BY k").collect().toSeq
    assert(pushed == spark_side)
  }

  test("compile FAILS LOUDLY on a filter supported() never vetted — " +
      "a gate-keeping regression must not silently drop rows") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val unsupported =
      org.apache.spark.sql.sources.StringContains("s", "x")
    assert(!MemFilters.supported(schema, unsupported))
    intercept[IllegalStateException] {
      MemFilters.compile(schema, Seq(unsupported))
    }
  }
}
