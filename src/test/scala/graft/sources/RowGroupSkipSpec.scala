package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.sources.ScanMetrics.{FiltersEngaged, RowGroupsPruned,
  RowsEvaluated}

/** Predicate pushdown INSIDE surviving data files — the scan lever
  * below file-grain skipping:
  *
  *  1. a selective range over a clustered multi-row-group file plans
  *     NO slice for row groups whose footer stats contradict the
  *     predicate (exact positions: results identical to the
  *     unfiltered oracle);
  *  2. parquet-mr record/page-level filtering engages for position-
  *     free scans — the residual evaluator sees far fewer rows than
  *     the file holds;
  *  3. DML (`__pos`) scans keep the exact unfiltered walk: a
  *     selective UPDATE after the skip machinery still patches
  *     exactly the right rows;
  *  4. the translation survives column mapping (RENAME COLUMN): the
  *     filter addresses the new name, the file stores the old one.
  */
class RowGroupSkipSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_rg").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftrg", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrg.path", root)
  }

  private def withSmallRowGroups[A](body: => A): A = {
    val prev = sys.props.get("graft.catalog.rowgroup.bytes")
    sys.props("graft.catalog.rowgroup.bytes") = (32 * 1024).toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.catalog.rowgroup.bytes") = v
      case None => sys.props -= "graft.catalog.rowgroup.bytes"
    }
  }

  private def stage(): Unit = withSmallRowGroups {
    spark.sql("DROP TABLE IF EXISTS graftrg.t")
    spark.sql("CREATE TABLE graftrg.t (k BIGINT, grp STRING, v BIGINT)")
    // one write task, sorted on k -> ONE file, many row groups with
    // tight disjoint k ranges (the clustered-fact shape)
    spark.range(0, 50000).selectExpr(
        "id AS k", "concat('g', CAST(id % 7 AS STRING)) AS grp",
        "id * 3 AS v")
      .repartition(1).sortWithinPartitions("k")
      .createOrReplaceTempView("rg_src")
    spark.sql("INSERT INTO graftrg.t SELECT * FROM rg_src")
  }

  test("selective range skips row groups with exact results") {
    setup()
    stage()
    // the staged file must actually have multiple row groups
    val file = spark.sql("SELECT file FROM graftrg.t.files").head().getString(0)
    val nBlocks = ParquetRowIO.blocks(s"$root/t/data/$file").length
    assert(nBlocks > 3, s"staging produced only $nBlocks row groups")

    val df = spark.sql(
      "SELECT count(*) AS n, sum(v) AS s FROM graftrg.t " +
        "WHERE k BETWEEN 1000 AND 1999")
    val got = df.collect().head
    assert(got.getLong(0) == 1000L)
    assert(got.getLong(1) == (1000L to 1999L).map(_ * 3).sum)
    assert(PlanWalk.metric(df, RowGroupsPruned) > 0,
      "selective range must prune row groups of the surviving file")
    // record/page-level: the residual saw ~the matching rows, not
    // the 50k the file holds (generous 5x bound for page edges)
    val evaluated = PlanWalk.metric(df, RowsEvaluated)
    assert(evaluated < 5000L,
      s"residual evaluated $evaluated rows — " +
        "parquet-mr record filtering did not engage")
  }

  test("unfiltered scan still reads everything (no false skipping)") {
    setup()
    val n = spark.sql("SELECT count(*) AS n FROM graftrg.t").head().getLong(0)
    assert(n == 50000L)
  }

  test("DML with __pos stays exact beside the skip machinery") {
    setup()
    spark.sql("UPDATE graftrg.t SET v = -1 WHERE k BETWEEN 100 AND 102")
    val got = spark.sql(
      "SELECT k, v FROM graftrg.t WHERE k BETWEEN 99 AND 103 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((99L, 297L), (100L, -1L), (101L, -1L), (102L, -1L),
      (103L, 309L)), got.toString)
    // patched segment: filtered aggregate still exact (skip suppressed
    // on the overlaid file, residual handles the rest)
    val s = spark.sql(
      "SELECT sum(v) AS s FROM graftrg.t WHERE k BETWEEN 100 AND 102")
      .head().getLong(0)
    assert(s == -3L)
  }

  test("pushdown survives RENAME COLUMN (file stores the old name)") {
    setup()
    stage()
    spark.sql("ALTER TABLE graftrg.t RENAME COLUMN k TO kk")
    val df = spark.sql(
      "SELECT count(*) AS n FROM graftrg.t WHERE kk BETWEEN 2000 AND 2499")
    assert(df.collect().head.getLong(0) == 500L)
    assert(PlanWalk.metric(df, RowGroupsPruned) > 0,
      "block stats must resolve the renamed column by field id")
    assert(PlanWalk.metric(df, FiltersEngaged) > 0,
      "parquet filter must address the FILE's column name")
  }
}
