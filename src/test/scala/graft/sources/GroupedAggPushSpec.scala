package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.sources.ScanMetrics.{AggBoundaryRows, AggGroupedServed,
  RowsEvaluated}

/** GROUP BY partition-column aggregate pushdown: the per-partition
  * census (`SELECT day, count(*) ... GROUP BY day`) answers from
  * commit metadata — one row per tuple folded from per-file stats,
  * zero data rows touched. Declines under overlays, filters,
  * non-identity transforms, or non-partition grouping columns. */
class GroupedAggPushSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_gagg").toString

  /** 1 when `df`'s run served its aggregate from metadata. */
  private def served(df: org.apache.spark.sql.DataFrame): Long =
    PlanWalk.metric(df, AggGroupedServed)

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gga", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gga.path", root)
  }

  test("per-partition census serves from metadata, zero rows decoded") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gga.ev")
    spark.sql(
      """CREATE TABLE gga.ev (day STRING, k BIGINT, v DOUBLE)
        |PARTITIONED BY (day)""".stripMargin)
    spark.sql(
      """INSERT INTO gga.ev
        |SELECT concat('d', id % 3), id, id * 1.5 FROM RANGE(3000)
        |""".stripMargin)
    // a second write: multiple files per tuple must still fold
    spark.sql("INSERT INTO gga.ev VALUES ('d1', -1, -1.0)")
    val (rows, census) = collected(
      """SELECT day, count(*) AS n, count(v) AS nv, min(k) AS mn,
        |       max(k) AS mx
        |FROM gga.ev GROUP BY day ORDER BY day""".stripMargin)
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("d0", 1000L, 1000L, 0L, 2997L),
      ("d1", 1001L, 1001L, -1L, 2998L),
      ("d2", 1000L, 1000L, 2L, 2999L)), got)
    assert(served(census) == 1L,
      "grouped aggregate must be metadata-served")
    assert(readers(census) == 0L &&
      PlanWalk.metric(census, RowsEvaluated) == 0L,
      "no data rows may be touched")
    // the metadata answer tracks DML exactly (overlay -> decline path)
    spark.sql("DELETE FROM gga.ev WHERE k = 0")
    val (after, afterDf) = collected(
      "SELECT day, count(*) AS n FROM gga.ev GROUP BY day ORDER BY day")
    assert(after.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("d0", 999L), ("d1", 1001L), ("d2", 1000L)))
    assert(served(afterDf) == 0L,
      "overlaid snapshot must decline to the scan path")
  }

  test("declines: filters, non-partition column, subset still serves") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gga.m")
    spark.sql(
      """CREATE TABLE gga.m (a STRING, b STRING, k BIGINT)
        |PARTITIONED BY (a, b)""".stripMargin)
    spark.sql(
      """INSERT INTO gga.m
        |SELECT concat('a', id % 2), concat('b', id % 2), id
        |FROM RANGE(100)""".stripMargin)
    // SUBSET of the partition columns groups tuples correctly
    val (sub, subDf) = collected(
      "SELECT a, count(*) AS n FROM gga.m GROUP BY a ORDER BY a")
    assert(sub.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a0", 50L), ("a1", 50L)))
    assert(served(subDf) == 1L)
    // a pushed filter over a NON-partition column now composes via
    // per-file stats admission (q330's machinery): whole files the
    // predicate proves contribute stats, boundary groups decode
    val (prov, provable) = collected(
      "SELECT a, count(*) AS n FROM gga.m WHERE k >= 50 GROUP BY a")
    assert(prov.map(_.getLong(1)).sum == 50L)
    assert(served(provable) == 1L,
      "provable non-partition filters must stay metadata-served")
    // a filter over PARTITION columns evaluates exactly on the tuples
    // — whole files keep/drop, still metadata-served, zero decode
    val (rowsF, filteredDf) = collected(
      """SELECT a, count(*) AS n FROM gga.m
        |WHERE b = 'b1' GROUP BY a ORDER BY a""".stripMargin)
    val filtered = rowsF.map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(filtered == Seq(("a1", 50L)), filtered)
    assert(served(filteredDf) == 1L,
      "partition-column filter must stay metadata-served")
    assert(readers(filteredDf) == 0L)
    // grouping by a NON-partition column declines
    val (byRows, byExpr) = collected(
      "SELECT k % 2 AS p, count(*) AS n FROM gga.m GROUP BY k % 2")
    assert(byRows.length == 2)
    assert(served(byExpr) == 0L)
  }

  test("SUM/AVG in the census; a clustered-key predicate stays " +
      "metadata-served with ZERO rows decoded when file-aligned") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gga.rev")
    spark.sql(
      """CREATE TABLE gga.rev (day STRING, k BIGINT, price BIGINT)
        |PARTITIONED BY (day)""".stripMargin)
    // two k-DISJOINT generations per day: the WHERE below aligns to
    // the generation boundary, so every surviving file is PROVED and
    // every dropped file CONTRADICTED — nothing decodes
    spark.sql(
      """INSERT INTO gga.rev
        |SELECT concat('d', id % 2), id, id * 10 FROM RANGE(0, 1000)
        |""".stripMargin)
    spark.sql(
      """INSERT INTO gga.rev
        |SELECT concat('d', id % 2), id, id * 10 FROM RANGE(1000, 2000)
        |""".stripMargin)
    val (rows, gotDf) = collected(
      """SELECT day, count(*) AS n, sum(price) AS rev, avg(price) AS ap
        |FROM gga.rev WHERE k >= 1000 GROUP BY day ORDER BY day
        |""".stripMargin)
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq
    val d0 = (1000L until 2000L).filter(_ % 2 == 0)
    val d1 = (1000L until 2000L).filter(_ % 2 == 1)
    assert(got == Seq(
      ("d0", d0.length.toLong, d0.map(_ * 10).sum, d0.map(_ * 10).sum
        .toDouble / d0.length),
      ("d1", d1.length.toLong, d1.map(_ * 10).sum, d1.map(_ * 10).sum
        .toDouble / d1.length)), got)
    assert(served(gotDf) == 1L,
      "clustered-key predicate + SUM/AVG must stay metadata-served")
    assert(PlanWalk.metric(gotDf, AggBoundaryRows) == 0L &&
      readers(gotDf) == 0L,
      "file-aligned predicate must decode zero rows")
    // an UNALIGNED cut: boundary files decode, result stays exact
    val (cutRows, cutDf) = collected(
      """SELECT day, sum(price) AS rev FROM gga.rev
        |WHERE k >= 500 AND k < 1500 GROUP BY day ORDER BY day
        |""".stripMargin)
    val cut = cutRows.map(r => (r.getString(0), r.getLong(1))).toSeq
    val e0 = (500L until 1500L).filter(_ % 2 == 0).map(_ * 10).sum
    val e1 = (500L until 1500L).filter(_ % 2 == 1).map(_ * 10).sum
    assert(cut == Seq(("d0", e0), ("d1", e1)), cut)
    assert(served(cutDf) == 1L)
    assert(PlanWalk.metric(cutDf, AggBoundaryRows) > 0L,
      "unaligned cut must have decoded boundary rows")
  }
}
