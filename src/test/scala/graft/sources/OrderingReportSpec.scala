package graft.sources

import graft.{PlanWalk, SparkTestBase}

/** Output-ordering report (`SupportsReportOrdering`): files whose
  * write-time stats discovered a monotone, non-null column let the
  * scan report a per-partition ordering, and Spark elides the sorts
  * the layout already paid for — `sortWithinPartitions`, and (via
  * RemoveRedundantSorts on a single-partition scan) a global ORDER
  * BY. UPDATE overlays, unsorted files, and any null in the column
  * withdraw the report; DELETE overlays keep it (removal preserves
  * order). */
class OrderingReportSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_ord").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gord", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gord.path", root)
  }

  private def sortCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize AQE before inspecting
    PlanWalk.operators(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])
  }

  test("sorted single-file table: sortWithinPartitions plans NO " +
      "Sort; non-monotone column and unsorted table keep it") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.s")
    spark.sql("CREATE TABLE gord.s (k BIGINT, v BIGINT)")
    // one file, written in k order (REPARTITION(1) + SORT BY)
    spark.sql(
      """INSERT INTO gord.s
        |SELECT k, v FROM (
        |  SELECT /*+ REPARTITION(1) */ id AS k, (id * 37) % 1000 AS v
        |  FROM RANGE(5000)) SORT BY k""".stripMargin)
    val within = spark.table("gord.s").sortWithinPartitions("k")
    assert(sortCount(within) == 0, "per-partition sort must be elided")
    assert(within.collect().map(_.getLong(0)).toSeq == (0L until 5000L))
    // v is NOT monotone: sorting by it still sorts
    assert(sortCount(
      spark.table("gord.s").sortWithinPartitions("v")) == 1)
    // an UNSORTED single file reports nothing
    spark.sql("DROP TABLE IF EXISTS gord.u")
    spark.sql("CREATE TABLE gord.u (k BIGINT)")
    spark.sql("INSERT INTO gord.u SELECT /*+ REPARTITION(1) */ " +
      "(id * 37) % 1000 FROM RANGE(5000)")
    assert(sortCount(
      spark.table("gord.u").sortWithinPartitions("k")) == 1)
    // global ORDER BY is NOT elided (DSv2 reports no SinglePartition /
    // range partitioning — the per-partition claim is the whole win)
    assert(sortCount(spark.sql("SELECT k FROM gord.s ORDER BY k")) == 1)
  }

  test("multi-file: sortWithinPartitions elided (per-partition " +
      "claim), global ORDER BY still sorts (UnknownPartitioning)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.m")
    spark.sql("CREATE TABLE gord.m (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(
      s"""INSERT INTO gord.m
         |SELECT k FROM (
         |  SELECT /*+ REPARTITION(1) */ id + ${i * 100} AS k
         |  FROM RANGE(1000)) SORT BY k""".stripMargin))
    assert(sortCount(
      spark.table("gord.m").sortWithinPartitions("k")) == 0)
    assert(sortCount(spark.sql("SELECT k FROM gord.m ORDER BY k")) == 1,
      "overlapping multi-file scan must NOT satisfy a global order")
  }

  test("DESC-sorted file reports DESCENDING; DELETE keeps the " +
      "report; UPDATE and nulls withdraw it") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.d")
    spark.sql("CREATE TABLE gord.d (k BIGINT, v BIGINT)")
    spark.sql(
      """INSERT INTO gord.d
        |SELECT k, v FROM (
        |  SELECT /*+ REPARTITION(1) */ id AS k, id AS v
        |  FROM RANGE(3000)) SORT BY k DESC""".stripMargin)
    def descWithin() = spark.table("gord.d")
      .sortWithinPartitions(org.apache.spark.sql.functions.col("k").desc)
    val desc = descWithin()
    assert(sortCount(desc) == 0, "DESC write order must report DESC")
    assert(desc.collect().head.getLong(0) == 2999L)
    // ASC over a DESC file still sorts
    assert(sortCount(
      spark.table("gord.d").sortWithinPartitions("k")) == 1)
    // DELETE preserves order: report survives, results exact
    spark.sql("DELETE FROM gord.d WHERE k % 7 = 0")
    val afterDel = descWithin()
    assert(sortCount(afterDel) == 0, "deletions preserve write order")
    assert(afterDel.collect().map(_.getLong(0)).toSeq ==
      (2999L to 0L by -1).filter(_ % 7 != 0))
    // UPDATE voids it (the patch can move k anywhere)
    spark.sql("UPDATE gord.d SET k = -1 WHERE k = 1500")
    val afterUpd = descWithin()
    assert(sortCount(afterUpd) == 1, "a patch overlay withdraws the report")
    assert(afterUpd.collect().map(_.getLong(0)).min == -1L)
    // nulls in the column: no write order recorded
    spark.sql("DROP TABLE IF EXISTS gord.n")
    spark.sql("CREATE TABLE gord.n (k BIGINT)")
    spark.sql(
      """INSERT INTO gord.n
        |SELECT k FROM (
        |  SELECT /*+ REPARTITION(1) */
        |         CASE WHEN id = 0 THEN NULL ELSE id END AS k
        |  FROM RANGE(100)) SORT BY k""".stripMargin)
    assert(sortCount(
      spark.table("gord.n").sortWithinPartitions("k")) == 1,
      "a null anywhere withdraws the report")
  }

  test("OPTIMIZE ZORDER BY (k) discovers sortedness: the rewrite's " +
      "files report ordering AND truncate TopN — no declaration " +
      "anywhere") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.z")
    spark.sql("CREATE TABLE gord.z (k BIGINT, v BIGINT)")
    // 4 UNSORTED, fully-overlapping files
    (0 until 4).foreach(i => spark.sql(
      s"""INSERT INTO gord.z
         |SELECT /*+ REPARTITION(1) */ (id * 131 + $i) % 4000,
         |       id FROM RANGE(1000)""".stripMargin))
    assert(sortCount(
      spark.table("gord.z").sortWithinPartitions("k")) == 1,
      "pre-OPTIMIZE: unsorted files must not report ordering")
    spark.sql("OPTIMIZE gord.z TARGET 1000 ROWS ZORDER BY (k)")
    // the single-key curve rewrite range-partitions and sorts on k
    // itself: every output file is internally sorted and the chain is
    // range-disjoint — ordering report and TopN truncation both
    // engage with no declaration
    assert(sortCount(
      spark.table("gord.z").sortWithinPartitions("k")) == 0,
      "post-OPTIMIZE: write-order discovery must flag the files")
    val (rows, topDf) =
      collected("SELECT k FROM gord.z ORDER BY k DESC LIMIT 10")
    val top = rows.map(_.getLong(0))
    assert(top.length == 10 && top.head == top.max)
    assert(readers(topDf) <= 1,
      s"clustered chain must truncate TopN to the tail file: " +
        s"${readers(topDf)}")
  }

  test("SET CLUSTERED BY (k): plain INSERTs write range-disjoint " +
      "SORTED files — ordering + TopN engage with zero maintenance") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.c")
    spark.sql("CREATE TABLE gord.c (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gord.c SET CLUSTERED BY (k)")
    // unsorted, unpartitioned input: the write path's
    // RequiresDistributionAndOrdering range-distributes and sorts
    // in-task, so landed files are disjoint AND internally sorted
    spark.sql(
      """INSERT INTO gord.c
        |SELECT (id * 131) % 4000 AS k, id AS v FROM RANGE(4000)"""
        .stripMargin)
    assert(sortCount(
      spark.table("gord.c").sortWithinPartitions("k")) == 0,
      "clustered write must land discovered-sorted files")
    val n = spark.sql("SELECT count(*) FROM gord.c").head().getLong(0)
    assert(n == 4000L)
    // TopN truncation engages off the same discovered layout: the
    // covering prefix for LIMIT 5 is the head file alone
    val (rows, topDf) = collected("SELECT k FROM gord.c ORDER BY k LIMIT 5")
    val top = rows.map(_.getLong(0))
    assert(top.head == 0L && top.length == 5)
    assert(readers(topDf) <= 1,
      s"clustered-write chain must truncate TopN: " +
        s"${readers(topDf)}")
  }

  test("SPJ + sorted bucket files: sort-merge join with ZERO " +
      "exchanges AND ZERO sorts") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gord.fact")
    spark.sql("DROP TABLE IF EXISTS gord.dim")
    spark.sql(
      """CREATE TABLE gord.fact (k BIGINT, amount BIGINT)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(
      """CREATE TABLE gord.dim (k BIGINT, weight BIGINT)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    // one task, globally sorted input: EACH bucket file receives its
    // rows in k order -> every bucket = one sorted file
    spark.sql(
      """INSERT INTO gord.fact
        |SELECT k, amount FROM (
        |  SELECT /*+ REPARTITION(1) */ id % 40 AS k, id AS amount
        |  FROM RANGE(4000)) SORT BY k""".stripMargin)
    spark.sql(
      """INSERT INTO gord.dim
        |SELECT k, weight FROM (
        |  SELECT /*+ REPARTITION(1) */ id AS k, id * 100 AS weight
        |  FROM RANGE(40)) SORT BY k""".stripMargin)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val spjPrev =
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val j = spark.sql(
        """SELECT f.k AS k, f.amount * d.weight AS s
          |FROM gord.fact f JOIN gord.dim d ON f.k = d.k""".stripMargin)
      val rows = j.collect()
      assert(rows.length == 4000)
      assert(rows.map(r => r.getLong(1)).sum ==
        (0L until 4000L).map(i => i * ((i % 40) * 100)).sum)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"probe must plan a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"SPJ lost — exchange planned:\n$plan")
      assert(sortCount(j) == 0,
        s"sorted bucket files must elide BOTH SMJ sorts:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spjPrev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }
}
