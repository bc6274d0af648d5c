package graft.sources

import graft.{PlanWalk, SparkTestBase}
import graft.sources.ScanMetrics.PartPruned

import org.apache.spark.sql.functions._

/** Partitioned catalog tables (`PARTITIONED BY` identity / days /
  * bucket):
  *  1. every data file carries ONE partition tuple, surfaced in
  *     `.files`;
  *  2. a partition predicate plans only matching files (the
  *     scan's partPruned metric counts the skips) and is
  *     result-invisible;
  *  3. days() prunes timestamp ranges; bucket() prunes equality;
  *  4. DPP: a dimension-filtered join runtime-prunes fact files;
  *  5. an UPDATE overlay suppresses the prune (a patch can move a
  *     row's partition column under the file);
  *  6. the spec survives restart replay and checkpoint round-trips.
  */
class CatalogPartitionSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_part").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftpart",
      classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftpart.path", root)
  }

  private def planned(sql: String): Int =
    spark.sql(sql).rdd.getNumPartitions

  test("identity partitioning: per-file tuples, .files surface, static prune") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t1")
    spark.sql(
      """CREATE TABLE graftpart.t1 (k BIGINT, grp STRING, payload BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      """INSERT INTO graftpart.t1
        |SELECT id, CASE id % 4 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
        |                       WHEN 2 THEN 'c' ELSE 'd' END, id * 7
        |FROM RANGE(4000)""".stripMargin)

    // one tuple per file, all four partitions present
    val files = spark.sql("SELECT partition, n_rows FROM graftpart.t1.files")
      .collect()
    assert(files.forall(_.getString(0) != null), "file without a tuple")
    val parts = files.map(_.getString(0)).toSet
    assert(parts == Set("grp=a", "grp=b", "grp=c", "grp=d"), parts.toString)

    // partition predicate plans ONLY matching files...
    val total = planned("SELECT payload FROM graftpart.t1")
    val oneSql = "SELECT payload FROM graftpart.t1 WHERE grp = 'c'"
    val one = planned(oneSql)
    assert(one < total, s"prune must drop files: $one/$total")
    val oneDf = spark.sql(oneSql)
    oneDf.collect()
    assert(PlanWalk.metric(oneDf, PartPruned) > 0,
      "partition prune metric never moved")
    // ...IN-sets too...
    val two = planned(
      "SELECT payload FROM graftpart.t1 WHERE grp IN ('a', 'd')")
    assert(two > one && two < total, s"$one < $two < $total expected")
    // ...and the skip is result-invisible (the concat defeats pushdown)
    assert(spark.sql(
      "SELECT count(*) AS n, sum(payload) AS s FROM graftpart.t1 " +
        "WHERE grp = 'c'").head().toSeq ==
      spark.sql(
        "SELECT count(*), sum(payload) FROM graftpart.t1 " +
          "WHERE grp || '' = 'c'").head().toSeq)
  }

  test("days() prunes timestamp predicates; bucket() prunes equality") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t2")
    spark.sql(
      """CREATE TABLE graftpart.t2 (ts TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graftpart.t2
        |SELECT timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 7200), id
        |FROM RANGE(240)""".stripMargin) // 20 days, 12 rows/day
    val totalT = planned("SELECT v FROM graftpart.t2")
    val dayT = planned(
      "SELECT v FROM graftpart.t2 " +
        "WHERE ts >= timestamp'2024-03-05 00:00:00' " +
        "AND ts < timestamp'2024-03-06 00:00:00'")
    assert(dayT < totalT, s"day range must prune: $dayT/$totalT")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftpart.t2 " +
        "WHERE ts >= timestamp'2024-03-05 00:00:00' " +
        "AND ts < timestamp'2024-03-06 00:00:00'").head().getLong(0) == 12L)

    spark.sql("DROP TABLE IF EXISTS graftpart.t3")
    spark.sql(
      """CREATE TABLE graftpart.t3 (k BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(8, k))""".stripMargin)
    spark.sql("INSERT INTO graftpart.t3 SELECT id, id * 3 FROM RANGE(4000)")
    val totalB = planned("SELECT v FROM graftpart.t3")
    assert(totalB >= 8, s"8 buckets expected, planned $totalB")
    val oneB = planned("SELECT v FROM graftpart.t3 WHERE k = 1234")
    assert(oneB < totalB, s"bucket prune: $oneB/$totalB")
    assert(spark.sql("SELECT v FROM graftpart.t3 WHERE k = 1234")
      .head().getLong(0) == 3702L)
  }

  test("DPP: a filtered dim runtime-prunes the partitioned fact's files") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.fact")
    spark.sql(
      """CREATE TABLE graftpart.fact (grp STRING, amount BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      """INSERT INTO graftpart.fact
        |SELECT CASE id % 5 WHEN 0 THEN 'g0' WHEN 1 THEN 'g1'
        |            WHEN 2 THEN 'g2' WHEN 3 THEN 'g3' ELSE 'g4' END, id
        |FROM RANGE(5000)""".stripMargin)
    // FILE-backed dim: DPP needs a selective predicate on a relation
    // Spark won't constant-fold (the q294 lesson)
    val dimPath = s"$root/dim_parquet"
    spark.range(5).selectExpr("concat('g', id) AS grp",
      "id AS tag").write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("part_dim")

    val gotDf = spark.sql(
      """SELECT f.grp, sum(f.amount) AS s FROM graftpart.fact f
        |JOIN part_dim d ON f.grp = d.grp
        |WHERE d.tag = 2 GROUP BY f.grp""".stripMargin)
    val got = gotDf.collect()
    assert(got.length == 1 && got.head.getString(0) == "g2")
    assert(PlanWalk.metric(gotDf, PartPruned) > 0,
      "runtime (DPP) filter never pruned a fact file")

    // the physical plan carries the dynamic-pruning subquery on the scan
    val plan = spark.sql(
      """SELECT f.grp, sum(f.amount) AS s FROM graftpart.fact f
        |JOIN part_dim d ON f.grp = d.grp
        |WHERE d.tag = 2 GROUP BY f.grp""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("UPDATE overlay suppresses the prune; spec survives restart + checkpoint") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t4")
    spark.sql(
      """CREATE TABLE graftpart.t4 (k BIGINT, grp STRING, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      """INSERT INTO graftpart.t4
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END, id
        |FROM RANGE(1000)""".stripMargin)
    // move one row's PARTITION COLUMN under its file: the prune must
    // not hide it (patched segments never skip)
    spark.sql("UPDATE graftpart.t4 SET grp = 'z' WHERE k = 500")
    val z = spark.sql("SELECT k FROM graftpart.t4 WHERE grp = 'z'").collect()
    assert(z.map(_.getLong(0)).toSeq == Seq(500L),
      "partition prune hid an UPDATE-patched row")

    // restart: the spec replays from _partition, pruning still plans
    // fewer files, content identical
    val before = spark.table("graftpart.t4").orderBy("k").collect()
    MemCatalog.simulateRestart()
    assert(spark.table("graftpart.t4").orderBy("k").collect()
      .sameElements(before), "restart changed content")
    val total = planned("SELECT v FROM graftpart.t4")
    val one = planned("SELECT v FROM graftpart.t4 WHERE grp = 'x'")
    assert(one < total, s"post-restart prune: $one/$total")

    // force a checkpoint (16+ commits), restart again: partVals must
    // round-trip the checkpoint codec, not just the commit codec
    (0 until 17).foreach { i =>
      spark.sql(s"INSERT INTO graftpart.t4 VALUES (${2000 + i}, 'x', $i)")
    }
    val pre = spark.table("graftpart.t4").orderBy("k").collect()
    MemCatalog.simulateRestart()
    assert(spark.table("graftpart.t4").orderBy("k").collect()
      .sameElements(pre), "checkpointed restart changed content")
    val one2 = planned("SELECT v FROM graftpart.t4 WHERE grp = 'y'")
    val total2 = planned("SELECT v FROM graftpart.t4")
    assert(one2 < total2, s"post-checkpoint prune: $one2/$total2")
  }

  test("partitioned CREATE demands a durable catalog and valid transforms") {
    setup()
    // unknown column
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graftpart.bad1 (k BIGINT) PARTITIONED BY (nope)")
    }
    assert(e1.getMessage != null)
    // days() on a non-time column
    spark.sql("DROP TABLE IF EXISTS graftpart.bad2")
    val e2 = intercept[Exception] {
      spark.sql(
        "CREATE TABLE graftpart.bad2 (k BIGINT) PARTITIONED BY (days(k))")
    }
    assert(e2.getMessage.contains("days"), e2.getMessage)
  }

  test("OPTIMIZE on a partitioned table keeps tuples; expiry consolidates per partition") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t5")
    spark.sql(
      """CREATE TABLE graftpart.t5 (grp STRING, k BIGINT, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    // several small inserts -> many small files per partition
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO graftpart.t5
           |SELECT CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END,
           |       id + ${i * 1000}, id FROM RANGE(1000)""".stripMargin)
    }
    val before = spark.table("graftpart.t5").orderBy("k").collect()
    MemCatalog.optimizeTable(spark, "graftpart", "t5",
      targetFileRows = 1000, zorderBy = Seq("k"))
    assert(spark.table("graftpart.t5").orderBy("k").collect()
      .sameElements(before), "OPTIMIZE changed content")
    // every rewritten file still carries its ONE partition tuple...
    val parts = spark.sql("SELECT partition FROM graftpart.t5.files")
      .collect().map(_.getString(0))
    assert(parts.forall(p => p == "grp=x" || p == "grp=y"),
      s"rewritten files lost their tuples: ${parts.toSeq}")
    // ...so partition pruning still plans fewer files
    val total = spark.sql("SELECT v FROM graftpart.t5").rdd.getNumPartitions
    val one = spark.sql("SELECT v FROM graftpart.t5 WHERE grp = 'x'")
      .rdd.getNumPartitions
    assert(one < total, s"post-OPTIMIZE prune: $one/$total")

    // expiry consolidation keeps one file PER PARTITION, tuples intact
    val v = spark.sql("SELECT max(version) FROM graftpart.t5.history")
      .head().getLong(0).toInt
    MemCatalog.expireSnapshots("graftpart", "t5", before = v)
    assert(spark.table("graftpart.t5").orderBy("k").collect()
      .sameElements(before), "expiry changed content")
    val partsAfter = spark.sql("SELECT partition FROM graftpart.t5.files")
      .collect().map(_.getString(0)).toSeq
    assert(partsAfter.sorted == Seq("grp=x", "grp=y"),
      s"consolidation must keep per-partition files: $partsAfter")
    val one2 = spark.sql("SELECT v FROM graftpart.t5 WHERE grp = 'y'")
      .rdd.getNumPartitions
    val total2 = spark.sql("SELECT v FROM graftpart.t5").rdd.getNumPartitions
    assert(one2 < total2, s"post-expiry prune: $one2/$total2")
  }

  test(".partitions metadata table: live per-tuple census, O(metadata)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t6")
    spark.sql(
      """CREATE TABLE graftpart.t6 (grp STRING, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql(
      """INSERT INTO graftpart.t6
        |SELECT CASE WHEN id < 30 THEN 'a' ELSE 'b' END, id
        |FROM RANGE(100)""".stripMargin)
    spark.sql("DELETE FROM graftpart.t6 WHERE grp = 'b' AND v >= 90")
    val rows = spark.sql(
      "SELECT partition, n_files, n_rows, n_live FROM graftpart.t6.partitions " +
        "ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("grp=a", 30L, 30L), ("grp=b", 70L, 60L)),
      s".partitions census wrong: $rows")
  }

  test("streaming sink into a PARTITIONED table: per-tuple files, prune works") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftpart.t7")
    spark.sql(
      """CREATE TABLE graftpart.t7 (grp STRING, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("gp_sink").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    source.addData(0L until 40L: _*)
    val q = source.toDS()
      .select(concat(lit("g"), col("value") % 2).as("grp"),
        col("value").as("v"))
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graftpart.t7")
    q.processAllAvailable()
    q.stop()
    val parts = spark.sql("SELECT partition FROM graftpart.t7.files")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("grp=g0", "grp=g1"),
      s"streamed files must carry tuples: $parts")
    val total = planned("SELECT v FROM graftpart.t7")
    val one = planned("SELECT v FROM graftpart.t7 WHERE grp = 'g0'")
    assert(one < total, s"streamed partitions must prune: $one/$total")
    assert(spark.sql("SELECT count(*) FROM graftpart.t7 WHERE grp = 'g1'")
      .head().getLong(0) == 20L)
  }
}
