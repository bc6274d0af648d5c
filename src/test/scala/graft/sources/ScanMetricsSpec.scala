package graft.sources

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{PlanWalk, SparkTestBase}

/** The catalog scan's counters are per-query SQL metrics: a query
  * reads its own scan's numbers from its executed plan, whatever else
  * runs on the session at the same time, and a task that reads several
  * splits reports all of them. */
class ScanMetricsSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_smet").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gsmet", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsmet.path", root)
  }

  /** Columnar readers one full scan of `table` opens (a sum over an
    * expression is not served from metadata, so every file is read). */
  private def scanReaders(table: String): Long =
    readers(collected(s"SELECT sum(k * 2) AS s FROM gsmet.$table")._2)

  test("concurrent scans on one session each read their own " +
      "batchReaders") {
    setup()
    Seq("a" -> 8, "b" -> 5).foreach { case (t, files) =>
      spark.sql(s"CREATE TABLE gsmet.$t (k BIGINT)")
      (0 until files).foreach(i => spark.sql(
        s"INSERT INTO gsmet.$t SELECT /*+ REPARTITION(1) */ " +
          s"id + ${i * 500} FROM RANGE(500)"))
    }
    val alone = Map("a" -> scanReaders("a"), "b" -> scanReaders("b"))
    assert(alone == Map("a" -> 8L, "b" -> 5L), alone)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 4).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = alone.keys.toSeq.map(t => Future {
        start.await()
        t -> scanReaders(t)
      })
      start.countDown()
      val together = Await.result(Future.sequence(runs), Duration(120, "s"))
      assert(together.toMap == alone, s"round $round: $together")
    } finally pool.shutdown()
  }

  test("a task reading several splits reports every reader it opened") {
    setup()
    spark.sql(
      "CREATE TABLE gsmet.kp (p BIGINT, k BIGINT) PARTITIONED BY (p)")
    // two single-task inserts over three keys: two files per key
    (0 until 2).foreach(i => spark.sql(
      "INSERT INTO gsmet.kp SELECT /*+ REPARTITION(1) */ id % 3, " +
        s"id + ${i * 300} FROM RANGE(300)"))
    // a storage-partitioned self-join: each side groups its splits by
    // key, so each scan task reads both files of its key
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (rows, df) = collected(
        """SELECT sum(a.k * 2) AS s FROM gsmet.kp a JOIN gsmet.kp b
          |ON a.p = b.p AND a.k = b.k""".stripMargin)
      assert(rows.head.getLong(0) == 2 * (0L until 600L).sum)
      val scans = PlanWalk.operators(df.queryExecution.executedPlan)
        .collect { case b: org.apache.spark.sql.execution.datasources
          .v2.BatchScanExec => b }
      assert(scans.length == 2, df.queryExecution.executedPlan)
      scans.foreach { scan =>
        val tasks = scan.inputRDD.getNumPartitions
        assert(tasks == 3, s"splits were not grouped by key: $tasks tasks")
        val opened = scan.metrics(ScanMetrics.BatchReaders).value
        assert(opened == 6L, s"opened 6 readers, metric says $opened")
      }
    }
  }
}
