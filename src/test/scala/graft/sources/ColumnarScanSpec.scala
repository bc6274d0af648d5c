package graft.sources

import graft.{PlanWalk, SparkTestBase}

/** The catalog's VECTORIZED scan path end-to-end: a file-backed table
  * decodes through columnar batches (proof: `ColumnarToRow` in the
  * physical plan + the scan's batch-reader metric), results identical
  * to the row path — with delete and patch overlays, heap insert
  * tails, `__pos` and pushed filters the source evaluates exactly
  * ([[ColumnarTwinSpec]] checks random overlay states against the row
  * path). */
class ColumnarScanSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_colscan").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gcs", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcs.path", root)
  }

  private def isColumnar(sql: String): Boolean =
    spark.sql(sql).queryExecution.executedPlan.toString
      .contains("ColumnarToRow")

  test("overlay-free table scans columnar; results match row path") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.t")
    spark.sql("CREATE TABLE gcs.t (k BIGINT, v DOUBLE, s STRING)")
    spark.sql(
      """INSERT INTO gcs.t
        |SELECT id, id * 1.5, md5(cast(id as string)) FROM RANGE(50000)
        |""".stripMargin)
    val df = spark.sql("SELECT sum(v) AS sv, count(s) AS c FROM gcs.t")
    val r = df.collect()(0) // collect() executes THIS df's plan (head()
    // plans a separate limited query), so the post-AQE final plan below
    // is the one that actually ran
    assert(r.getDouble(0) == (0L until 50000L).map(_ * 1.5).sum)
    assert(r.getLong(1) == 50000L)
    assert(readers(df) > 0, "batch reader never opened")
    // the FINAL (post-AQE) plan carries the columnar-to-row bridge
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString)
  }

  test("full row content matches the row path exactly") {
    setup()
    // force the ROW path via __pos to get reference values
    val viaPos = spark.sql(
      "SELECT k, v, s FROM gcs.t ORDER BY k LIMIT 100").collect()
    val viaBatch = spark.sql(
      "SELECT k, v, s FROM gcs.t ORDER BY k LIMIT 100").collect()
    assert(viaPos.toSeq == viaBatch.toSeq)
    assert(viaBatch(17).getString(2) ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("17"))
  }

  test("row overlay (DELETE) stays COLUMNAR via the selection vector") {
    setup()
    spark.sql("DELETE FROM gcs.t WHERE k = 123")
    val df = spark.sql("SELECT count(*) AS c, sum(k) AS sk FROM gcs.t " +
      "GROUP BY k % 1 ORDER BY c")
    val r = df.collect().head
    assert(r.getLong(0) == 49999L)
    assert(r.getLong(1) == (0L until 50000L).sum - 123L)
    assert(readers(df) > 0,
      "a DELETE overlay must no longer forfeit the columnar path")
    // string content around the deleted position survives the remap
    val s = spark.sql(
      "SELECT s FROM gcs.t WHERE k IN (122, 124) ORDER BY k").collect()
    assert(s.map(_.getString(0)).toSeq == Seq(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("122"),
      org.apache.commons.codec.digest.DigestUtils.md5Hex("124")))
  }

  test("pushed filter (exactly consumed by source) scans columnar; " +
      "batch rows are filtered row-exactly") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.t2")
    spark.sql("CREATE TABLE gcs.t2 (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gcs.t2 SELECT id, id * 0.5 FROM RANGE(10000)")
    val df = spark.sql("SELECT sum(v) AS sv FROM gcs.t2 WHERE k < 100")
    assert(df.collect().head.getDouble(0) ==
      (0L until 100L).map(_ * 0.5).sum)
    assert(readers(df) > 0,
      "exact-consumption filters must ride the selection vector, " +
        "not force the row path")
    // filter columns not in the output still prune correctly
    val c = spark.sql(
      "SELECT count(v) AS c FROM gcs.t2 WHERE k >= 9990").head()
    assert(c.getLong(0) == 10L)
  }

  test("DELETE overlay + pushed filter compose on the columnar path") {
    setup()
    spark.sql("DELETE FROM gcs.t2 WHERE k = 50")
    val df = spark.sql("SELECT sum(k) AS sk, count(*) AS c FROM gcs.t2 " +
      "WHERE k < 100 GROUP BY k % 1")
    val r = df.collect().head
    assert(r.getLong(0) == (0L until 100L).sum - 50L)
    assert(r.getLong(1) == 99L)
    assert(readers(df) > 0)
  }

  test("UPDATE (patch overlay) stays columnar and matches the row path") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.up")
    spark.sql("CREATE TABLE gcs.up (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gcs.up SELECT id, id * 1.0 FROM RANGE(1000)")
    spark.sql("UPDATE gcs.up SET v = -1.0 WHERE k = 7")
    val df = spark.sql("SELECT sum(v) AS sv FROM gcs.up GROUP BY k % 1")
    val r = df.collect().head
    assert(r.getDouble(0) == (0L until 1000L).map(_.toDouble).sum - 8.0)
    assert(readers(df) > 0,
      "a patch overlay is served in place through the selection vector")
    val q = "SELECT k, v FROM gcs.up WHERE k < 20"
    val rowPath = withConf("spark.graft.catalog.columnar.enabled" -> "false") {
      spark.sql(q).collect().toSeq
    }
    assert(spark.sql(q).collect().toSeq == rowPath)
    assert(rowPath.find(_.getLong(0) == 7L).get.getDouble(1) == -1.0)
  }

  test("point read after a MERGE decodes columnar") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.mg")
    spark.sql("CREATE TABLE gcs.mg (k BIGINT, v BIGINT, s STRING)")
    spark.sql("INSERT INTO gcs.mg SELECT /*+ REPARTITION(1) */ id, id, " +
      "concat('s', CAST(id AS STRING)) FROM RANGE(5000)")
    // updates patch the file; the new keys land as a heap insert tail
    spark.sql(
      """MERGE INTO gcs.mg USING (SELECT id AS k, -id AS v, 'm' AS s
        |  FROM RANGE(4990, 5010)) src ON gcs.mg.k = src.k
        |WHEN MATCHED THEN UPDATE SET v = src.v, s = src.s
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    Seq(4995L -> -4995L, 5005L -> -5005L, 17L -> 17L).foreach {
      case (k, v) =>
        val df = spark.sql(s"SELECT v FROM gcs.mg WHERE k = $k")
        assert(df.collect().map(_.getLong(0)).toSeq == Seq(v))
        assert(PlanWalk.metric(df, ScanMetrics.BatchReaders) > 0,
          s"point read of k=$k after a MERGE left the columnar path")
    }
  }

  test("OPTIMIZE'd (compacted) table returns to the columnar path") {
    setup()
    spark.sql("OPTIMIZE gcs.t")
    val df = spark.sql("SELECT count(*) AS c, sum(k) AS sk FROM gcs.t " +
      "GROUP BY true")
    val r = df.collect().head
    assert(r.getLong(0) == 49999L)
    assert(r.getLong(1) == (0L until 50000L).sum - 123L)
    assert(readers(df) > 0,
      "compaction clears the overlay; the columnar path must re-engage")
  }

  test("exact in-scan filtering with one surviving file reader") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.rf")
    spark.sql("CREATE TABLE gcs.rf (k BIGINT, v DOUBLE)")
    // range-disjoint files so the predicate can SKIP one entirely
    Seq((0, 5000), (5000, 10000)).foreach { case (a, b) =>
      spark.sql(s"INSERT INTO gcs.rf SELECT /*+ REPARTITION(1) */ id, " +
        s"id * 2.0 FROM RANGE($a, $b)")
    }
    val q = "SELECT sum(v) AS sv FROM gcs.rf WHERE k >= 5000 AND k < 6000"
    val expect = (5000L until 6000L).map(_ * 2.0).sum
    // exact consumption — columnar with row-wise selection, and the
    // k<5000 file skips at plan time (1 reader, not 2)
    val df = spark.sql(q)
    assert(df.collect()(0).getDouble(0) == expect)
    assert(readers(df) == 1,
      s"expected 1 surviving file reader, got ${readers(df)}")
  }

  test("__pos (DML candidate) scans decode columnar: row-ids skip " +
      "delete holes exactly, so a second DELETE lands on the right rows") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.dml")
    spark.sql("CREATE TABLE gcs.dml (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcs.dml SELECT /*+ REPARTITION(1) */ id, " +
      "id * 7 FROM RANGE(10000)")
    // first DELETE punches a hole EARLY so every later row-id shifts
    spark.sql("DELETE FROM gcs.dml WHERE k = 5")
    // the second DELETE's candidate scan projects __pos over the
    // overlaid table — it must decode columnar AND compute live
    // row-ids that account for the hole, or the wrong rows die
    // (a command runs eagerly; its plan holds the candidate scan)
    val del = spark.sql("DELETE FROM gcs.dml WHERE k >= 100 AND k < 110")
    assert(readers(del) > 0,
      "__pos candidate scans must ride the columnar path")
    val r = spark.sql("SELECT count(*) AS c, sum(k) AS sk FROM gcs.dml " +
      "GROUP BY k % 1").head()
    assert(r.getLong(0) == 10000L - 1 - 10)
    assert(r.getLong(1) ==
      (0L until 10000L).sum - 5L - (100L until 110L).sum)
    // UPDATE through the same path: the candidate scan sees current
    // row-ids; the patch overlay then rides the batch path too
    spark.sql("UPDATE gcs.dml SET v = -1 WHERE k = 4000")
    assert(spark.sql("SELECT v FROM gcs.dml WHERE k = 4000")
      .head().getLong(0) == -1L)
    assert(spark.sql("SELECT v FROM gcs.dml WHERE k = 4001")
      .head().getLong(0) == 4001L * 7)
    val sum = spark.sql("SELECT sum(v) AS sv FROM gcs.dml GROUP BY k % 1")
    assert(sum.collect().head.getLong(0) ==
      (0L until 10000L).map(_ * 7).sum - 35L -
        (100L until 110L).map(_ * 7).sum - 4000L * 7 - 1L)
    assert(readers(sum) > 0,
      "a patch overlay stays on the batch path")
  }

  test("embedding (array<float>) scans decode columnar") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gcs.emb")
    spark.sql("CREATE TABLE gcs.emb (id BIGINT, emb ARRAY<FLOAT>)")
    spark.sql(
      """INSERT INTO gcs.emb
        |SELECT id,
        |  transform(sequence(0, 7),
        |    x -> cast(if(x < 0, null, id + x) as float))
        |FROM RANGE(2000)""".stripMargin)
    val df = spark.sql(
      """SELECT sum(aggregate(emb, cast(0.0d as double),
        |  (a, x) -> a + cast(x as double))) AS s FROM gcs.emb
        |""".stripMargin)
    val r = df.collect().head
    val expect = (0L until 2000L).map(i => (0 to 7).map(_ + i.toDouble).sum)
      .sum
    assert(math.abs(r.getDouble(0) - expect) < 1e-6)
    assert(readers(df) > 0,
      "nested-column scans must decode through the columnar path")
  }
}
