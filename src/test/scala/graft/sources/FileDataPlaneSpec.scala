package graft.sources

import graft.SparkTestBase

/** The FILE-BACKED data plane of durable catalog tables — the
  * property set that lets the connector exist at 100 TB:
  *
  *  1. commit files REFERENCE data (O(files) bytes), parquet data
  *     files hold the rows, written straight from the write tasks;
  *  2. the data files are PLAIN parquet — any engine reads them
  *     (pinned by round-tripping through Spark's generic
  *     `spark.read.parquet`, the same files DuckDB replays);
  *  3. scan/replay heap is O(1) in table size — a forked 64 MB JVM
  *     (no Spark) replays the log and streams a table whose
  *     materialized rows would not fit;
  *  4. scans plan one split per data file (write parallelism = read
  *     parallelism), and column pruning reaches the parquet pages.
  */
class FileDataPlaneSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_fileplane").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftfp", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftfp.path", root)
  }

  test("1M rows: commit files reference data; a 64MB forked JVM streams the whole table") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftfp.big")
    spark.sql("CREATE TABLE graftfp.big (k BIGINT, payload STRING)")
    spark.sql(
      """INSERT INTO graftfp.big
        |SELECT id, repeat(md5(CAST(id AS STRING)), 3) FROM RANGE(1000000)
        |""".stripMargin)
    spark.sql("DELETE FROM graftfp.big WHERE k % 100000 = 7") // 10 rows
    val expected = 1000000L - 10L

    // metadata-served count agrees (no scan), and the store's live
    // view holds NO heap row segments for the bulk data
    assert(spark.sql("SELECT count(*) AS n FROM graftfp.big")
      .head().getLong(0) == expected)

    val dir = java.nio.file.Paths.get(root, "big")
    // 1) commits reference, never contain: the 1M-row commit file is
    //    O(file refs); the parquet data files carry the bytes
    val commit1 = java.nio.file.Files.size(dir.resolve("00000001.commit"))
    assert(commit1 < 4096, s"1M-row commit file must be O(refs): $commit1 B")
    val entries = CommitLog.open(dir).replay()
    val v1 = entries.find(_.version == 1).get.asInstanceOf[FileCommit]
    assert(v1.files.map(_.count).sum == 1000000L, v1.files.toString)
    // every file carries its OWN stats — the file-skip metadata
    assert(v1.files.forall(_.stats.isDefined), "per-file stats missing")
    val dataBytes = v1.files.map(f =>
      java.nio.file.Files.size(dir.resolve("data").resolve(f.name))
    ).sum[Long]
    // and the data dir holds ONLY the referenced parquet files — no
    // hidden .crc sidecars (RawLocalFileSystem), no orphans
    val onDisk = {
      val s = java.nio.file.Files.list(dir.resolve("data"))
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    assert(onDisk == v1.files.map(_.name).toSet,
      s"unreferenced files in the data dir: ${onDisk -- v1.files.map(_.name).toSet}")
    assert(dataBytes > 10L * 1024 * 1024,
      s"1M rows of data must live in data files, got $dataBytes B")

    // 2) plain-parquet interop: the untouched data files round-trip
    //    through Spark's GENERIC parquet reader with identical content
    //    (the oracle reads the same files from DuckDB)
    val generic = spark.read.parquet(
      v1.files.map(f => dir.resolve("data").resolve(f.name).toString): _*)
    assert(generic.count() == 1000000L)
    assert(generic.schema.fieldNames.toSeq == Seq("k", "payload"))
    assert(generic.selectExpr("sum(k)").head().getLong(0) ==
      499999500000L)

    // 4) one split per data file; pruned single-column read agrees
    val df = spark.table("graftfp.big")
    assert(df.rdd.getNumPartitions == v1.files.length,
      s"expected ${v1.files.length} file splits, " +
        s"got ${df.rdd.getNumPartitions}")
    assert(spark.sql("SELECT sum(k) AS s FROM graftfp.big").head().getLong(0)
      == 499999500000L - (0 until 10).map(i => i * 100000L + 7L).sum)

    // 3) the heap proof: a forked JVM with -Xmx64m — far below the
    //    table's materialized size — replays the log WITHOUT Spark and
    //    streams every live row. OOM or a wrong count fails the exit.
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val cp = sys.props("java.class.path")
    val probe = new ProcessBuilder(javaBin, "-Xmx64m", "-cp", cp,
      "graft.sources.ScanProbe", dir.toString, expected.toString)
      .redirectErrorStream(true).start()
    val out = new String(probe.getInputStream.readAllBytes())
    val code = probe.waitFor()
    assert(code == 0, s"ScanProbe failed (exit $code):\n$out")
    assert(out.contains(s"streamed $expected live rows"), out)
  }

  test("an unpartitioned INSERT lands one file per non-empty task; " +
      "a partitioned RESTORE lands one file per tuple") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftfp.few")
    spark.sql("CREATE TABLE graftfp.few (k BIGINT, v STRING)")
    // 3 rows over 8 source partitions: 5 tasks see no row
    spark.sql("INSERT INTO graftfp.few " +
      "SELECT id, concat('v', id) FROM RANGE(0, 3, 1, 8)")
    def fileSegs(table: String): Seq[FileSeg] =
      MaintenanceSql.storeFor(spark, "graftfp", table).currentState()._1
        .segs.map(_.seg).collect { case f: FileSeg => f }
    def shapes(table: String) =
      fileSegs(table).map(f => (f.partVals, f.specId))
    assert(shapes("few") == Seq.fill(3)((None, 0)), shapes("few").toString)
    val dataDir = java.nio.file.Paths.get(root, "few", "data")
    val onDisk = {
      val s = java.nio.file.Files.list(dataDir)
      try s.count() finally s.close()
    }
    assert(onDisk == 3L, s"$onDisk data files for 3 rows")
    MemCatalog.simulateRestart()
    assert(shapes("few") == Seq.fill(3)((None, 0)), shapes("few").toString)

    spark.sql("DROP TABLE IF EXISTS graftfp.pr")
    spark.sql("CREATE TABLE graftfp.pr (k BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql("INSERT INTO graftfp.pr " +
      "SELECT id, CASE WHEN id % 3 = 0 THEN 'x' ELSE 'y' END " +
      "FROM RANGE(0, 60, 1, 8)")                                         // v1
    spark.sql("DELETE FROM graftfp.pr WHERE k < 6")                      // v2
    MemCatalog.restoreSnapshot("graftfp", "pr", 1)                       // v3
    val restored = fileSegs("pr")
    assert(restored.flatMap(_.partVals).sortBy(_.toString) ==
      Seq("x", "y").map(g => Vector(
        org.apache.spark.unsafe.types.UTF8String.fromString(g))),
      restored.toString)
    assert(spark.table("graftfp.pr").count() == 60L)
  }

  test("time travel, RESTORE, and CDF stay exact on the file plane") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftfp.tt")
    spark.sql("CREATE TABLE graftfp.tt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graftfp.tt SELECT id, concat('x', id) FROM RANGE(5000)") // v1
    spark.sql("UPDATE graftfp.tt SET v = 'hit' WHERE k = 4321")                     // v2
    spark.sql("INSERT INTO graftfp.tt VALUES (9999999, 'tail')")                    // v3
    def count(sql: String) = spark.sql(sql).head().getLong(0)
    assert(count("SELECT count(*) AS n FROM graftfp.tt VERSION AS OF 1") == 5000L)
    assert(count("SELECT count(*) AS n FROM graftfp.tt") == 5001L)
    assert(spark.sql("SELECT v FROM graftfp.tt VERSION AS OF 1 WHERE k = 4321")
      .head().getString(0) == "x4321")
    assert(spark.sql("SELECT v FROM graftfp.tt WHERE k = 4321")
      .head().getString(0) == "hit")
    // CDF pre-image resolves from the data file at the recorded position
    val feed = MemCatalog.tableChanges(spark, "graftfp", "tt", 2, 2).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSet
    assert(feed == Set(("update_preimage", 4321L, "x4321"),
      ("update_postimage", 4321L, "hit")), feed.toString)
    // RESTORE captures the overlaid view into a fresh data file
    MemCatalog.restoreSnapshot("graftfp", "tt", 1)
    assert(count("SELECT count(*) AS n FROM graftfp.tt") == 5000L)
    assert(spark.sql("SELECT v FROM graftfp.tt WHERE k = 4321")
      .head().getString(0) == "x4321")
    // and everything replays from disk alone
    MemCatalog.simulateRestart()
    assert(count("SELECT count(*) AS n FROM graftfp.tt") == 5000L)
    assert(spark.sql("SELECT v FROM graftfp.tt WHERE k = 4321")
      .head().getString(0) == "x4321")
  }

  test("expiry physically deletes unreferenced data files; survivors stay exact") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftfp.vac")
    spark.sql("CREATE TABLE graftfp.vac (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graftfp.vac SELECT id, concat('a', id) FROM RANGE(2000)") // v1
    spark.sql("INSERT OVERWRITE graftfp.vac SELECT id, concat('b', id) FROM RANGE(3000)") // v2
    spark.sql("INSERT INTO graftfp.vac VALUES (77777, 'keep')")                      // v3
    val dataDir = java.nio.file.Paths.get(root, "vac", "data")
    def dataFiles = {
      val s = java.nio.file.Files.list(dataDir)
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    val before = dataFiles
    MemCatalog.expireSnapshots("graftfp", "vac", before = 2)
    val after = dataFiles
    // v1's files (2000 rows nobody references any more) are GONE; the
    // consolidated base + v3's file remain; content exact, live reads
    // re-based onto the survivors
    assert(after.intersect(before).size < before.size,
      s"expiry must delete unreferenced data files: before=$before after=$after")
    assert(spark.table("graftfp.vac").count() == 3001L)
    assert(spark.sql("SELECT v FROM graftfp.vac WHERE k = 77777")
      .head().getString(0) == "keep")
    assert(spark.sql("SELECT count(*) AS n FROM graftfp.vac VERSION AS OF 2")
      .head().getLong(0) == 3000L)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graftfp.vac VERSION AS OF 1").collect())
    assert(e.getMessage.contains("expired"), e.getMessage)
    // replays clean from the pruned, vacuumed log
    MemCatalog.simulateRestart()
    assert(spark.table("graftfp.vac").count() == 3001L)
  }

  test("DATE/TIMESTAMP/DECIMAL columns ride the parquet plane and the change feed") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftfp.dt")
    spark.sql(
      "CREATE TABLE graftfp.dt (k BIGINT, d DATE, ts TIMESTAMP, amt DECIMAL(12,2))")
    spark.sql(
      """INSERT INTO graftfp.dt VALUES
        |(1, DATE'2024-03-01', TIMESTAMP'2024-03-01 12:34:56', 12.34),
        |(2, NULL, NULL, NULL)""".stripMargin)                         // v1
    spark.sql("UPDATE graftfp.dt SET d = DATE'2025-01-02' WHERE k = 1") // v2
    // the table itself round-trips through the data files
    val direct = spark.table("graftfp.dt").orderBy("k").collect()
    assert(direct(0).getDate(1).toString == "2025-01-02")
    assert(direct(0).getDecimal(3).toPlainString == "12.34")
    assert(direct(1).isNullAt(1) && direct(1).isNullAt(2))
    // the CDF frame converts internal date/timestamp/decimal values
    // to proper external types (raw Int days / Long micros used to
    // reach createDataFrame and mis-encode)
    val feed = MemCatalog.tableChanges(spark, "graftfp", "dt", 1, 2)
      .orderBy("_commit_version", "_change_type", "k").collect()
    val ins1 = feed.find(r =>
      r.getString(0) == "insert" && r.getLong(2) == 1L).get
    assert(ins1.getDate(3).toString == "2024-03-01")
    assert(ins1.getTimestamp(4) != null)
    assert(ins1.getDecimal(5).toPlainString == "12.34")
    val pre = feed.find(_.getString(0) == "update_preimage").get
    val post = feed.find(_.getString(0) == "update_postimage").get
    assert(pre.getDate(3).toString == "2024-03-01" &&
      post.getDate(3).toString == "2025-01-02")
    assert(pre.getTimestamp(4) == ins1.getTimestamp(4))
    // durable: identical after a restart (values replay off parquet)
    MemCatalog.simulateRestart()
    assert(spark.table("graftfp.dt").orderBy("k").collect()(0)
      .getDate(1).toString == "2025-01-02")
  }

  test("row-group splits: ONE single-task file scans in parallel, __pos and DML exact") {
    setup()
    // force small row groups so one file carries many (restore after)
    val prev = sys.props.get("graft.catalog.rowgroup.bytes")
    sys.props("graft.catalog.rowgroup.bytes") = (64 * 1024).toString
    try {
      spark.sql("DROP TABLE IF EXISTS graftfp.rg")
      spark.sql("CREATE TABLE graftfp.rg (k BIGINT, v STRING)")
      // range(..., numSlices = 1): ONE write task -> ONE data file
      spark.sql(
        """INSERT INTO graftfp.rg
          |SELECT id, concat('v', id) FROM RANGE(0, 200000, 1, 1)""".stripMargin)
      val entries = CommitLog.open(
        java.nio.file.Paths.get(root, "rg")).replay()
      val v1 = entries.find(_.version == 1).get.asInstanceOf[FileCommit]
      assert(v1.files.length == 1, s"one task must write one file: ${v1.files}")
      // read parallelism decoupled from write parallelism: many splits
      val df = spark.table("graftfp.rg")
      assert(df.rdd.getNumPartitions > 4,
        s"a multi-row-group file must plan >4 splits, got ${df.rdd.getNumPartitions}")
      // __pos is GLOBAL across block splits
      val pos = spark.sql("SELECT __pos FROM graftfp.rg")
        .collect().map(_.getLong(0)).sorted
      assert(pos.toSeq == (0L until 200000L),
        s"positions not global under block splits: ${pos.take(5).mkString(",")}")
      // DML through the parallel block scan targets true positions
      spark.sql(
        """MERGE INTO graftfp.rg t
          |USING (SELECT id * 9973 AS k FROM RANGE(15)) s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = 'hit'""".stripMargin)
      spark.sql("DELETE FROM graftfp.rg WHERE k >= 199990")
      val got = spark.table("graftfp.rg").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 199990)
      (0 until 15).map(_ * 9973L).filter(_ < 199990).foreach(k =>
        assert(got(k) == "hit", s"update missed k=$k"))
      assert(got(123456L) == "v123456", "an untouched row changed")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.rowgroup.bytes") = v
        case None => sys.props.remove("graft.catalog.rowgroup.bytes")
      }
    }
  }
}
