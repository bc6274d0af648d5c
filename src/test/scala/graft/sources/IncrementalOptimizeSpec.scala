package graft.sources

import graft.SparkTestBase

/** INCREMENTAL OPTIMIZE (bin-packing): `OPTIMIZE t [TARGET n ROWS]`
  * with no clustering directive rewrites ONLY dirty files — small,
  * overlay-carrying, or old-partition-spec — as one atomic
  * `compaction` drop-add commit (`dataChange = false`):
  *
  *  1. untouched (compact) files pass through BYTE-IDENTICAL — same
  *     name, same bytes on disk, still referenced by the new snapshot;
  *  2. the dirty small files fold into fewer compact ones (snapshot
  *     segment count drops), content identical;
  *  3. the change feed serves NO rows for the compaction version and
  *     the streaming source counts zero inserts (no re-serving);
  *  4. the commit replays across a restart (kind-6 compaction tail);
  *  5. a clean table is a NO-OP (no commit at all) — the O(dirty)
  *     property that makes the verb schedulable at 100 TB;
  *  6. a stale expected version aborts loudly (maintenance reruns).
  */
class IncrementalOptimizeSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_incropt").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.ginc", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginc.path", root)
  }

  private def segNames(store: MemStore): Seq[String] =
    store.currentState()._1.segs.map(_.seg match {
      case f: FileSeg =>
        java.nio.file.Paths.get(f.path).getFileName.toString
      case other => fail(s"non-file seg $other")
    })

  test("bin-pack: small files fold, compact files byte-identical; " +
      "content identical; no CDF rows; survives restart") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ginc.t")
    spark.sql("CREATE TABLE ginc.t (k BIGINT, s STRING)")
    // one COMPACT file (10k rows >= target/2) ...
    spark.sql(
      """INSERT INTO ginc.t
        |SELECT /*+ REPARTITION(1) */ id, md5(cast(id as string))
        |FROM RANGE(10000)""".stripMargin)
    // ... plus four SMALL files
    (1 to 4).foreach(i => spark.sql(
      s"""INSERT INTO ginc.t
         |SELECT /*+ REPARTITION(1) */ id + ${i * 100000},
         |       md5(cast(id as string)) FROM RANGE(50)""".stripMargin))
    val store = MaintenanceSql.storeFor(spark, "ginc", "t")
    val before = segNames(store)
    assert(before.length == 5, before)
    val compactName = before.head
    val compactPath = java.nio.file.Paths.get(root, "t", "data", compactName)
    val bytesBefore = java.nio.file.Files.readAllBytes(compactPath)
    val vBefore = store.currentVersion
    val sumBefore = spark.sql("SELECT sum(k) FROM ginc.t").head().getLong(0)

    val msg = spark.sql("OPTIMIZE ginc.t TARGET 10000 ROWS")
      .head().getString(1)
    // ONE new version; the compact file survives untouched (name AND
    // bytes); the 4 small files folded into one
    assert(store.currentVersion == vBefore + 1, msg)
    val after = segNames(store)
    assert(after.contains(compactName),
      s"compact file must pass through untouched: $after")
    assert(after.length == 2, s"4 small files should fold into 1: $after")
    assert(java.nio.file.Files.readAllBytes(compactPath)
      .sameElements(bytesBefore), "untouched file bytes changed")
    assert(spark.sql("SELECT sum(k) FROM ginc.t").head().getLong(0)
      == sumBefore)
    // dataChange = false: no change-feed rows, no stream inserts
    val cdf = store.changes(vBefore + 1, vBefore + 1)
    assert(cdf.isEmpty, s"compaction leaked ${cdf.length} CDF rows")
    assert(store.insertRowsAt(vBefore + 1) == 0L,
      "streaming source must not re-serve compacted rows")
    // restart: the compaction commit replays from the log
    MemCatalog.simulateRestart()
    assert(spark.sql("SELECT sum(k) FROM ginc.t").head().getLong(0)
      == sumBefore)
    val store2 = MaintenanceSql.storeFor(spark, "ginc", "t")
    assert(segNames(store2).toSet == after.toSet)
  }

  test("clean table: OPTIMIZE is a no-op (no commit)") {
    setup()
    val store = MaintenanceSql.storeFor(spark, "ginc", "t")
    val v = store.currentVersion
    spark.sql("OPTIMIZE ginc.t TARGET 10000 ROWS").collect()
    assert(store.currentVersion == v,
      "a clean table must not pay any commit")
  }

  test("delete overlay marks its file dirty; others untouched") {
    setup()
    val store = MaintenanceSql.storeFor(spark, "ginc", "t")
    val before = segNames(store)
    assert(before.length == 2, before)
    // delete one row that lives in the SMALL folded file (k >= 100000)
    spark.sql("DELETE FROM ginc.t WHERE k = 100001")
    val sum = spark.sql("SELECT sum(k) FROM ginc.t").head().getLong(0)
    spark.sql("OPTIMIZE ginc.t TARGET 10000 ROWS").collect()
    val after = segNames(store)
    assert(after.contains(before.head),
      s"overlay-free compact file must survive: $after")
    assert(!after.contains(before(1)),
      s"overlaid file must have been rewritten: $after")
    assert(spark.sql("SELECT sum(k) FROM ginc.t").head().getLong(0) == sum)
    // the overlay is gone: the table is columnar-eligible again
    // (GROUP BY a non-partition expression so the metadata-served
    // SUM pushdown can't answer without scanning)
    val (_, q) = collected("SELECT sum(k) AS s FROM ginc.t GROUP BY k % 1")
    assert(readers(q) > 0,
      "compaction should clear the overlay and keep the scan columnar")
  }

  test("stale expected version aborts loudly") {
    setup()
    val store = MaintenanceSql.storeFor(spark, "ginc", "t")
    val e = intercept[java.util.ConcurrentModificationException] {
      store.compactFiles(Set("nonexistent.parquet"), Seq.empty,
        store.currentVersion - 1)
    }
    assert(e.getMessage.contains("rerun OPTIMIZE"), e.getMessage)
  }

  test("compaction REBASES over an interleaved append: both land, " +
      "content equals serial execution; non-append overlap still aborts") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ginc.rb")
    spark.sql("CREATE TABLE ginc.rb (k BIGINT, s STRING)")
    Seq(0, 100).foreach(base => spark.sql(
      s"""INSERT INTO ginc.rb
         |SELECT /*+ REPARTITION(1) */ id + $base, md5(cast(id + $base
         |  as string)) FROM RANGE(50)""".stripMargin))
    val store = MaintenanceSql.storeFor(spark, "ginc", "rb")
    val planned = segNames(store).toSet
    val vPlanned = store.currentVersion
    // the replacement the (already-running) OPTIMIZE wrote: exactly
    // the two small files' content, one compact file
    val repl = {
      val schema = store.physSchema
      val name = s"repl-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val w = ParquetRowIO.writer(
        java.nio.file.Paths.get(store.dataDirStr.get, name).toString, schema)
      val acc = new CommitStats.Acc(schema)
      var n = 0L
      ((0L until 50L) ++ (100L until 150L)).foreach { k =>
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](k,
            org.apache.spark.unsafe.types.UTF8String.fromString(
              org.apache.commons.codec.digest.DigestUtils
                .md5Hex(k.toString))))
        w.write(row); acc.add(row); n += 1
      }
      w.close()
      FileRef(name, n, Some(acc.result))
    }
    // ingest RACES in an append before the compaction commits
    spark.sql(
      """INSERT INTO ginc.rb
        |SELECT /*+ REPARTITION(1) */ id + 200, md5(cast(id + 200
        |  as string)) FROM RANGE(50)""".stripMargin)
    val appended = (segNames(store).toSet -- planned).head
    val appendedPath = java.nio.file.Paths.get(root, "rb", "data", appended)
    val appendedBytes = java.nio.file.Files.readAllBytes(appendedPath)
    // rebase: the drop-add lands on the NEW head instead of aborting
    store.compactFiles(planned, Seq(repl), vPlanned)
    assert(store.currentVersion == vPlanned + 2,
      "append + rebased compaction = two commits")
    val after = segNames(store).toSet
    assert(after == Set(repl.name, appended), after)
    assert(java.nio.file.Files.readAllBytes(appendedPath)
      .sameElements(appendedBytes), "racing append must pass through " +
      "byte-identical")
    // content equals serial execution (all 150 rows, exact sum)
    assert(spark.sql("SELECT count(*) FROM ginc.rb").head().getLong(0)
      == 150L)
    assert(spark.sql("SELECT sum(k) FROM ginc.rb").head().getLong(0) ==
      ((0L until 50L) ++ (100L until 150L) ++ (200L until 250L)).sum)
    // the compaction stayed dataChange=false on the rebased slot
    assert(store.insertRowsAt(store.currentVersion) == 0L)
    // a NON-append interleave (row-level DML could overlay a named
    // file) still aborts loudly
    val v2 = store.currentVersion
    spark.sql("DELETE FROM ginc.rb WHERE k = 200")
    val e = intercept[java.util.ConcurrentModificationException] {
      store.compactFiles(Set(repl.name), Seq.empty, v2)
    }
    assert(e.getMessage.contains("rerun OPTIMIZE"), e.getMessage)
  }

  test("a compaction entry survives the CHECKPOINT codec (cold load " +
      "from the fast path)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ginc.ck")
    spark.sql("CREATE TABLE ginc.ck (k BIGINT)")
    // versions 1..15: small files; version 16 = the compaction ->
    // lands exactly on the checkpoint cadence (CheckpointEvery = 16),
    // so the checkpoint serializes a VDropAdd WITH the compaction flag
    (1 to 15).foreach(i => spark.sql(
      s"INSERT INTO ginc.ck SELECT /*+ REPARTITION(1) */ id + ${i * 1000} " +
        "FROM RANGE(10)"))
    spark.sql("OPTIMIZE ginc.ck TARGET 1000 ROWS").collect()
    val store = MaintenanceSql.storeFor(spark, "ginc", "ck")
    assert(store.currentVersion == 16, s"v=${store.currentVersion}")
    val ckpt = java.nio.file.Paths.get(root, "ck", "00000016.checkpoint")
    assert(java.nio.file.Files.exists(ckpt), "checkpoint expected at v16")
    val sum = spark.sql("SELECT sum(k) FROM ginc.ck").head().getLong(0)
    val names = segNames(store).toSet
    MemCatalog.simulateRestart()
    val store2 = MaintenanceSql.storeFor(spark, "ginc", "ck")
    assert(spark.sql("SELECT sum(k) FROM ginc.ck").head().getLong(0) == sum)
    assert(segNames(store2).toSet == names)
    // and the reloaded entry still reads as dataChange=false
    assert(store2.insertRowsAt(16) == 0L,
      "checkpointed compaction must stay dataChange=false")
  }

  test("OPTIMIZE ... WHERE scopes the bin-pack to matching partitions") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ginc.p")
    spark.sql(
      "CREATE TABLE ginc.p (day STRING, k BIGINT) PARTITIONED BY (day)")
    // two small files per day, two days
    (1 to 2).foreach { i =>
      spark.sql(s"INSERT INTO ginc.p SELECT 'd1', id + ${i * 100} " +
        "FROM RANGE(20)")
      spark.sql(s"INSERT INTO ginc.p SELECT 'd2', id + ${i * 100} " +
        "FROM RANGE(20)")
    }
    val store = MaintenanceSql.storeFor(spark, "ginc", "p")
    val before = segNames(store)
    assert(before.length == 4, before)
    val sum = spark.sql("SELECT sum(k) FROM ginc.p").head().getLong(0)
    val msg = spark.sql("OPTIMIZE ginc.p WHERE day = 'd1' TARGET 100 ROWS")
      .head().getString(1)
    assert(msg.contains("where day = d1"), msg)
    val after = segNames(store)
    // d2's two files untouched (same names); d1's folded into one
    val d2Files = before.filter(after.contains)
    assert(after.length == 3, s"$before -> $after")
    assert(d2Files.length == 2, s"out-of-scope files must survive: $after")
    assert(spark.sql("SELECT sum(k) FROM ginc.p").head().getLong(0) == sum)
    // misuse: non-partition scope column, curve + scope
    val e1 = intercept[Exception] {
      spark.sql("OPTIMIZE ginc.p WHERE k = 5").collect()
    }
    assert(String.valueOf(e1.getMessage)
      .contains("not an identity partition column"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("OPTIMIZE ginc.p WHERE day = 'd1' ZORDER BY (k)").collect()
    }
    assert(String.valueOf(e2.getMessage).contains("global"), e2.getMessage)
  }

  test("expiry refuses to cut below a retained compaction, " +
      "works at or above it") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ginc.e")
    spark.sql("CREATE TABLE ginc.e (k BIGINT)")
    spark.sql("INSERT INTO ginc.e SELECT /*+ REPARTITION(1) */ id " +
      "FROM RANGE(10000)")
    (1 to 3).foreach(_ => spark.sql(
      "INSERT INTO ginc.e SELECT /*+ REPARTITION(1) */ id FROM RANGE(10)"))
    spark.sql("OPTIMIZE ginc.e TARGET 10000 ROWS").collect() // compaction
    val store = MaintenanceSql.storeFor(spark, "ginc", "e")
    val vComp = store.currentVersion
    spark.sql("INSERT INTO ginc.e VALUES (777)")
    val ex = intercept[Exception] {
      store.expireBefore(vComp - 1) // cut below the compaction
    }
    assert(String.valueOf(ex.getMessage).contains("compaction"),
      ex.getMessage)
    // at the compaction version the cut is fine
    store.expireBefore(vComp)
    assert(spark.sql("SELECT count(*) FROM ginc.e").head().getLong(0)
      == 10031L)
  }
}
