package graft.sources

import graft.SparkTestBase

/** MULTI-TABLE ATOMIC TRANSACTIONS ([[TableTxn]]): a corpus table and
  * its index table advance together or not at all.
  *
  *  1. happy path — one txn, two tables, both visible after, ONE new
  *     version each (CDF-clean), durable across restart;
  *  2. body failure — neither table advances, no strays visible;
  *  3. crash between legs (manifest + first leg landed, then the
  *     process dies) — recovery rolls BOTH back to pre-txn versions;
  *  4. crash after both legs but before manifest cleanup — recovery
  *     rolls FORWARD (keeps both), manifest cleared;
  *  5. conflict — a concurrent single-table commit taking a leg's
  *     version slot aborts the whole txn, nothing published.
  */
class TableTxnSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_txn").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gtx", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtx.path", root)
  }

  private def mk(): Unit = {
    spark.sql("DROP TABLE IF EXISTS gtx.corpus")
    spark.sql("DROP TABLE IF EXISTS gtx.index")
    spark.sql("CREATE TABLE gtx.corpus (doc BIGINT, text STRING)")
    spark.sql("CREATE TABLE gtx.index (doc BIGINT, term STRING)")
    spark.sql("INSERT INTO gtx.corpus VALUES (1, 'base')")
    spark.sql("INSERT INTO gtx.index VALUES (1, 'base')")
  }

  private def counts(): (Long, Long) = (
    spark.sql("SELECT count(*) FROM gtx.corpus").head().getLong(0),
    spark.sql("SELECT count(*) FROM gtx.index").head().getLong(0))

  test("both tables advance together; one version each; durable") {
    setup(); mk()
    val cs = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    val is = MaintenanceSql.storeFor(spark, "gtx", "index")
    val (vc, vi) = (cs.currentVersion, is.currentVersion)
    MemCatalog.inTransaction(spark, "gtx") { txn =>
      spark.sql("SELECT 2L AS doc, 'new doc' AS text")
        .writeTo("gtx.corpus").option("graft.txn.id", txn.id).append()
      spark.sql("SELECT 2L AS doc, 'new' AS term UNION ALL " +
          "SELECT 2L, 'doc'")
        .writeTo("gtx.index").option("graft.txn.id", txn.id).append()
      // parked, not visible mid-txn
      assert(counts() == ((1L, 1L)), "legs must stay invisible mid-txn")
    }
    assert(counts() == ((2L, 3L)))
    assert(cs.currentVersion == vc + 1 && is.currentVersion == vi + 1,
      "exactly ONE version per participant")
    // CDF: the leg is one clean insert batch per table
    assert(MemCatalog.tableChanges(spark, "gtx", "corpus",
      vc + 1, vc + 1).count() == 1L)
    // durable: replays from the logs
    MemCatalog.simulateRestart()
    assert(counts() == ((2L, 3L)))
  }

  test("a leg's transaction marker reads the same live and after restart") {
    setup(); mk()
    val id = MemCatalog.inTransaction(spark, "gtx") { txn =>
      spark.sql("SELECT 3L AS doc, 'leg' AS text")
        .writeTo("gtx.corpus").option("graft.txn.id", txn.id).append()
      txn.id
    }
    // the tag TableTxn writes into each leg's commit
    val tag = s"graft-txn:$id"
    val live = MaintenanceSql.storeFor(spark, "gtx", "corpus").lastEpoch(tag)
    MemCatalog.simulateRestart()
    val replayed =
      MaintenanceSql.storeFor(spark, "gtx", "corpus").lastEpoch(tag)
    assert(live.contains(0L) && replayed == live,
      s"live $live, after restart $replayed")
  }

  test("body failure: neither advances, strays cleaned") {
    setup()
    val cs = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    val (vc, n0) = (cs.currentVersion, counts())
    intercept[RuntimeException] {
      MemCatalog.inTransaction(spark, "gtx") { txn =>
        spark.sql("SELECT 9L AS doc, 'never' AS text")
          .writeTo("gtx.corpus").option("graft.txn.id", txn.id).append()
        throw new RuntimeException("audit failed")
      }
    }
    assert(counts() == n0)
    assert(cs.currentVersion == vc)
  }

  test("crash between legs rolls BOTH back") {
    setup()
    val cs = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    val is = MaintenanceSql.storeFor(spark, "gtx", "index")
    val (vc, vi) = (cs.currentVersion, is.currentVersion)
    val n0 = counts()
    // simulate the crash window: manifest written, ONLY the corpus
    // leg landed (write a real commit through the strict-slot path),
    // then the process dies before the index leg
    val txnDir = java.nio.file.Paths.get(root, ".txn")
    java.nio.file.Files.createDirectories(txnDir)
    java.nio.file.Files.writeString(txnDir.resolve("deadbeef.pending"),
      s"corpus\t${vc + 1}\nindex\t${vi + 1}")
    val ref = writeLegFile(cs, "crashleg")
    cs.commitFilesAt(vc + 1, Seq(ref._1), ref._2,
      Some("graft-txn:deadbeef"))
    assert(spark.sql("SELECT count(*) FROM gtx.corpus").head().getLong(0)
      == n0._1 + 1, "leg visible before the simulated crash")
    // crash + restart: caches drop, recovery runs on next load
    MemCatalog.simulateRestart()
    assert(counts() == n0, "recovery must roll the landed leg back")
    val cs2 = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    assert(cs2.currentVersion == vc)
    assert(!java.nio.file.Files.exists(txnDir.resolve("deadbeef.pending")))
  }

  test("crash after both legs rolls FORWARD") {
    setup()
    val cs = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    val is = MaintenanceSql.storeFor(spark, "gtx", "index")
    val (vc, vi) = (cs.currentVersion, is.currentVersion)
    val n0 = counts()
    val txnDir = java.nio.file.Paths.get(root, ".txn")
    java.nio.file.Files.writeString(txnDir.resolve("cafebabe.pending"),
      s"corpus\t${vc + 1}\nindex\t${vi + 1}")
    val r1 = writeLegFile(cs, "fwd1")
    cs.commitFilesAt(vc + 1, Seq(r1._1), r1._2,
      Some("graft-txn:cafebabe"))
    val r2 = writeLegFile(is, "fwd2")
    is.commitFilesAt(vi + 1, Seq(r2._1), r2._2,
      Some("graft-txn:cafebabe"))
    MemCatalog.simulateRestart()
    assert(counts() == ((n0._1 + 1, n0._2 + 1)),
      "complete txn must survive recovery")
    assert(!java.nio.file.Files.exists(txnDir.resolve("cafebabe.pending")))
  }

  test("concurrent slot theft aborts the whole txn") {
    setup(); mk()
    val cs = MaintenanceSql.storeFor(spark, "gtx", "corpus")
    val is = MaintenanceSql.storeFor(spark, "gtx", "index")
    val (vc, vi) = (cs.currentVersion, is.currentVersion)
    // a racer owns index's next slot (cross-process: the in-memory
    // store hasn't observed it)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "index",
      f"${vi + 1}%08d.commit"))
    val e = intercept[java.util.ConcurrentModificationException] {
      MemCatalog.inTransaction(spark, "gtx") { txn =>
        spark.sql("SELECT 5L AS doc, 'x' AS text")
          .writeTo("gtx.corpus").option("graft.txn.id", txn.id).append()
        spark.sql("SELECT 5L AS doc, 'x' AS term")
          .writeTo("gtx.index").option("graft.txn.id", txn.id).append()
      }
    }
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "index",
      f"${vi + 1}%08d.commit"))
    // nothing published; both replay clean at their pre-txn versions
    assert(counts() == ((1L, 1L)))
    assert(MaintenanceSql.storeFor(spark, "gtx", "corpus")
      .currentVersion == vc)
    assert(MaintenanceSql.storeFor(spark, "gtx", "index")
      .currentVersion == vi)
  }

  test("a leg on the checkpoint cadence cannot resurrect a rolled-back " +
      "txn through the cold-load fast path") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gtx.ck")
    spark.sql("DROP TABLE IF EXISTS gtx.ck2")
    spark.sql("CREATE TABLE gtx.ck (k BIGINT)")
    spark.sql("CREATE TABLE gtx.ck2 (k BIGINT)")
    // bring ck to version 15: the txn leg would land at 16 — exactly
    // the checkpoint cadence
    (1 to 15).foreach(i => spark.sql(s"INSERT INTO gtx.ck VALUES ($i)"))
    val cs = MaintenanceSql.storeFor(spark, "gtx", "ck")
    val is2 = MaintenanceSql.storeFor(spark, "gtx", "ck2")
    assert(cs.currentVersion == 15)
    val n0 = spark.sql("SELECT count(*) FROM gtx.ck").head().getLong(0)
    // racer owns ck2's slot -> txn aborts AFTER ck's leg landed at 16
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "ck2",
      f"${is2.currentVersion + 1}%08d.commit"))
    intercept[java.util.ConcurrentModificationException] {
      MemCatalog.inTransaction(spark, "gtx") { txn =>
        spark.sql("SELECT 99L AS k").writeTo("gtx.ck")
          .option("graft.txn.id", txn.id).append()
        spark.sql("SELECT 99L AS k").writeTo("gtx.ck2")
          .option("graft.txn.id", txn.id).append()
      }
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "ck2",
      f"${is2.currentVersion + 1}%08d.commit"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "ck", "00000016.checkpoint")),
      "no checkpoint may capture a not-yet-durable transaction leg")
    // cold load: the rolled-back leg must NOT resurrect
    MemCatalog.simulateRestart()
    assert(spark.sql("SELECT count(*) FROM gtx.ck").head().getLong(0)
      == n0, "rolled-back leg resurrected through a checkpoint")
  }

  /** Write one real single-row data file into `store`'s data dir and
    * return its FileRef + stats (a hand-rolled txn leg). */
  private def writeLegFile(store: MemStore,
      tag: String): (FileRef, CommitStats) = {
    val schema = store.physSchema
    val name = s"$tag-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val w = ParquetRowIO.writer(
      java.nio.file.Paths.get(store.dataDirStr.get, name).toString, schema)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](99L,
        org.apache.spark.unsafe.types.UTF8String.fromString("leg")))
    val acc = new CommitStats.Acc(schema)
    w.write(row); acc.add(row)
    w.close()
    (FileRef(name, 1L, Some(acc.result)), acc.result)
  }
}
