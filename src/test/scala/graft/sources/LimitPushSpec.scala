package graft.sources

import graft.SparkTestBase

/** LIMIT pushdown (`SupportsPushDownLimit`, partial): the scan plans
  * only enough splits to cover the limit's live rows — `SELECT * FROM
  * t LIMIT 100` on a many-file table opens O(1) readers instead of
  * scheduling a task per file. Declared partial, so Spark's own limit
  * still applies (result-invisible); under filters, files whose
  * stats PROVE the whole conjunction count their live rows toward
  * coverage — when proved files alone cover the limit the scan plans
  * ONLY them (straddling yields are unknowable, so anything short of
  * proved coverage plans everything). */
class LimitPushSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_limit").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.glim", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.glim.path", root)
  }

  test("LIMIT plans only the covering prefix of files; exact under " +
      "delete overlays; filters disable truncation") {
    setup()
    spark.sql("DROP TABLE IF EXISTS glim.t")
    spark.sql("CREATE TABLE glim.t (k BIGINT, s STRING)")
    (0 until 8).foreach(i => spark.sql(
      s"""INSERT INTO glim.t
         |SELECT /*+ REPARTITION(1) */ id + ${i * 1000},
         |       md5(cast(id as string)) FROM RANGE(1000)""".stripMargin))
    // 8 files x 1000 rows; LIMIT 1500 needs exactly 2
    val q1 = spark.sql("SELECT * FROM glim.t LIMIT 1500")
    assert(q1.collect().length == 1500)
    assert(readers(q1) <= 2,
      s"LIMIT 1500 over 1000-row files must open <= 2 readers, " +
        s"opened ${readers(q1)}")

    // delete overlay: live counts shrink, the plan covers the limit
    // with one more file when needed — count stays exact
    spark.sql("DELETE FROM glim.t WHERE k < 600") // file 1: 400 live
    val q2 = spark.sql("SELECT * FROM glim.t LIMIT 1500")
    assert(q2.collect().length == 1500)
    assert(readers(q2) <= 3,
      s"overlay-aware truncation lost: ${readers(q2)}")

    // a pushed filter a whole file PROVES: plan just that file
    val q3 = spark.sql(
      "SELECT * FROM glim.t WHERE k >= 7000 LIMIT 500")
    assert(q3.collect().length == 500)
    assert(readers(q3) <= 1,
      s"proved-file LIMIT must open 1 reader: " +
        s"${readers(q3)}")
    // LIMIT above the table's live count returns everything
    assert(spark.sql("SELECT * FROM glim.t LIMIT 100000").collect()
      .length == 8000 - 600)
  }

  test("filtered LIMIT: straddling files are skipped when proved " +
      "files cover; proved coverage short of the limit plans " +
      "everything and stays exact") {
    setup()
    spark.sql("DROP TABLE IF EXISTS glim.f")
    spark.sql("CREATE TABLE glim.f (k BIGINT, t BIGINT)")
    (0 until 8).foreach(i => spark.sql(
      s"""INSERT INTO glim.f
         |SELECT /*+ REPARTITION(1) */ id + ${i * 1000}, ${i % 2}L
         |FROM RANGE(1000)""".stripMargin))
    // k >= 5500: files 0-4 contradicted (dropped), file 5 straddles
    // (skipped — proved files cover), files 6-7 proved. LIMIT 100
    // needs ONE proved file.
    val q4 = spark.sql("SELECT * FROM glim.f WHERE k >= 5500 LIMIT 100")
    assert(q4.collect().forall(_.getLong(0) >= 5500L))
    assert(readers(q4) <= 1,
      s"straddle skip lost: ${readers(q4)}")
    // per-file-constant column: t = 0 proved by files 0,2,4,6 —
    // LIMIT 1500 covered by two of them
    val (r, rDf) = collected("SELECT * FROM glim.f WHERE t = 0 LIMIT 1500")
    assert(r.length == 1500 && r.forall(_.getLong(1) == 0L))
    assert(readers(rDf) <= 2,
      s"proved coverage lost: ${readers(rDf)}")
    // proved coverage SHORT of the limit (k >= 7500 proves nothing —
    // file 7 straddles): plan everything that survives, exact count
    assert(spark.sql("SELECT * FROM glim.f WHERE k >= 7500 LIMIT 600")
      .collect().length == 500)
    // an UPDATE overlay voids a file's proof: file 2's stats still
    // claim all-t=0 but the patch removed a match — counting its
    // stale live rows toward coverage would UNDER-return (plan
    // 0,2,4 for "3000", deliver 2999). The patch guard drops file 2
    // from the proof, covers with 0,4,6, and delivers exactly 3000.
    spark.sql("UPDATE glim.f SET t = 1 WHERE k = 2000")
    val upd = spark.sql("SELECT * FROM glim.f WHERE t = 0 LIMIT 3000")
      .collect()
    assert(upd.length == 3000 && upd.forall(_.getLong(1) == 0L),
      s"patched-file proof must not overcount: ${upd.length}")
  }
}
