package graft.sources

import graft.SparkTestBase

/** A/B throughput measurement of the vectorized catalog scan against
  * the row codec — same session, same files, toggled via
  * `spark.graft.catalog.columnar.enabled`. Not a pass/fail assertion
  * on the ratio (CI variance); prints the numbers and asserts the
  * columnar path (a) engages and (b) returns identical aggregates. */
class ColumnarThroughputSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_colthru").toString

  private val q = "SELECT sum(a) AS sa, sum(b) AS sb, sum(c) AS sc, " +
    "count(s) AS cs FROM gct.wide"
  /** The result row and the columnar readers its run opened. */
  private def run(): (org.apache.spark.sql.Row, Long) = {
    val (rows, df) = collected(q)
    (rows(0), readers(df))
  }
  private def time(n: Int): Double = {
    val ts = (1 to n).map { _ =>
      val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(n / 2)
  }

  test("columnar vs row scan throughput on 4M rows") {
    spark.conf.set("spark.sql.catalog.gct", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gct.path", root)
    spark.sql("DROP TABLE IF EXISTS gct.wide")
    spark.sql(
      """CREATE TABLE gct.wide (k BIGINT, a DOUBLE, b DOUBLE, c BIGINT,
        |  s STRING)""".stripMargin)
    spark.sql(
      """INSERT INTO gct.wide
        |SELECT id, id * 1.1, id * 2.2, id % 1000,
        |       md5(cast(id as string)) FROM RANGE(4000000)
        |""".stripMargin)
    // warm both paths once
    withConf("spark.graft.catalog.columnar.enabled" -> "false") { run() }
    run()
    val (colRes, colReaders) = run()
    assert(colReaders > 0, "columnar never engaged")
    val tCol = time(3)
    val (rowRes, tRow) = withConf(
        "spark.graft.catalog.columnar.enabled" -> "false") {
      val (r, rowReaders) = run()
      assert(rowReaders == 0, "kill switch ignored")
      (r, time(3))
    }
    assert(colRes == rowRes, s"$colRes != $rowRes")
    info(f"columnar median: $tCol%.3f s; row median: $tRow%.3f s; " +
      f"speedup ${tRow / tCol}%.2fx")
    println(f"[colthru] columnar=$tCol%.3fs row=$tRow%.3fs " +
      f"speedup=${tRow / tCol}%.2fx")
  }

  test("columnar vs row with a 1% DELETE overlay (selection vector)") {
    spark.conf.set("spark.sql.catalog.gct", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gct.path", root)
    // 1% of rows deleted — the steady state of a production table;
    // pre-round-17 this forfeited the vectorized path entirely
    spark.sql("DELETE FROM gct.wide WHERE k % 100 = 37")
    withConf("spark.graft.catalog.columnar.enabled" -> "false") { run() }
    run()
    val (colRes, colReaders) = run()
    assert(colReaders > 0,
      "columnar must engage UNDER the delete overlay")
    assert(colRes.getLong(3) == 4000000L - 40000L)
    val tCol = time(3)
    val (rowRes, tRow) = withConf(
        "spark.graft.catalog.columnar.enabled" -> "false") {
      (run()._1, time(3))
    }
    assert(colRes == rowRes, s"$colRes != $rowRes")
    info(f"1%%-deleted columnar: $tCol%.3f s; row: $tRow%.3f s; " +
      f"speedup ${tRow / tCol}%.2fx")
    println(f"[colthru-del] columnar=$tCol%.3fs row=$tRow%.3fs " +
      f"speedup=${tRow / tCol}%.2fx")
  }
}
