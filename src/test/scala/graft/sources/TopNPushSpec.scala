package graft.sources

import graft.SparkTestBase

/** TOP-N pushdown (`SupportsPushDownTopN`, partial): `ORDER BY key
  * LIMIT n` over files RANGE-DISJOINT in the key plans only the
  * covering prefix (ASC) / suffix (DESC) — "latest n events" on a
  * time-clustered table reads one file. Declared partial: Spark
  * re-sorts and limits the served superset, so results never change;
  * overlapping files, nulls in the key, or filters simply plan
  * everything. */
class TopNPushSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_topn").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gtn", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtn.path", root)
  }

  /** The first column of `sql`'s rows, and the readers its run opened. */
  private def keys(sql: String): (Seq[Long], Long) = {
    val (rows, df) = collected(sql)
    (rows.map(_.getLong(0)).toSeq, readers(df))
  }

  test("ORDER BY LIMIT over range-disjoint files plans the covering " +
      "end; deletes count; overlap and nulls fall back correctly") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gtn.t")
    spark.sql("CREATE TABLE gtn.t (k BIGINT, s STRING)")
    (0 until 8).foreach(i => spark.sql(
      s"""INSERT INTO gtn.t
         |SELECT /*+ REPARTITION(1) */ id + ${i * 1000},
         |       md5(cast(id as string)) FROM RANGE(1000)""".stripMargin))
    // ASC: first 1500 keys live in the first 2 files
    val (asc, ascRead) = keys("SELECT k FROM gtn.t ORDER BY k LIMIT 1500")
    assert(asc == (0L until 1500L))
    assert(ascRead <= 2,
      s"ASC top-1500 must open <= 2 readers, opened $ascRead")
    // DESC: last 500 keys live in the last file
    val (desc, descRead) = keys("SELECT k FROM gtn.t ORDER BY k DESC LIMIT 500")
    assert(desc == (7999L until 7499L by -1))
    assert(descRead <= 1,
      s"DESC top-500 must open <= 1 reader, opened $descRead")
    // delete overlay: the tail file loses 200 live rows; the covering
    // suffix arithmetic must account for it
    spark.sql("DELETE FROM gtn.t WHERE k >= 7800")
    val (desc2, desc2Read) = keys(
      "SELECT k FROM gtn.t ORDER BY k DESC LIMIT 900")
    assert(desc2 == (7799L until 6899L by -1))
    assert(desc2Read <= 2, s"overlay-aware suffix lost: $desc2Read")

    // OVERLAPPING files: a ninth file straddling every range — the
    // truncation declines (plans everything), results stay exact
    spark.sql("INSERT INTO gtn.t SELECT /*+ REPARTITION(1) */ " +
      "id * 1000 + 500, 'x' FROM RANGE(8)")
    val asc2 = spark.sql("SELECT k FROM gtn.t ORDER BY k LIMIT 3")
      .collect().map(_.getLong(0))
    assert(asc2.toSeq == Seq(0L, 1L, 2L))

    // UPDATE overlay: a patch can move a key OUTSIDE its file's
    // recorded min/max — the file chain's range proof no longer
    // holds, so truncation must decline (plan everything) and the
    // patched row must surface as the new extremum
    spark.sql("DROP TABLE IF EXISTS gtn.up")
    spark.sql("CREATE TABLE gtn.up (k BIGINT, s STRING)")
    (0 until 4).foreach(i => spark.sql(
      s"""INSERT INTO gtn.up
         |SELECT /*+ REPARTITION(1) */ id + ${i * 100},
         |       md5(cast(id as string)) FROM RANGE(100)""".stripMargin))
    spark.sql("UPDATE gtn.up SET k = 999999 WHERE k = 5")
    val patched = spark.sql("SELECT k FROM gtn.up ORDER BY k DESC LIMIT 2")
      .collect().map(_.getLong(0))
    assert(patched.toSeq == Seq(999999L, 399L),
      s"patched extremum lost to stale-stats truncation: " +
        s"${patched.toSeq}")

    // NULLS in the key: decline (null ordering would decide), exact
    spark.sql("DROP TABLE IF EXISTS gtn.nl")
    spark.sql("CREATE TABLE gtn.nl (k BIGINT)")
    spark.sql("INSERT INTO gtn.nl SELECT /*+ REPARTITION(1) */ id " +
      "FROM RANGE(100)")
    spark.sql("INSERT INTO gtn.nl VALUES (CAST(NULL AS BIGINT))")
    val withNull = spark.sql("SELECT k FROM gtn.nl ORDER BY k LIMIT 2")
      .collect()
    assert(withNull(0).isNullAt(0) && withNull(1).getLong(0) == 0L,
      "NULLS FIRST default must survive (truncation declined)")
  }

  test("filters compose into TopN truncation: proved files count " +
      "toward coverage, straddling files plan but don't count, " +
      "contradicted files drop") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gtn.f")
    spark.sql("CREATE TABLE gtn.f (k BIGINT, t BIGINT, s STRING)")
    // 8 range-disjoint files along k; t alternates 0/1 PER FILE so an
    // equality on t is PROVED for half the chain and CONTRADICTED for
    // the other half
    (0 until 8).foreach(i => spark.sql(
      s"""INSERT INTO gtn.f
         |SELECT /*+ REPARTITION(1) */ id + ${i * 1000}, ${i % 2}L,
         |       md5(cast(id as string)) FROM RANGE(1000)""".stripMargin))
    // t=0 lives in files 0,2,4,6 (all proved); DESC top-1500 of the
    // match set needs files 6 and 4 only
    val (r1, r1Read) = keys(
      "SELECT k FROM gtn.f WHERE t = 0 ORDER BY k DESC LIMIT 1500")
    assert(r1 == ((6999L to 6000L by -1) ++
      (4999L to 4500L by -1)))
    assert(r1Read <= 2, s"proved-file coverage lost: $r1Read")
    // range predicate with a STRADDLING file: k >= 5500 contradicts
    // files 0-4, straddles file 5, proves files 6-7. DESC top-1500:
    // files 7 and 6 prove coverage — file 5 is never reached
    val (r2, r2Read) = keys(
      "SELECT k FROM gtn.f WHERE k >= 5500 ORDER BY k DESC LIMIT 1500")
    assert(r2 == (7999L until 6499L by -1))
    assert(r2Read <= 2, s"straddle walk overread: $r2Read")
    // straddling file INSIDE the covering window: k >= 5500 ASC
    // top-100 — file 5 straddles (planned, counts nothing), file 6
    // proves coverage; matching rows start at 5500 exactly
    val (r3, r3Read) = keys(
      "SELECT k FROM gtn.f WHERE k >= 5500 ORDER BY k LIMIT 100")
    assert(r3 == (5500L until 5600L))
    assert(r3Read <= 2, s"straddle-in-window walk overread: $r3Read")
  }

  test("ROW-GROUP grain: a single large sorted file truncates TopN " +
      "to the covering row groups (the OPTIMIZE'd-fact shape)") {
    setup()
    val prev = sys.props.get("graft.catalog.rowgroup.bytes")
    sys.props("graft.catalog.rowgroup.bytes") = (32 * 1024).toString
    try {
      spark.sql("DROP TABLE IF EXISTS gtn.rg")
      spark.sql("CREATE TABLE gtn.rg (k BIGINT, v BIGINT)")
      spark.range(0, 50000).selectExpr("id AS k", "id * 3 AS v")
        .repartition(1).sortWithinPartitions("k")
        .createOrReplaceTempView("gtn_rg_src")
      spark.sql("INSERT INTO gtn.rg SELECT * FROM gtn_rg_src")
    } finally prev match {
      case Some(v) => sys.props("graft.catalog.rowgroup.bytes") = v
      case None => sys.props -= "graft.catalog.rowgroup.bytes"
    }
    val file = spark.sql("SELECT file FROM gtn.rg.files").head().getString(0)
    val nBlocks = ParquetRowIO.blocks(s"$root/rg/data/$file").length
    assert(nBlocks > 3, s"staging produced only $nBlocks row groups")
    // DESC top-100: the covering suffix is the LAST row group alone
    val (top, topRead) = keys("SELECT k FROM gtn.rg ORDER BY k DESC LIMIT 100")
    assert(top == (49999L to 49900L by -1))
    assert(topRead < nBlocks.toLong,
      s"row-group TopN must not plan all $nBlocks groups: $topRead")
    assert(topRead <= 2,
      s"covering suffix should be 1-2 row groups, planned $topRead")
    // filtered + row-group grain: the proved window composes
    val (f, fRead) = keys(
      "SELECT k FROM gtn.rg WHERE k >= 40000 ORDER BY k LIMIT 50")
    assert(f == (40000L until 40050L))
    assert(fRead <= 3, s"filtered row-group walk overread: $fRead")
  }

  test("pagination: ORDER BY k LIMIT n OFFSET m plans the covering " +
      "window for n+m rows (Spark pushes TopN with limit+offset)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gtn.pg")
    spark.sql("CREATE TABLE gtn.pg (k BIGINT)")
    (0 until 8).foreach(i => spark.sql(
      s"""INSERT INTO gtn.pg
         |SELECT /*+ REPARTITION(1) */ id + ${i * 1000}
         |FROM RANGE(1000)""".stripMargin))
    val (page, pageRead) = keys(
      "SELECT k FROM gtn.pg ORDER BY k LIMIT 500 OFFSET 1200")
    assert(page == (1200L until 1700L))
    assert(pageRead <= 2,
      s"pagination window must cover n+m=1700 rows in 2 files, " +
        s"opened $pageRead")
  }

  test("compound ORDER BY truncates on a strictly-disjoint leading " +
      "key; a boundary tie declines (secondary key could cross files)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS gtn.mc")
    spark.sql("CREATE TABLE gtn.mc (k1 BIGINT, k2 BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"""INSERT INTO gtn.mc
         |SELECT /*+ REPARTITION(1) */ id + ${i * 100}, -id
         |FROM RANGE(100)""".stripMargin))
    val (r, rDf) = collected(
      "SELECT k1, k2 FROM gtn.mc ORDER BY k1, k2 DESC LIMIT 50")
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      (0L until 50L).map(i => (i, -i)))
    assert(readers(rDf) <= 1, s"compound-order prefix lost: ${readers(rDf)}")
    // TOUCHING boundary (prev.max == next.min): legal for a
    // single-column order (ties are interchangeable) but NOT for a
    // compound one — the k1=100 tie is broken by k2 toward the row
    // in the SECOND file, which a non-strict covering prefix would
    // never plan
    spark.sql("DROP TABLE IF EXISTS gtn.tc")
    spark.sql("CREATE TABLE gtn.tc (k1 BIGINT, k2 BIGINT)")
    spark.sql("INSERT INTO gtn.tc SELECT /*+ REPARTITION(1) */ id, 0L " +
      "FROM RANGE(101)") // k1 in [0,100], boundary row k2 = 0
    spark.sql("INSERT INTO gtn.tc SELECT /*+ REPARTITION(1) */ " +
      "id + 100, 5000 + id FROM RANGE(101)") // k1 in [100,200], k2 big
    val tied = spark.sql(
      "SELECT k1, k2 FROM gtn.tc ORDER BY k1, k2 DESC LIMIT 101")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(tied.last == ((100L, 5000L)),
      s"boundary tie mis-truncated: ${tied.last}")
    // the same touching chain under a SINGLE-column order still
    // truncates (ties interchangeable): top-101 ASC reads one file
    val (top, topRead) = keys("SELECT k1 FROM gtn.tc ORDER BY k1 LIMIT 101")
    assert(top == (0L to 100L))
    assert(topRead <= 1,
      s"single-col touching chain must still truncate: $topRead")
  }
}
