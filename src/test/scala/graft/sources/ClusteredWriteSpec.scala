package graft.sources

import graft.SparkTestBase

import org.apache.spark.sql.functions._

/** Write-time clustering (`ALTER TABLE ... SET CLUSTERED BY`): the
  * write itself demands a RANGE distribution + ordering through DSv2
  * `RequiresDistributionAndOrdering`, so Spark plans the exchange,
  * files land covering narrow key ranges, and per-file min/max stats
  * skip on range predicates from the FIRST insert — no OPTIMIZE. */
class ClusteredWriteSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_clus").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftcw", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcw.path", root)
  }

  private def scanParts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("clustered inserts land range-disjoint files; range predicates " +
      "skip files with no OPTIMIZE pass") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftcw.ct")
    spark.sql("CREATE TABLE graftcw.ct (k BIGINT, pay STRING)")
    spark.sql("ALTER TABLE graftcw.ct SET CLUSTERED BY (k)")
    // deliberately UNORDERED input: bit-reversed keys in source order
    spark.range(0, 40000)
      .select((col("id") * 7919L % 40000L).as("k"),
        lit("x").as("pay"))
      .repartition(4)
      .createOrReplaceTempView("cw_src")
    // AQE would rightly coalesce this tiny exchange to one partition;
    // pin 4 so the layout proof has multiple files to skip
    withConf("spark.sql.adaptive.enabled" -> "false") {
      spark.sql("INSERT INTO graftcw.ct SELECT * FROM cw_src")
    }
    val nFiles = spark.sql("SELECT count(*) FROM graftcw.ct.files")
      .head().getLong(0)
    assert(nFiles > 1, s"need multiple files to prove skipping: $nFiles")
    // narrow range: the clustered layout plans strictly fewer splits
    // than the file census (file-level min/max skip)
    val narrow = spark.table("graftcw.ct")
      .where(col("k") >= 100L && col("k") <= 200L)
    assert(scanParts(narrow) < nFiles,
      s"expected file skipping: ${scanParts(narrow)} of $nFiles splits")
    assert(narrow.count() == 101L)
    // full content intact
    assert(spark.sql("SELECT sum(k) FROM graftcw.ct").head().getLong(0) ==
      (0L until 40000L).map(i => i * 7919L % 40000L).sum)
  }

  test("clustering survives RENAME COLUMN (field-id keyed); NONE " +
      "clears; OPTIMIZE defaults to the cluster columns") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftcw.cr")
    spark.sql("CREATE TABLE graftcw.cr (a BIGINT, b STRING)")
    spark.sql("ALTER TABLE graftcw.cr SET CLUSTERED BY (a)")
    spark.sql("ALTER TABLE graftcw.cr RENAME COLUMN a TO a2")
    spark.range(0, 5000)
      .selectExpr("(id * 31 % 5000) AS a2", "'p' AS b").repartition(3)
      .createOrReplaceTempView("cr_src")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      spark.sql("INSERT INTO graftcw.cr SELECT * FROM cr_src")
    }
    val nFiles = spark.sql("SELECT count(*) FROM graftcw.cr.files")
      .head().getLong(0)
    val narrow = spark.table("graftcw.cr")
      .where(col("a2") < 100L)
    assert(scanParts(narrow) < nFiles,
      s"clustering must follow the rename: ${scanParts(narrow)}/$nFiles")
    // OPTIMIZE with no explicit list re-clusters on the same axis
    val msg = spark.sql("OPTIMIZE graftcw.cr").head().getString(1)
    assert(msg.contains("zorder by (a2)"), msg)
    // NONE clears: subsequent writes declare nothing
    spark.sql("ALTER TABLE graftcw.cr SET CLUSTERED BY NONE")
    spark.sql("INSERT INTO graftcw.cr VALUES (9999999, 'z')")
    assert(spark.sql("SELECT count(*) FROM graftcw.cr")
      .head().getLong(0) == 5001L)
  }

  test("loud misuse: unknown column; untracked (float) clustering key") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftcw.ce")
    spark.sql("CREATE TABLE graftcw.ce (k BIGINT, x DOUBLE)")
    val unknown = intercept[Exception] {
      spark.sql("ALTER TABLE graftcw.ce SET CLUSTERED BY (nosuch)")
    }
    assert(String.valueOf(unknown.getMessage).contains("no such column"),
      unknown.getMessage)
    val untracked = intercept[Exception] {
      spark.sql("ALTER TABLE graftcw.ce SET CLUSTERED BY (x)")
    }
    assert(String.valueOf(untracked.getMessage)
      .contains("no tracked min/max"), untracked.getMessage)
  }

  test("partition overwrite of a clustered table lands key-sorted files") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftcw.po")
    spark.sql(
      "CREATE TABLE graftcw.po (grp STRING, k BIGINT) PARTITIONED BY (grp)")
    spark.sql("ALTER TABLE graftcw.po SET CLUSTERED BY (k)")
    // unordered keys in one task: only the write's ordering sorts them
    val src = "SELECT /*+ REPARTITION(1) */ id * 7919 % 5000 AS k " +
      "FROM RANGE(5000)"
    spark.sql(s"INSERT INTO graftcw.po SELECT 'b', k FROM ($src)")
    spark.sql(s"INSERT OVERWRITE graftcw.po PARTITION (grp = 'a') " +
      s"SELECT k FROM ($src)")
    val store = MaintenanceSql.storeFor(spark, "graftcw", "po")
    val phys = store.physSchema
    val kPhys = phys(ColumnMapping.logicalToPhys(phys)(
      ColumnMapping.logical(phys).fieldIndex("k"))).name
    val files = store.currentState()._1.segs.map(_.seg).collect {
      case f: FileSeg if f.partVals.exists(_.map(String.valueOf)
        .contains("a")) => f
    }
    assert(files.nonEmpty, "the overwrite landed no file for grp = 'a'")
    files.foreach(f => assert(f.stats.exists(_.cols(kPhys).sortedAsc),
      s"${f.path} is not sorted by the clustering key: ${f.stats}"))
    assert(spark.sql("SELECT count(*) FROM graftcw.po WHERE grp = 'a'")
      .head().getLong(0) == 5000L)
  }
}
