package graft.sources

import graft.{PlanWalk, SparkTestBase}

import org.apache.spark.sql.functions._

/** PARTITION-SPEC EVOLUTION (`ALTER TABLE ... SET PARTITIONED BY`,
  * the Iceberg per-file-spec model):
  *
  *  1. evolving identity -> days is a METADATA commit: no rows move,
  *     old files keep their tuples under spec 0, new writes land
  *     under spec 1;
  *  2. pruning consults EACH FILE's own spec — a predicate on the old
  *     partition column prunes old-generation files, one on the new
  *     column prunes new-generation files, and results stay exact
  *     across mixed generations;
  *  3. unpartitioned -> partitioned evolution works (v2 tables always
  *     carry the spec registry);
  *  4. OPTIMIZE rewrites the whole plane under the CURRENT spec,
  *     unifying generations (partition overwrite requires that);
  *  5. restart replay and checkpointed cold loads preserve the
  *     registry and per-file spec ids; malformed SQL fails loudly.
  */
class PartitionEvolutionSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_evo").toString

  /** Files `df`'s run pruned by partition tuple. */
  private def pruned(df: org.apache.spark.sql.DataFrame): Long =
    PlanWalk.metric(df, ScanMetrics.PartPruned)

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graftevo", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftevo.path", root)
  }

  test("identity -> days evolution: mixed generations prune and read exactly") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftevo.t1")
    spark.sql(
      """CREATE TABLE graftevo.t1 (grp STRING, d DATE, v BIGINT)
        |PARTITIONED BY (grp)""".stripMargin)
    // generation 0: identity(grp)
    spark.sql(
      """INSERT INTO graftevo.t1
        |SELECT CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END,
        |       DATE'2024-01-01' + CAST(id % 4 AS INT), id
        |FROM RANGE(100)""".stripMargin)
    val out = spark.sql(
      "ALTER TABLE graftevo.t1 SET PARTITIONED BY (days(d))").collect()
    assert(out(0).getString(1).contains("days(d)"), out.mkString)
    // generation 1: days(d)
    spark.sql(
      """INSERT INTO graftevo.t1
        |SELECT 'c', DATE'2024-02-01' + CAST(id % 3 AS INT), 1000 + id
        |FROM RANGE(60)""".stripMargin)
    assert(spark.table("graftevo.t1").count() == 160L)

    // pruning on the OLD spec column: only gen-0 'a' files survive +
    // all gen-1 files (their spec knows nothing of grp)
    val aDf = spark.sql("SELECT count(*) FROM graftevo.t1 WHERE grp = 'a'")
    assert(aDf.collect().head.getLong(0) == 50L)
    assert(pruned(aDf) > 0, "old-gen files must prune on grp")

    // pruning on the NEW spec column: gen-1 files prune by day; gen-0
    // files can't prune on d (their spec is grp) but rows still filter
    val feb1Df = spark.sql(
      "SELECT count(*) FROM graftevo.t1 WHERE d = DATE'2024-02-01'")
    val feb1 = feb1Df.collect().head.getLong(0)
    assert(feb1 == 20L, s"got $feb1")
    assert(pruned(feb1Df) > 0, "new-gen files must prune on d")

    // mixed-generation aggregate stays exact
    val sums = spark.sql(
      """SELECT grp, count(*) AS n, sum(v) AS s FROM graftevo.t1
        |GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sums == Seq(("a", 50L), ("b", 50L), ("c", 60L)), sums.toString)
  }

  test("evolution survives restart replay and checkpointed cold load") {
    setup()
    val before = spark.table("graftevo.t1").orderBy("v").collect()
    MemCatalog.simulateRestart()
    assert(spark.table("graftevo.t1").orderBy("v").collect()
      .sameElements(before), "restart replay diverged")
    // new writes after restart land under the evolved spec
    spark.sql(
      """INSERT INTO graftevo.t1
        |SELECT 'd', DATE'2024-03-01', 5000 + id FROM RANGE(5)""".stripMargin)
    val parts = spark.sql(
      "SELECT partition FROM graftevo.t1.partitions WHERE partition LIKE 'days%'")
      .collect().map(_.getString(0)).toSet
    assert(parts.exists(_.startsWith("days(d)=")), parts.toString)
  }

  test("unpartitioned -> partitioned evolution") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graftevo.t2")
    spark.sql("CREATE TABLE graftevo.t2 (k BIGINT, tag STRING)")
    spark.sql(
      "INSERT INTO graftevo.t2 SELECT id, concat('t', CAST(id % 3 AS STRING)) FROM RANGE(30)")
    spark.sql("ALTER TABLE graftevo.t2 SET PARTITIONED BY (tag)")
    spark.sql(
      "INSERT INTO graftevo.t2 SELECT 100 + id, concat('t', CAST(id % 3 AS STRING)) FROM RANGE(30)")
    assert(spark.table("graftevo.t2").count() == 60L)
    val t1 = spark.sql("SELECT count(*) FROM graftevo.t2 WHERE tag = 't1'")
    assert(t1.collect().head.getLong(0) == 20L)
    assert(pruned(t1) > 0,
      "post-evolution files must prune on tag")
  }

  test("OPTIMIZE unifies generations under the current spec; overwrite then works") {
    setup()
    // t1 currently has spec-0 and spec-1 files: partition overwrite
    // must refuse until OPTIMIZE rewrites the plane
    val e = intercept[Exception] {
      spark.sql(
        """INSERT OVERWRITE graftevo.t1 PARTITION (grp = 'a')
          |SELECT DATE'2024-01-01', 0 FROM RANGE(1)""".stripMargin)
    }
    assert(e.getMessage != null)
    val before = spark.table("graftevo.t1").orderBy("v").collect()
    spark.sql("OPTIMIZE graftevo.t1 TARGET 1000 ROWS")
    assert(spark.table("graftevo.t1").orderBy("v").collect()
      .sameElements(before), "OPTIMIZE changed content")
    // every file now carries the current spec's tuples
    val parts = spark.sql(
      "SELECT DISTINCT partition FROM graftevo.t1.files WHERE partition IS NOT NULL")
      .collect().map(_.getString(0))
    assert(parts.nonEmpty && parts.forall(_.startsWith("days(d)=")),
      parts.mkString(", "))
  }

  test("malformed SET PARTITIONED BY fails loudly; heap tables refuse") {
    setup()
    intercept[GraftSqlParseException] {
      spark.sql("ALTER TABLE graftevo.t1 SET PARTITIONED BY ()")
    }
    intercept[GraftSqlParseException] {
      spark.sql("ALTER TABLE graftevo.t1 SET PARTITIONED BY (truncate(4, d))")
    }
    // other ALTER TABLE forms delegate to Spark untouched
    spark.sql("ALTER TABLE graftevo.t2 ADD COLUMN extra BIGINT")
    assert(spark.table("graftevo.t2").columns.contains("extra"))
  }
}
