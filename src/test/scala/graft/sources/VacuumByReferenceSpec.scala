package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** VACUUM's consolidation BY REFERENCE: when every live file of the
  * oldest retained version is overlay-free (right after OPTIMIZE), the
  * consolidated replace commit names those same files and takes the
  * version's stats — no row is read or written, and metadata-served
  * aggregates, restart replay and expired time travel behave as
  * before. A version carrying row-level overlays is still rewritten,
  * in live order when a retained row-level delta addresses its
  * positions. */
class VacuumByReferenceSpec extends SparkTestBase {

  private val root = Files.createTempDirectory("graft_vbr").toString

  private def setup(table: String, partitioned: Boolean): MemStore = {
    spark.conf.set("spark.sql.catalog.gvbr", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvbr.path", root)
    spark.sql(s"DROP TABLE IF EXISTS gvbr.$table")
    spark.sql(s"CREATE TABLE gvbr.$table (p STRING, k BIGINT, c BIGINT, " +
      "s STRING)" + (if (partitioned) " PARTITIONED BY (p)" else ""))
    // k-disjoint inserts, each spanning both partitions; c is NULL on
    // every fifth row
    (0 until 400 by 100).foreach(a => spark.sql(
      s"""INSERT INTO gvbr.$table SELECT /*+ REPARTITION(1) */
         |  concat('p', id % 2), id, IF(id % 5 = 0, NULL, id * 3),
         |  concat('s', lpad(CAST(id AS STRING), 4, '0'))
         |FROM RANGE($a, ${a + 100})""".stripMargin))
    MaintenanceSql.storeFor(spark, "gvbr", table)
  }

  private def dataFiles(table: String): Set[String] = {
    val s = Files.list(Paths.get(root, table, "data"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def liveFiles(st: MemStore): Seq[FileSeg] =
    st.currentState()._1.segs.map(_.seg).collect { case f: FileSeg => f }

  private def content(table: String): Seq[String] =
    spark.table(s"gvbr.$table").collect().map(_.mkString("|")).toSeq.sorted

  /** Live key order of the current snapshot (what row-level deltas
    * address). */
  private def liveOrder(st: MemStore): Vector[Long] =
    st.currentState()._1.iterator(st.physSchema).map(_.getLong(1)).toVector

  /** (served aggregate, a twin the source cannot serve) */
  private val aggs = Seq("count(*)" -> "count(abs(k))",
    "count(c)" -> "count(abs(c))", "min(k)" -> "min(abs(k))",
    "max(k)" -> "max(abs(k))", "min(s)" -> "min(lower(s))",
    "max(s)" -> "max(lower(s))", "sum(c)" -> "sum(abs(c))")

  private def assertServedAggregates(table: String): Unit =
    aggs.foreach { case (agg, twin) =>
      def run(a: String): (String, Boolean) = {
        val df = spark.sql(s"SELECT $a AS v FROM gvbr.$table")
        val v = df.collect().map(_.mkString).mkString
        val plan = df.queryExecution.executedPlan.toString
        (v, !Seq("HashAggregate", "SortAggregate").exists(plan.contains))
      }
      val (got, served) = run(agg)
      val (want, twinServed) = run(twin)
      assert(got == want, s"$agg served $got, twin $want")
      assert(served && !twinServed, s"$agg served=$served twin=$twinServed")
    }

  test("VACUUM after OPTIMIZE names OPTIMIZE's files and writes none") {
    val st = setup("opt", partitioned = true)
    spark.sql("OPTIMIZE gvbr.opt TARGET 150 ROWS").collect()
    val optimized = liveFiles(st)
    assert(optimized.nonEmpty)
    val names = optimized.map(f => Paths.get(f.path).getFileName.toString)
    val optVersion = st.currentVersion
    val want = content("opt")

    spark.sql("VACUUM gvbr.opt RETAIN 1 VERSIONS").collect()
    assert(dataFiles("opt") == names.toSet,
      "the pre-OPTIMIZE files must go and no file may be written")
    assert(liveFiles(st) == optimized)
    val base = CommitLog.open(Paths.get(root, "opt")).replay().head
      .asInstanceOf[FileCommit]
    assert(base.version == optVersion && base.mode == FileCommit.Replace)
    assert(base.files.map(_.name) == names)
    assert(content("opt") == want)
    assertServedAggregates("opt")
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM gvbr.opt VERSION AS OF ${optVersion - 1}").collect())
    assert(e.getMessage.contains("expired"), e.getMessage)

    MemCatalog.simulateRestart()
    assert(content("opt") == want)
    assertServedAggregates("opt")
    assert(dataFiles("opt") == names.toSet)
  }

  test("a version with row-level overlays is rewritten") {
    val st = setup("ovl", partitioned = false)
    spark.sql("OPTIMIZE gvbr.ovl TARGET 150 ROWS").collect()
    spark.sql("DELETE FROM gvbr.ovl WHERE k = 7 OR k = 250").collect()
    assert(st.currentState()._1.segs.exists(_.dels.nonEmpty))
    val before = dataFiles("ovl")
    val want = content("ovl")

    spark.sql("VACUUM gvbr.ovl RETAIN 1 VERSIONS").collect()
    assert((dataFiles("ovl") -- before).nonEmpty,
      "an overlaid snapshot must be consolidated into fresh files")
    assert(st.currentState()._1.segs.forall(_.dels.isEmpty))
    assert(content("ovl") == want)
    assertServedAggregates("ovl")
    MemCatalog.simulateRestart()
    assert(content("ovl") == want)
  }

  test("a retained row-level delta keeps the rewritten base in live order") {
    // partitions interleave along the live order: per-tuple merging
    // would reorder the rows the retained UPDATE addresses
    val st = setup("ord", partitioned = true)
    spark.sql("DELETE FROM gvbr.ord WHERE k = 3").collect()
    spark.sql("UPDATE gvbr.ord SET s = 'UPD' WHERE k = 150").collect()
    val order = liveOrder(st)
    val want = content("ord")
    val before = dataFiles("ord")

    spark.sql("VACUUM gvbr.ord RETAIN 2 VERSIONS").collect()
    assert((dataFiles("ord") -- before).nonEmpty,
      "the overlaid DELETE version must be rewritten")
    assert(liveOrder(st) == order)
    assert(content("ord") == want)
    assert(spark.sql("SELECT k FROM gvbr.ord WHERE s = 'UPD'").collect()
      .map(_.getLong(0)).toSeq == Seq(150L))
    MemCatalog.simulateRestart()
    assert(liveOrder(MaintenanceSql.storeFor(spark, "gvbr", "ord")) == order)
    assert(content("ord") == want)
  }
}
