package graft.sources

import graft.{PlanWalk, SparkTestBase}

/** TABLESAMPLE pushdown (`SupportsPushDownTableSample`, FULL — the
  * scan owns the sampling): cluster sampling at split grain, each
  * split one seeded Bernoulli draw, so `TABLESAMPLE (p PERCENT)` on a
  * many-file table reads ~p% of the BYTES. Unbiased per row (a row's
  * inclusion probability is its split's draw = p), REPEATABLE(seed)
  * deterministic, declined when the table is too coarse for the
  * fraction or with replacement — Spark then row-samples a full scan.
  * A pushed sample also disables metadata-served aggregates (they
  * describe the FULL table). */
class TableSampleSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_smp").toString

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gsmp", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsmp.path", root)
  }

  /** 1 when `df`'s run served its aggregate from the drawn splits'
    * metadata. */
  private def served(df: org.apache.spark.sql.DataFrame): Long =
    PlanWalk.metric(df, ScanMetrics.AggSampledServed)

  private def build(table: String, files: Int, rowsPer: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS gsmp.$table")
    spark.sql(s"CREATE TABLE gsmp.$table (k BIGINT)")
    (0 until files).foreach(i => spark.sql(
      s"INSERT INTO gsmp.$table SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * rowsPer} FROM RANGE($rowsPer)"))
  }

  test("sampled scan reads only the selected splits; REPEATABLE is " +
      "deterministic; fraction lands near the ask") {
    setup()
    build("t", files = 40, rowsPer = 100)
    val (rows1, s1Df) = collected(
      "SELECT k FROM gsmp.t TABLESAMPLE (20 PERCENT) REPEATABLE (42)")
    val s1 = rows1.map(_.getLong(0)).sorted
    val opened = readers(s1Df)
    assert(opened < 40, s"sampling must not open every reader: $opened")
    // cluster grain: whole 100-row files, count a multiple of 100
    assert(s1.length % 100 == 0 && s1.length > 0 && s1.length < 4000)
    // deterministic repeat
    val s2 = spark.sql(
      "SELECT k FROM gsmp.t TABLESAMPLE (20 PERCENT) REPEATABLE (42)")
      .collect().map(_.getLong(0)).sorted
    assert(java.util.Arrays.equals(s1, s2), "REPEATABLE must repeat")
    // a different seed selects a different subset (overwhelmingly)
    val s3 = spark.sql(
      "SELECT k FROM gsmp.t TABLESAMPLE (20 PERCENT) REPEATABLE (43)")
      .collect().map(_.getLong(0)).sorted
    assert(!java.util.Arrays.equals(s1, s3),
      "different seeds must select different splits")
    // fraction sanity at this seed (deterministic, pinned):
    // n=40 draws at p=.2 — accept a wide deterministic band
    assert(s1.length >= 200 && s1.length <= 1600,
      s"20% of 4000 landed at ${s1.length}")
  }

  test("aggregates over a pushed sample are computed from the " +
      "sampled rows, never served from full-table metadata") {
    setup()
    build("a", files = 40, rowsPer = 100)
    val full = spark.sql("SELECT count(*) FROM gsmp.a").head().getLong(0)
    assert(full == 4000L)
    val sampled = spark.sql(
      "SELECT count(*) AS n FROM gsmp.a TABLESAMPLE (20 PERCENT) " +
        "REPEATABLE (42)").head().getLong(0)
    assert(sampled > 0 && sampled < full,
      s"sampled count must come from sampled rows: $sampled")
  }

  test("declines: too few splits for the fraction, with replacement — " +
      "Spark row-samples a full scan instead") {
    setup()
    build("d", files = 4, rowsPer = 100)
    // 4 files at 10%: cluster grain would be ~all-or-nothing — the
    // push declines and Spark's own Sample row-samples (count is not
    // a multiple of 100 with overwhelming probability)
    val n = spark.sql(
      "SELECT k FROM gsmp.d TABLESAMPLE (10 PERCENT) REPEATABLE (7)")
      .collect().length
    // row-grain Bernoulli over 400 rows at 10%: must not be cluster
    // sized (0/100/200/...) — allow the (vanishingly unlikely) exact
    // multiples only when small
    assert(n > 0 && n < 400)
    assert(n % 100 != 0, s"decline lost: cluster-shaped count $n")
    // with replacement: decline (a split cannot be emitted twice)
    val wr = spark.table("gsmp.d").sample(withReplacement = true,
      fraction = 0.5, seed = 7).count()
    assert(wr > 0 && wr < 800)
  }

  test("sample membership is a stable property of the data: the same " +
      "REPEATABLE seed selects the same rows with and without a " +
      "co-pushed predicate") {
    setup()
    build("s", files = 40, rowsPer = 100)
    val all = spark.sql(
      "SELECT k FROM gsmp.s TABLESAMPLE (50 PERCENT) REPEATABLE (42)")
      .collect().map(_.getLong(0)).toSet
    // k >= 2000 prunes files 0..19 at plan time — with membership
    // keyed on each split's STABLE identity (not its ordinal in the
    // post-pruning plan), the surviving splits keep their draws and
    // the filtered sample is EXACTLY the unfiltered sample's rows
    // that satisfy the predicate
    val filtered = spark.sql(
      "SELECT k FROM gsmp.s TABLESAMPLE (50 PERCENT) REPEATABLE (42) " +
        "WHERE k >= 2000").collect().map(_.getLong(0)).toSet
    assert(filtered == all.filter(_ >= 2000L),
      s"sample membership shifted under a co-pushed predicate: " +
        s"${filtered.size} filtered vs ${all.count(_ >= 2000L)} expected")
  }

  test("estimateStatistics scales by the pushed sample: a 10% scan " +
      "of a big table is costed at ~10% and broadcasts") {
    setup()
    build("st", files = 40, rowsPer = 100)
    val full = spark.sql("SELECT k FROM gsmp.st").queryExecution
      .optimizedPlan.stats
    val sampled = spark.sql(
      "SELECT k FROM gsmp.st TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
      .queryExecution.optimizedPlan.stats
    assert(full.rowCount.contains(BigInt(4000)), s"full: $full")
    val n = sampled.rowCount.map(_.toLong).getOrElse(-1L)
    // the ACTUAL planned live span of the drawn splits (cluster
    // grain: a multiple of 100), far below the full table
    assert(n > 0 && n < 1600 && n % 100 == 0,
      s"sampled scan costed at $n rows (full=4000)")
    assert(sampled.sizeInBytes * 2 < full.sizeInBytes,
      s"sizeInBytes must shrink with the sample: " +
        s"${sampled.sizeInBytes} vs ${full.sizeInBytes}")
  }

  test("post-filter granularity re-check: when filters prune the " +
      "planned splits below the cluster threshold the sample " +
      "degrades to deterministic ROW-grain draws") {
    setup()
    build("g", files = 40, rowsPer = 100)
    // push-time guard passes (40 segs x 10% = 4), but k < 300 prunes
    // the plan to 3 splits (3 x 0.1 < 4): cluster grain would be
    // near all-or-nothing, so every surviving split is planned and
    // the READER Bernoulli-draws each row on its live id
    val (rowsA, aDf) = collected(
      "SELECT k FROM gsmp.g TABLESAMPLE (10 PERCENT) REPEATABLE (9) " +
        "WHERE k < 300")
    val a = rowsA.map(_.getLong(0)).sorted
    assert(readers(aDf) == 3,
      s"row-grain degrade must plan ALL surviving splits: " +
        s"${readers(aDf)}")
    assert(a.forall(_ < 300L))
    assert(a.length > 0 && a.length < 300, s"degenerate: ${a.length}")
    assert(a.length % 100 != 0 || a.length < 100,
      s"cluster-shaped count under row-grain degrade: ${a.length}")
    // 300 draws at p=.1 — a wide deterministic band
    assert(a.length >= 10 && a.length <= 70,
      s"10% of 300 landed at ${a.length}")
    // deterministic repeat
    val b = spark.sql(
      "SELECT k FROM gsmp.g TABLESAMPLE (10 PERCENT) REPEATABLE (9) " +
        "WHERE k < 300").collect().map(_.getLong(0)).sorted
    assert(java.util.Arrays.equals(a, b), "REPEATABLE must repeat")
    // row draws key on snapshot-global live ids, so membership is
    // predicate-independent ACROSS degraded plans too: narrowing the
    // filter keeps exactly the common rows
    val c = spark.sql(
      "SELECT k FROM gsmp.g TABLESAMPLE (10 PERCENT) REPEATABLE (9) " +
        "WHERE k < 200").collect().map(_.getLong(0)).toSet
    assert(c == a.filter(_ < 200L).toSet,
      "row-grain membership shifted when the predicate narrowed")
  }

  test("aggregates over a cluster-grain sample serve from the DRAWN " +
      "splits' metadata: zero data read, values identical to " +
      "aggregating the sampled scan") {
    setup()
    build("m", files = 40, rowsPer = 100)
    val rows = spark.sql(
      "SELECT k FROM gsmp.m TABLESAMPLE (20 PERCENT) REPEATABLE (42)")
      .collect().map(_.getLong(0))
    assert(rows.nonEmpty)
    val (rowsR, rDf) = collected(
      """SELECT count(*) AS n, count(k) AS nk, min(k) AS mn,
        |       max(k) AS mx, sum(k) AS s, avg(k) AS a
        |FROM gsmp.m TABLESAMPLE (20 PERCENT) REPEATABLE (42)"""
        .stripMargin)
    val r = rowsR.head
    assert(served(rDf) == 1,
      "the sampled aggregate must serve from metadata")
    assert(readers(rDf) == 0,
      s"metadata-served: no reader may open, got " +
        s"${readers(rDf)}")
    assert(r.getLong(0) == rows.length)
    assert(r.getLong(1) == rows.length)
    assert(r.getLong(2) == rows.min)
    assert(r.getLong(3) == rows.max)
    assert(r.getLong(4) == rows.sum)
    assert(r.getDouble(5) == rows.sum.toDouble / rows.length)
  }

  test("sampled metadata aggregates decline under a co-pushed filter " +
      "and under a row-level overlay — the sampled scan answers, " +
      "values unchanged") {
    setup()
    build("md", files = 40, rowsPer = 100)
    // filter: the drawn-split fold can't see which rows satisfy it
    val (rowsF, fDf) = collected(
      "SELECT count(*) FROM gsmp.md TABLESAMPLE (50 PERCENT) " +
        "REPEATABLE (11) WHERE k >= 2000")
    val f = rowsF.head.getLong(0)
    val fr = spark.sql(
      "SELECT k FROM gsmp.md TABLESAMPLE (50 PERCENT) " +
        "REPEATABLE (11) WHERE k >= 2000").collect().length
    assert(f == fr.toLong, s"agg $f vs scan $fr")
    assert(served(fDf) == 0,
      "a filtered sampled aggregate must not serve from metadata")
    // overlay: stats describe the file INCLUDING the deleted row
    spark.sql("DELETE FROM gsmp.md WHERE k = 5")
    val (rowsD, dDf) = collected(
      "SELECT count(*) FROM gsmp.md TABLESAMPLE (50 PERCENT) " +
        "REPEATABLE (11)")
    val d = rowsD.head.getLong(0)
    val dr = spark.sql(
      "SELECT k FROM gsmp.md TABLESAMPLE (50 PERCENT) " +
        "REPEATABLE (11)").collect().length
    assert(d == dr.toLong, s"agg $d vs scan $dr under a delete overlay")
    assert(served(dDf) == 0,
      "an overlaid snapshot must not serve sampled aggregates")
  }

  test("sample composes with pushed filters and LIMIT truncation") {
    setup()
    build("c", files = 40, rowsPer = 100)
    // filter first (file skipping), then sample the survivors
    val f = spark.sql(
      "SELECT k FROM gsmp.c TABLESAMPLE (50 PERCENT) REPEATABLE (11) " +
        "WHERE k >= 2000").collect().map(_.getLong(0))
    assert(f.forall(_ >= 2000L))
    assert(f.length % 100 == 0 && f.length > 0 && f.length < 2000)
    // LIMIT over the sampled subset still truncates planning
    val (l, lDf) = collected(
      "SELECT k FROM gsmp.c TABLESAMPLE (50 PERCENT) REPEATABLE (11) " +
        "LIMIT 150")
    assert(l.length == 150)
    assert(readers(lDf) <= 2,
      s"LIMIT over sample must plan the covering prefix of sampled " +
        s"splits: ${readers(lDf)}")
  }
}
