package graft.operators

import graft.SparkTestBase

import org.apache.spark.sql.functions._

class BloomSkipSpec extends SparkTestBase {

  private lazy val path: String = {
    val p = s"${graft.queries.SourceQueries.StagingRoot}/graft_test/bloomskip_docs"
    ZoneMap.writeClustered(
      graft.sources.Tables.load(spark, sf0001, "documents")
        .select(col("doc_id"), col("source"),
          concat(col("source"), lit("/"), col("doc_id").cast("string"))
            .as("url")),
      "doc_id", 16, p)
    BloomSkip.persist(spark, p, "url")
    p
  }

  private def allFiles: Long =
    spark.read.parquet(path).select(input_file_name()).distinct().count()

  test("lookup is result-identical to filtering the full table") {
    val urls = Seq("src7/7", "src3/23", "src0/0", "srcX/absent")
    val got = BloomSkip.lookupScan(spark, path, "url", urls)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(path).where(col("url").isin(urls: _*))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got == Seq(0L, 7L, 23L))
  }

  test("a present key opens ~1 of 16 files; an absent key ~0") {
    assert(allFiles == 16L)
    val present =
      BloomSkip.survivingFiles(spark, path, "url", Seq("src3/23")).get
    assert(present.size >= 1 && present.size <= 2, present.mkString(","))
    val absent = BloomSkip.survivingFiles(spark, path, "url",
      Seq("srcX/not-there")).get
    assert(absent.size <= 1, absent.mkString(","))
  }

  test("min/max zones on the same column could not have pruned") {
    // every file's lexicographic [min,max] straddles the probe url —
    // a zone map on url keeps all 16 files, the bloom keeps ~1
    val zones = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col("url")).as("lo"), max(col("url")).as("hi"))
      .collect()
    val probe = "src3/23"
    assert(zones.forall(r =>
      r.getString(1) <= probe && probe <= r.getString(2)))
  }

  test("no surviving files short-circuits to an empty, schema-correct frame") {
    val df = BloomSkip.lookupScan(spark, path, "url", Seq("srcX/void"))
    assert(df.columns.toSeq == Seq("doc_id", "source", "url"))
    assert(df.count() == 0L)
  }

  test("non-string key column: probe hashes the native type, not its string") {
    // the build hashes xxhash64(BIGINT doc_id); a probe that hashed
    // the STRING "23" would miss every file (silent false negative)
    val p = s"${graft.queries.SourceQueries.StagingRoot}/graft_test/bloomskip_bigint"
    ZoneMap.writeClustered(
      graft.sources.Tables.load(spark, sf0001, "documents")
        .select(col("doc_id"), col("source")),
      "source", 8, p)
    BloomSkip.persist(spark, p, "doc_id")
    val surv = BloomSkip.survivingFiles(spark, p, "doc_id", Seq("23")).get
    assert(surv.nonEmpty, "native-type probe must hit the containing file")
    val got = BloomSkip.lookupScan(spark, p, "doc_id", Seq("23"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(23L))
  }

  test("membership is probed executor-side: only file names reach the driver") {
    val probe = BloomSkip.probeFrame(spark, path, "url", Seq("src3/23"))
    // the frame the driver collects carries ONLY the file name …
    assert(probe.schema.fieldNames.toSeq == Seq("file"))
    // … and the bloom-blob membership test sits in the executed plan
    // (a Filter over the artifact scan), not in driver code
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
  }

  test("past the maxFiles cap: declines to prune, lookup stays correct") {
    withConf(BloomSkip.MaxFilesKey -> "4") { // 16 indexed files > 4
      assert(BloomSkip.survivingFiles(spark, path, "url",
        Seq("src3/23")).isEmpty)
      val got = BloomSkip.lookupScan(spark, path, "url", Seq("src3/23"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(23L)) // unpruned fallback, identical result
    }
  }
}
