package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness modes driven on the shared test session (never stopped
  * here): Verify's dirs and oracle JSON, Bench's line, the selector. */
class GateRunnerSpec extends SparkTestBase {

  private val gates = Seq("q01_pricing_summary", "q13_median_exact")
  private val mapper = new ObjectMapper()

  private def tmp(): Path = Files.createTempDirectory("gate-runner")

  test("verify mode writes one single-file parquet dir per selected gate") {
    val out = tmp()
    GateRunner.verify(spark, sf0001, out.toString, gates)
    val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs == gates.toSet)
    gates.foreach { g =>
      val parts = Files.list(out.resolve(g)).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts == 1, g)
      assert(spark.read.parquet(out.resolve(g).toString).count() ==
        SparkEntry.queries(g)(spark, sf0001).count(), g)
    }
    val oracle = mapper.readValue(out.resolve("oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]]).asScala
    assert(oracle == SparkEntry.oracleSql.filter(kv => gates.contains(kv._1)))
  }

  test("a throwing gate loses its stale output dir and is reported") {
    val out = tmp()
    val stale = out.resolve("broken")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "from an earlier run")
    val ok = gates.head
    val queries = SparkEntry.queries.filter(_._1 == ok) + ("broken" -> {
      (_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("boom")
    })
    val failed = GateRunner.verify(spark, sf0001, out.toString,
      Seq("broken", ok), queries)
    assert(failed == Seq("broken"))
    assert(!Files.exists(stale), "a failed gate must leave no output dir")
    assert(Files.isDirectory(out.resolve(ok)))
  }

  test("oracle_sql.json parses back to the same map, control chars included") {
    val out = tmp()
    val sql = Map(
      "tabbed" -> "SELECT\t1 AS a\r\nFROM t",
      "ctrl" -> "SELECT '\u0001' AS \"q\\x\"",
      "unselected" -> "SELECT 2")
    GateRunner.writeOracle(out.toString, Seq("ctrl", "tabbed", "no_oracle"), sql)
    val back = mapper.readValue(out.resolve("oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]]).asScala
    assert(back == sql - "unselected")
  }

  test("the bench line carries exactly its seven keys") {
    val line = GateRunner.bench(spark, sf0001, gates)
    assert(!line.contains("\n"))
    val tree = mapper.readTree(line)
    assert(tree.fieldNames.asScala.toSet ==
      Set("metric", "value", "unit", "queries", "errors", "warmup_sec", "sf"))
    assert(tree.get("queries").fieldNames.asScala.toSeq == gates)
    assert(tree.get("errors").size == 0)
    assert(tree.get("value").asDouble > 0)
  }

  test("the selector sorts, expands `all`, and fails fast on unknown names") {
    assert(GateRunner.select(Some(gates.reverse.mkString(","))) == gates)
    assert(GateRunner.select(Some("all")) == SparkEntry.queries.keys.toSeq.sorted)
    assert(GateRunner.select(None) == GateRunner.select(Some("all")))
    val e = intercept[IllegalArgumentException](
      GateRunner.select(Some("q13_median_exact,q_typo")))
    assert(e.getMessage.contains("q_typo"))
  }
}
