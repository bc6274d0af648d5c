package perfbench

import graft.SparkEntry
import graft.functions.GraftFunctions

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `build` returns the DataFrame and runs whatever
  * the library does eagerly while building it (memo builds, eager
  * loops, SQL commands); the runner then plans and collects it.
  * `verify` marks results the oracle checks. */
final case class Op(name: String, kind: String,
    build: SparkSession => DataFrame, verify: Boolean = true)

/** A workload: its input registration (part of set-up) and the
  * operations of one pass. Inputs are generated outside the JVM from
  * the seed; the workload only sees their paths. */
trait Workload {
  /** One-time work before set-up, outside every timed interval. */
  def prepare(spark: SparkSession): Unit = ()
  /** Input registration for the session that runs `pass` (negative for
    * the set-up repetitions). */
  def register(spark: SparkSession, pass: Int): Unit
  def ops(pass: Int): Seq[Op]
  /** Pass-1 results are written as parquet (true) or canonical TSV. */
  def parquetResults: Boolean = false
  /** Untimed checks and measurements after a pass. */
  def afterPass(spark: SparkSession, pass: Int,
      check: (String, DataFrame) => Boolean): Map[String, Any] = Map.empty
  /** The table directory a pass writes, walked around each statement of
    * a traced pass to count the bytes it wrote. */
  def tableDir(pass: Int): Option[Path] = None
}

object Workloads {
  def apply(name: String, spec: Spec): Workload = name match {
    case "median_agg" => new MedianAgg(spec)
    case "llm_pipeline" => new LlmPipeline(spec)
    case "lakehouse_rw" => new Lakehouse(spec)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's aggregate through SQL registration: k size and group
  * count move different phases of the reservoir state machine. */
final class MedianAgg(spec: Spec) extends Workload {
  private val path = spec.str("samples")
  private val exactK = spec.long("exact_k")
  private val slice = spec.long("exact_slice_keys")

  private val queries: Seq[(String, String)] = Seq(
    "global_k100" -> "SELECT appx_median_bounded(x, 100) AS m FROM samples",
    "global_k20000" -> "SELECT appx_median_bounded(x, 20000) AS m FROM samples",
    "global_k100000" -> "SELECT appx_median_bounded(x, 100000) AS m FROM samples",
    "by4_k20000" ->
      "SELECT g4, appx_median_bounded(x, 20000) AS m FROM samples GROUP BY g4",
    "by100k_k100" ->
      "SELECT g100k, appx_median_bounded(x, 100) AS m FROM samples GROUP BY g100k",
    "exact_500k" -> (s"SELECT appx_median_bounded(x, $exactK) AS m FROM samples " +
      s"WHERE g100k < $slice"))

  def register(spark: SparkSession, pass: Int): Unit = {
    GraftFunctions.register(spark)
    spark.read.parquet(path).createOrReplaceTempView("samples")
  }

  def ops(pass: Int): Seq[Op] =
    queries.map { case (n, q) => Op(n, "query", _.sql(q)) }

  /** The values the core probe feeds to the reservoir directly: every
    * non-null `x`, in file order. */
  def probeValues(spark: SparkSession): Array[Double] =
    spark.read.parquet(path).where("x IS NOT NULL")
      .select("x").collect().map(_.getDouble(0))
}

/** Oracle-backed library gates over a generated corpus, in a seeded
  * order that is the same for every pass of a run. */
final class LlmPipeline(spec: Spec) extends Workload {
  private val dir = spec.str("dir")
  private val gates = spec.strs("gates")

  /** Each gate's DuckDB oracle SQL, for the oracle run after the JVM. */
  override def prepare(spark: SparkSession): Unit = {
    val sql = gates.map(g => g -> SparkEntry.oracleSql(g)).toMap
    Files.write(Paths.get(spec.str("results_dir"), "oracle_sql.json"),
      org.json4s.jackson.Serialization.write(sql)(org.json4s.DefaultFormats)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def register(spark: SparkSession, pass: Int): Unit =
    GraftFunctions.register(spark)

  def ops(pass: Int): Seq[Op] = gates.map { g =>
    val run = SparkEntry.queries(g)
    Op(g, "gate", s => run(s, dir))
  }

  override def parquetResults: Boolean = true
}

/** Reads beside writes on one durable, file-backed MemCatalog table.
  * Every pass runs on its own copy of the base table's directory, under
  * its own catalog name, so each pass starts from the same state and
  * no JVM-cached table store carries over. */
final class Lakehouse(spec: Spec) extends Workload {
  private val lake = Paths.get(spec.str("lake_dir"))
  private val base = spec.str("base")
  private val columns = spec.str("columns")
  private val rounds = spec.list("rounds")
  private val Table = "li"

  // set-up repetitions pass negative numbers: each gets its own catalog
  // name, so each one replays the commit log instead of hitting the
  // JVM-wide table cache
  private def catalog(pass: Int) = if (pass < 0) s"lks${-pass}" else s"lk$pass"
  private def passDir(pass: Int): Path = lake.resolve(catalog(pass))

  override def prepare(spark: SparkSession): Unit = {
    mount(spark, "lkbase", lake.resolve("lkbase"))
    spark.sql(s"CREATE TABLE lkbase.$Table ($columns)")
    spark.sql(s"INSERT INTO lkbase.$Table SELECT * FROM parquet.`$base`")
  }

  private def mount(spark: SparkSession, cat: String, dir: Path): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir.toString)
  }

  /** Copies the base table for this pass, mounts it and loads it: the
    * commit-log replay. */
  def register(spark: SparkSession, pass: Int): Unit = {
    GraftFunctions.register(spark)
    copyTree(lake.resolve("lkbase"), passDir(pass))
    mount(spark, catalog(pass), passDir(pass))
    spark.table(s"${catalog(pass)}.$Table").schema
  }

  def ops(pass: Int): Seq[Op] = {
    val t = s"${catalog(pass)}.$Table"
    val stmts = rounds.zipWithIndex.flatMap { case (round, r) =>
      round.asInstanceOf[Seq[Map[String, Any]]].zipWithIndex.map { case (op, i) =>
        val sql = op("spark").toString.replace("{T}", t)
        Op(s"r$r.$i.${op("kind")}", op("kind").toString, _.sql(sql),
          verify = op.contains("read"))
      }
    }
    stmts ++ Seq(
      Op("optimize", "optimize", _.sql(s"OPTIMIZE $t"), verify = false),
      Op("vacuum", "vacuum", _.sql(s"VACUUM $t RETAIN 1 VERSIONS"), verify = false))
  }

  override def tableDir(pass: Int): Option[Path] = Some(passDir(pass))

  override def afterPass(spark: SparkSession, pass: Int,
      check: (String, DataFrame) => Boolean): Map[String, Any] = {
    val finalOk = check("final", spark.sql(
      s"SELECT ${spec.str("final_cols")} FROM ${catalog(pass)}.$Table"))
    val files = Lakehouse.walk(passDir(pass))
    val (log, data) = files.partition { case (p, _) =>
      !p.getFileName.toString.endsWith(".parquet") }
    Map(
      "final_ok" -> finalOk,
      "stored_bytes" -> files.map(_._2).sum,
      "commit_log_bytes" -> log.map(_._2).sum,
      "live_files" -> data.size)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    if (Files.exists(to)) return
    val it = Files.walk(from).iterator()
    while (it.hasNext) {
      val p = it.next()
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
}

object Lakehouse {
  /** (file, bytes) of every regular file under `dir`. */
  def walk(dir: Path): Seq[(Path, Long)] = {
    if (!Files.exists(dir)) return Nil
    val out = Seq.newBuilder[(Path, Long)]
    val it = Files.walk(dir).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p)) out += (p -> Files.size(p))
    }
    out.result()
  }
}
