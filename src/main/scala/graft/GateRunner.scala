package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The gate runner behind the harness mains: one mode per main, plus
  * the name selector, timed execution, result writer and task-metric
  * listener they share. A mode takes a live session; its main builds
  * the session with [[GraftSession]] and stops it. */
object GateRunner {

  /** A gate: builds its result from a session and a fixture dir. */
  type Gate = (SparkSession, String) => DataFrame

  /** `all` (or no argument) is every gate, else a comma list. Sorted:
    * Map iteration order shifts whenever a gate is added, which would
    * silently reassign cache-fill and codegen warmup between gates. An
    * unknown name fails before any session is built. */
  def select(arg: Option[String]): Seq[String] = {
    val names = arg.filter(_ != "all")
      .fold(SparkEntry.queries.keys.toSeq)(_.split(',').toSeq).sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names
  }

  /** One timed run of a gate, for Bench and Timings alike. It counts
    * rows, which lets Catalyst prune columns the count does not need. */
  def execute(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).count()

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Bench mode: one cold pass over `names`, as one JSON line. */
  def bench(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val warmup = seconds {
      spark.range(100000).selectExpr("sum(id)").collect()
      graft.sources.Tables.load(spark, sfDir, "region").count()
    }
    // a failing query must not bench as a fast success: its time-to-
    // failure is still recorded, but the name lands in "errors" too
    val results = names.map { name =>
      var err = Option.empty[String]
      val secs = seconds {
        try execute(spark, sfDir, name)
        catch { case e: Throwable => err = Some(e.getClass.getSimpleName) }
      }
      (name, secs, err)
    }
    json(ListMap("metric" -> "total", "value" -> results.map(_._2).sum,
      "unit" -> "sec", "queries" -> ListMap(results.map(r => r._1 -> r._2): _*),
      "errors" -> ListMap(results.collect { case (k, _, Some(e)) => k -> e }: _*),
      "warmup_sec" -> warmup, "sf" -> sfDir))
  }

  /** Timings mode: per gate a warm run, then the median of 3 timed runs
    * and the shuffle bytes of the last one, as one JSON object. */
  def timings(spark: SparkSession, sfDir: String, names: Seq[String]): String =
    withTotals(spark) { totals =>
      spark.range(100000).selectExpr("sum(id)").collect()
      def once(name: String): Double = seconds(execute(spark, sfDir, name))
      val rows = names.map { name =>
        val warm = once(name)
        val runs2 = Seq.fill(2)(once(name))
        totals.take()
        val last = once(name)
        val shuffle = totals.take()
        val runs = runs2 :+ last
        val median = runs.sorted.apply(1)
        System.err.println(f"[timings] $name warm=$warm%.2f runs=" +
          runs.map(r => f"$r%.2f").mkString(",") +
          f" median=$median%.2f shuffleW=${shuffle.shuffleWrite / 1e6}%.1fMB")
        name -> ListMap("warm_sec" -> warm, "runs_sec" -> runs,
          "median_sec" -> median, "shuffle_write_bytes" -> shuffle.shuffleWrite,
          "shuffle_read_bytes" -> shuffle.shuffleRead)
      }
      json(ListMap("mode" -> "isolated_median_of_3_warm", "sf" -> sfDir,
        "cpus" -> spark.sparkContext.defaultParallelism,
        "queries" -> ListMap(rows: _*)))
    }

  /** Verify mode: every gate's result dir plus `oracle_sql.json`.
    * Returns the gates that failed (their dirs are gone). */
  def verify(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String], queries: Map[String, Gate] = SparkEntry.queries)
      : Seq[String] = {
    val failed = names.filterNot(writeResult(spark, sfDir, outDir, _, queries))
    writeOracle(outDir, names)
    failed
  }

  /** PlanDump mode: `outDir/<gate>_<suffix>.txt` per gate, unexecuted. */
  def planDump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] $name -> ${name}_$suffix.txt " +
        s"(${plan.linesIterator.size} lines)")
    }
  }

  /** Spill mode: Verify's output plus `spill.json`, the seconds and
    * spilled bytes of each gate's write. */
  def spill(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): String = withTotals(spark) { totals =>
    val entries = names.map { name =>
      totals.take()
      val secs = seconds { writeResult(spark, sfDir, outDir, name); () }
      val spilled = totals.take()
      name -> ListMap("sec" -> secs,
        "memoryBytesSpilled" -> spilled.memorySpilled,
        "diskBytesSpilled" -> spilled.diskSpilled)
    }
    writeOracle(outDir, names)
    // the fraction the SparkContext got (0.6 is Spark's default)
    val fraction = spark.sparkContext.getConf.get("spark.memory.fraction", "0.6")
    val out = json(ListMap("sf" -> sfDir, "memory_fraction" -> fraction.toDouble,
      "queries" -> ListMap(entries: _*)))
    Files.writeString(Paths.get(outDir, "spill.json"), out)
    out
  }

  /** Writes a gate's result as one `coalesce(1)` parquet dir
    * `outDir/name`; false when the gate throws. A throwing gate is
    * logged and skipped, so it cannot hide the gates after it, and its
    * dir is deleted: a stale one from an earlier run would otherwise
    * pass the oracle compare. */
  def writeResult(spark: SparkSession, sfDir: String, outDir: String,
      name: String, queries: Map[String, Gate] = SparkEntry.queries)
      : Boolean =
    try {
      queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[gates] $name failed: ${e.getMessage}")
      deleteTree(Paths.get(outDir, name))
      false
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
      finally s.close()
    }

  /** The oracle SQL of each named gate that has one. */
  def writeOracle(outDir: String, names: Seq[String],
      sql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val entries = names.flatMap(n => sql.get(n).map(n -> _))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      json(ListMap(entries: _*)))
  }

  /** Compact JSON; json4s escapes every control char, so a tab or CR in
    * a gate's oracle SQL cannot break a reader's JSON parse. */
  def json(value: AnyRef): String = Serialization.write(value)(DefaultFormats)

  final case class Totals(shuffleWrite: Long, shuffleRead: Long,
      memorySpilled: Long, diskSpilled: Long)

  /** Sums task-level shuffle and spill bytes off the listener bus. */
  final class TaskTotals extends SparkListener {
    private val shuffleWrite, shuffleRead, memorySpilled, diskSpilled =
      new AtomicLong
    private def sums = Seq(shuffleWrite, shuffleRead, memorySpilled, diskSpilled)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        memorySpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
      }
    }

    /** The sums since the last take, which it zeroes. Listener events
      * post asynchronously, so it first polls until the sums stop moving
      * (two idle 100 ms windows, 5 s at most). Gates run serialized, so
      * a take before and after one run isolates that run's bytes. */
    def take(): Totals = {
      var prev = sums.map(_.get)
      var idle = 0
      var waited = 0
      while (idle < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val cur = sums.map(_.get)
        if (cur == prev) idle += 1 else { idle = 0; prev = cur }
      }
      val Seq(w, r, m, d) = sums.map(_.getAndSet(0))
      Totals(w, r, m, d)
    }
  }

  def withTotals[A](spark: SparkSession)(body: TaskTotals => A): A = {
    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)
    try body(totals) finally spark.sparkContext.removeSparkListener(totals)
  }
}
