package perfbench

import graft.GraftSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

/** The run spec `run.py` writes: settings plus the workload's input
  * paths. */
final class Spec(m: Map[String, Any]) {
  def str(k: String): String = m(k).toString
  def long(k: String): Long = m(k) match {
    case n: BigInt => n.toLong
    case n: Number => n.longValue
    case other => other.toString.toLong
  }
  def double(k: String): Double = m(k) match {
    case n: BigInt => n.toDouble
    case n: Number => n.doubleValue
    case other => other.toString.toDouble
  }
  def bool(k: String): Boolean = m(k).asInstanceOf[Boolean]
  def list(k: String): Seq[Any] = m(k).asInstanceOf[Seq[Any]]
  def strs(k: String): Seq[String] = list(k).map(_.toString)
}

/** Usage: `Main <spec.json>`. Writes the run record to the spec's
  * `out` path; `run.py` turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val text = new String(Files.readAllBytes(Paths.get(args(0))), UTF_8)
    val spec = new Spec(JsonMethods.parse(text).values.asInstanceOf[Map[String, Any]])
    val record = new Runner(spec).run()
    Files.write(Paths.get(spec.str("out")),
      Serialization.write(record)(DefaultFormats).getBytes(UTF_8))
  }
}

/** One closed-loop client: every operation starts after the previous
  * one ends.
  *
  * A run sets up several times (a fresh SparkContext each time), runs
  * one cold pass in the last set-up session, then warm passes, each in
  * a fresh `newSession()` of the same SparkContext, until at least
  * `min_warm_passes` ran and `seconds` have passed. Every operation's
  * full result is collected, never counted. Pass 1's results are
  * written for the oracle; every later pass must reproduce them
  * exactly.
  *
  * With `trace` on, every other warm pass (and the cold pass) is
  * traced: job groups per operation phase, the listener, plan
  * statistics and spans run → pass → op → {build, plan, exec} plus one
  * span per Spark job. Untraced passes give the tracing overhead. */
final class Runner(spec: Spec) {
  private val cores = spec.long("cores").toInt
  private val traceOn = spec.bool("trace")
  private val seconds = spec.double("seconds")
  private val minWarm = spec.long("min_warm_passes").toInt
  private val setupReps = spec.long("setup_reps").toInt
  private val resultsDir = Paths.get(spec.str("results_dir"))
  private val wl = Workloads(spec.str("workload"), spec)

  private val runStartMs = System.currentTimeMillis()
  private val runStartNs = System.nanoTime()
  private def now: Double = (System.nanoTime() - runStartNs) / 1e9
  private val collector = new Collector(runStartMs)

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastId = 0
  private def newId(): Int = { lastId += 1; lastId }
  private def span(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Unit =
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start" -> start, "end" -> end) ++ attrs

  private val firstHash = mutable.Map.empty[String, String]
  private val mismatches = mutable.ArrayBuffer.empty[String]

  def run(): Map[String, Any] = {
    val runId = newId()
    Files.createDirectories(resultsDir)
    var spark = GraftSession.build("perfbench", cores)
    wl.prepare(spark)
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to setupReps) {
      stop(spark)
      val t0 = now
      spark = GraftSession.build("perfbench", cores)
      val t1 = now
      wl.register(spark, -i)
      setups += now - t0
      builds += t1 - t0
    }
    wl.register(spark, 1)
    val passes = mutable.ArrayBuffer(runPass(spark, 1, traceOn, cold = true, runId))
    HeapWatch.reset()
    val warmStart = now
    var p = 1
    while (p - 1 < minWarm || now - warmStart < seconds) {
      p += 1
      val s = spark.newSession()
      wl.register(s, p)
      passes += runPass(s, p, traceOn && p % 2 == 0, cold = false, runId)
    }
    val peakHeapMb = HeapWatch.peakBytes / 1048576.0
    val core = wl match {
      case m: MedianAgg if traceOn => CoreProbe.run(m.probeValues(spark))
      case _ => Map.empty[String, Double]
    }
    span(runId, 0, "run", spec.str("workload"), 0.0, now)
    stop(spark)
    Map(
      "setup_s" -> setups, "session_build_s" -> builds,
      "passes" -> passes, "peak_heap_mb" -> peakHeapMb, "core" -> core,
      "mismatches" -> mismatches, "spans" -> spans,
      "jobs" -> collector.jobSpans.map { case (g, j, s, e) =>
        Map("group" -> g, "job" -> j, "start" -> s, "end" -> e) })
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def runPass(s: SparkSession, pass: Int, traced: Boolean,
      cold: Boolean, runId: Int): Map[String, Any] = {
    val sc = s.sparkContext
    if (traced) sc.addSparkListener(collector)
    val passId = newId()
    val t0 = now
    val ops = wl.ops(pass).map(runOp(s, pass, _, traced, cold, passId))
    val t1 = now
    if (traced) {
      BusDrain(sc)
      sc.removeSparkListener(collector)
      span(passId, runId, "pass", s"pass$pass", t0, t1)
    }
    val after = wl.afterPass(s, pass,
      (name, df) => check(pass, name, df, df.collect()))
    // the client's think time is zero: a pass takes the sum of its
    // operations, without the result checks between them
    Map("pass" -> pass, "cold" -> cold, "traced" -> traced,
      "s" -> ops.map(_("s").asInstanceOf[Double]).sum, "ops" -> ops) ++ after
  }

  private def runOp(s: SparkSession, pass: Int, op: Op, traced: Boolean,
      cold: Boolean, passId: Int): Map[String, Any] = {
    val sc = s.sparkContext
    val opId = newId()
    val filesBefore = if (traced) wl.tableDir(pass).map(files) else None
    val t0 = now
    var t1, t2 = t0
    val result =
      try {
        if (traced) sc.setJobGroup(s"$opId.build", op.name, false)
        val df = op.build(s)
        t1 = now
        if (traced) sc.setJobGroup(s"$opId.exec", op.name, false)
        df.queryExecution.executedPlan
        t2 = now
        Right((df, df.collect()))
      } catch { case e: Exception => Left(e) }
      finally { if (traced) sc.clearJobGroup() }
    val t3 = now
    val base = Map("name" -> op.name, "kind" -> op.kind, "s" -> (t3 - t0))
    result match {
      case Left(e) =>
        base ++ Map("ok" -> false, "error" -> e.toString.take(400))
      case Right((df, rows)) =>
        val ok = !op.verify || check(pass, op.name, df, rows)
        if (traced) {
          BusDrain(sc)
          val counts =
            collector.take(s"$opId.build").toMap.map { case (k, v) => s"build_$k" -> v } ++
            collector.take(s"$opId.exec").toMap.map { case (k, v) => s"exec_$k" -> v }
          val written = filesBefore.map { before =>
            files(wl.tableDir(pass).get).collect {
              case (p, n) if !before.get(p).contains(n) => n
            }.sum
          }
          // the plan `count()` would run instead: what the timed path
          // must not shrink to
          val countPlan = if (cold) Map("count_logical_nodes" ->
            df.groupBy().count().queryExecution.optimizedPlan.collect { case n => n }.size)
            else Map.empty
          span(opId, passId, "op", op.name, t0, t3,
            PlanStats.of(df) ++ counts ++ countPlan ++
              written.map("bytes_written" -> _) ++
              Map("op_kind" -> op.kind, "rows" -> rows.length, "pass" -> pass))
          span(newId(), opId, "build", op.name, t0, t1)
          span(newId(), opId, "plan", op.name, t1, t2)
          span(newId(), opId, "exec", op.name, t2, t3)
        }
        base ++ Map("ok" -> ok, "rows" -> rows.length)
    }
  }

  private def files(dir: Path): Map[Path, Long] = Lakehouse.walk(dir).toMap

  /** Pass 1 keeps each result for the oracle; later passes must hash
    * to the same sorted rows. */
  private def check(pass: Int, name: String, df: DataFrame,
      rows: Array[Row]): Boolean = {
    val lines = rows.map(r => r.toSeq.map(Runner.render).mkString("\t")).sorted
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    val hash = md.digest().map("%02x".format(_)).mkString
    firstHash.get(name) match {
      case None =>
        firstHash(name) = hash
        save(name, df, rows, lines)
        true
      case Some(h) if h == hash => true
      case Some(_) =>
        mismatches += s"pass $pass: $name differs from its first result"
        false
    }
  }

  private def save(name: String, df: DataFrame, rows: Array[Row],
      lines: Seq[String]): Unit =
    if (wl.parquetResults) {
      df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(resultsDir.resolve(name).toString)
    } else {
      Files.write(resultsDir.resolve(s"$name.tsv"),
        (df.columns.mkString("\t") +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    }
}

/** The largest heap occupancy left after any garbage collection since
  * [[reset]]: the peak live heap, which unlike raw peak usage does not
  * just follow the collector's choice of when to run. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  def peakBytes: Long = peak
  def reset(): Unit = peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

object Runner {
  def render(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
