package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** The benchmark's one Spark listener. It counts jobs, stages, tasks,
  * task CPU and GC time, shuffle and spill bytes per job group,
  * and keeps one span per job. The runner sets a job group per
  * operation phase, which links every job to the operation that caused
  * it, eager jobs run while a DataFrame is built included. */
final class Collector(runStartMs: Long) extends SparkListener {

  final class Counts {
    var jobs, stages, tasks, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_cpu_s" -> cpuNs / 1e9, "task_gc_s" -> gcMs / 1e3,
      "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill)
  }

  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, (String, Long)]
  /** (job group, job id, start s, end s), times relative to run start. */
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Double, Double)]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        openJobs(e.jobId) = (g, e.time)
        counts(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, t0) =>
      jobSpans += ((g, e.jobId, (t0 - runStartMs) / 1e3,
        (e.time - runStartMs) / 1e3))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  /** Counts of one job group; call after [[org.apache.spark.BusDrain]]. */
  def take(group: String): Counts =
    synchronized { byGroup.remove(group).getOrElse(new Counts) }
}
