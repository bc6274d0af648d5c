package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs started under one job group. The listener bus
  * is asynchronous, so after `body` a one-task sentinel job runs under
  * its own group; the bus delivers events in order, so once the
  * sentinel's end arrives every job `body` started has been seen. */
object JobCounts {

  /** Run `body` on this thread under job group `group`. */
  def withGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Jobs started under `group` while `body` ran; `body` sets the group
    * on every thread that should be counted ([[withGroup]]). */
  def inGroup(spark: SparkSession, group: String)(body: => Unit): Int = {
    val sentinel = s"$group#sentinel"
    val jobs = new AtomicInteger(0)
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == sentinel) sentinelJobs.add(j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(j.jobId)) sentinelDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      withGroup(spark, sentinel)(spark.sparkContext.parallelize(Seq(1), 1).count())
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
