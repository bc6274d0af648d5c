package graft.queries

import graft.SparkTestBase

class FrameMemoSpec extends SparkTestBase {

  test("memoized builds once per key and invalidate forces a rebuild") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq((1L, "a")).toDF("id", "v") }

    val first = FrameMemo.memoized(spark, "spec#frame")(build)
    val second = FrameMemo.memoized(spark, "spec#frame")(build)
    assert(builds == 1, "second call must hit the memo")
    assert(first eq second, "the same materialized frame is returned")
    assert(second.count() == 1)

    FrameMemo.invalidate(spark)
    FrameMemo.memoized(spark, "spec#frame")(build)
    assert(builds == 2, "invalidate must force a rebuild")
  }

  test("keys are namespaced: different tags build independently") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq(1L).toDF("id") }
    FrameMemo.memoized(spark, "spec#a")(build)
    FrameMemo.memoized(spark, "spec#b")(build)
    assert(builds == 2)
  }

  /** Release two threads from one latch onto `body`; returns both
    * results. */
  private def race[A](body: => A): Seq[A] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val task: java.util.concurrent.Callable[A] = () => { start.await(); body }
      val futures = Seq(pool.submit(task), pool.submit(task))
      start.countDown()
      futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("two threads racing on one key build the frame once") {
    import spark.implicits._
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // the sleep keeps the first build running while the second thread
    // looks the key up
    val frames = race(FrameMemo.memoized(spark, "spec#race") {
      builds.incrementAndGet(); Thread.sleep(300); Seq(1L).toDF("id")
    })
    assert(builds.get == 1)
    assert(frames(0) eq frames(1))
  }

  test("two gates racing on one session train BPE once") {
    // a warm-up train first, so both counted sessions see the same
    // caches; each fresh session has an empty BPE memo
    TextQueries.bpeMerges(spark.newSession(), sf0001)
    val single = spark.newSession()
    val one = graft.JobCounts.inGroup(spark, "bpe-memo-one") {
      graft.JobCounts.withGroup(spark, "bpe-memo-one")(
        TextQueries.bpeMerges(single, sf0001))
    }
    val shared = spark.newSession()
    var merges = Seq.empty[Seq[graft.operators.BpeTrain.Merge]]
    val two = graft.JobCounts.inGroup(spark, "bpe-memo-race") {
      merges = race(graft.JobCounts.withGroup(spark, "bpe-memo-race")(
        TextQueries.bpeMerges(shared, sf0001)))
    }
    assert(one > 0)
    assert(two == one, s"two racing callers ran $two jobs, one caller $one")
    assert(merges(0) eq merges(1))
  }

  test("invalidate drops the BPE merges: the next call trains again") {
    // a warm-up train first, so both counted calls see the same caches
    TextQueries.bpeMerges(spark.newSession(), sf0001)
    val s = spark.newSession()
    def counted(group: String) = graft.JobCounts.inGroup(spark, group) {
      graft.JobCounts.withGroup(spark, group)(TextQueries.bpeMerges(s, sf0001))
    }
    val first = counted("bpe-invalidate-first")
    FrameMemo.invalidate(s)
    val second = counted("bpe-invalidate-second")
    assert(first > 0)
    assert(second == first, s"after invalidate $second jobs, first call $first")
  }

  test("two gates racing on one session stage the partitioned layout once") {
    // a warm-up staging first, so both counted sessions see the same
    // caches; each fresh session has an empty memo
    SourceQueries.partitionedEvents(spark.newSession(), sf0001)
    val single = spark.newSession()
    val one = graft.JobCounts.inGroup(spark, "stage-memo-one") {
      graft.JobCounts.withGroup(spark, "stage-memo-one")(
        SourceQueries.partitionedEvents(single, sf0001))
    }
    val shared = spark.newSession()
    var paths = Seq.empty[String]
    val two = graft.JobCounts.inGroup(spark, "stage-memo-race") {
      paths = race(graft.JobCounts.withGroup(spark, "stage-memo-race")(
        SourceQueries.partitionedEvents(shared, sf0001)))
    }
    assert(one > 0)
    assert(two == one, s"two racing callers ran $two jobs, one caller $one")
    assert(paths(0) == paths(1))
  }

  test("checkpointed honors the reliable conf: lineage truncates through the checkpoint dir") {
    import spark.implicits._
    val df = (0L until 100L).toDF("id")
      .withColumn("v", org.apache.spark.sql.functions.col("id") * 2)

    // default (local) path: executor-resident, no checkpoint files
    val local = FrameMemo.checkpointed(df)
    assert(local.count() == 100)

    withConf(FrameMemo.ReliableKey -> "true") {
      val reliable = FrameMemo.checkpointed(df)
      assert(reliable.count() == 100)
      assert(reliable.collect().map(_.getLong(1)).sorted
        sameElements local.collect().map(_.getLong(1)).sorted)
      // the reliable path must have set a checkpoint dir and written
      // RDD checkpoint files into it — that is what survives executor
      // loss after the lineage was truncated
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable path must establish a checkpoint dir")
      val files = new java.io.File(new java.net.URI(dir.get).getPath).listFiles()
      assert(files != null && files.nonEmpty,
        "reliable checkpoint must materialize files in the checkpoint dir")
      // and the plan must be cut: the checkpointed frame's logical plan
      // scans materialized rows instead of the original projection
      assert(reliable.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    }
  }
}
