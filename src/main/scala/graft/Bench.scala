package graft

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A warmup pass (tiny range job + one parquet
  * scan) runs before timing so session/JIT/parquet-footer startup is
  * reported separately (`warmup_sec`) instead of inflating whichever
  * query happens to run first. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    println(GateRunner.bench(spark, sfDir, GateRunner.select(None)))
    spark.stop()
  }
}
