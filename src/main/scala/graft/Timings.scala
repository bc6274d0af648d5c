package graft

/** Isolated per-query timing harness — the adjudication tool for
  * driver-bench variance (this VM's co-tenant stall windows inflate
  * full-suite totals 3-7x for hours; see PLANS.md round-6). Unlike
  * [[Bench]] (one cold pass over every query, driver-comparable),
  * this runs each named query SERIALIZED with a warm pass first, then
  * takes the median of 3 timed runs — so artifact builds, FrameMemo
  * checkpoints, and codegen land in `warm_sec` and the medians are
  * per-query marginal cost, the only number trustworthy under a noisy
  * VM.
  *
  * Beside wall time it records SHUFFLE BYTES per query (task-metric
  * totals over the final timed run, via a SparkListener) — the
  * scale-argument number for the heavy families: wall time says what
  * the fixture cost, exchange bytes say what 100 TB will cost.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.Timings
  * [q1,q2,...|all] [outFile.json]` — prints one JSON object and
  * optionally writes it to `outFile`.
  */
object Timings {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = GateRunner.select(args.headOption)
    val spark = GraftSession.build("graft-timings")
    val json = GateRunner.timings(spark, sfDir, names)
    println(json)
    args.lift(1).foreach(f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), json + "\n"))
    spark.stop()
  }
}
