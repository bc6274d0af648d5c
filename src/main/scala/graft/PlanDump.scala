package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence tool (the judge checks plan claims
  * against `plans/<round>/<query>_{before,after}.txt`). Plans are
  * captured WITHOUT executing the query (initial AQE plan), which is
  * where Exchange counts / join strategies / PushedFilters live.
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> [q1,q2,...|all]`
  * writes `<outDir>/<query>_<suffix>.txt`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <outDir> <suffix> [q1,q2,...|all]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = GateRunner.select(args.lift(2))
    val spark = GraftSession.build("graft-plandump")
    GateRunner.planDump(spark, sfDir, args(0), args(1), names)
    spark.stop()
  }
}
