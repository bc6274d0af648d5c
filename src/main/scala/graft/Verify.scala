package graft

/** Correctness dump: each gate's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/oracle_check.py <sfDir> <outDir>`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,...|all]` —
  * every gate by default; the optional third argument re-verifies a
  * few gates fast. Exits non-zero, naming them, when any gate threw
  * (after every gate has run). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [q1,q2,...|all]")
    val names = GateRunner.select(args.lift(2))
    val spark = GraftSession.build("graft-verify")
    val failed = GateRunner.verify(spark, args(0), args(1), names)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} gate(s) failed: " +
        failed.mkString(","))
      sys.exit(1)
    }
  }
}
