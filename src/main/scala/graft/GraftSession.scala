package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured session for this library.
  *
  * Scale-relevant settings, chosen once instead of per-call-site:
  *  - `spark.sql.shuffle.partitions` sized to the executor core count
  *    (the local harness's stand-in for "size shuffles to the cluster,
  *    not the 200 default");
  *  - AQE left ON (Spark 4 default) so skewed shuffles re-plan at
  *    runtime and small partitions coalesce;
  *  - UTC session timezone (oracle comparability);
  *  - the events-table nanos conf from [[graft.sources.Tables]]
  *    applied at construction, keeping `Tables.load` pure.
  */
object GraftSession {

  /** Local cores for every harness session: `SPARK_GRAFT_CPUS` when set,
    * else the processors the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` carries a caller's own settings (SpillProbe's memory cap);
    * `SPARK_GRAFT_EXTRA_CONF` is applied after it and wins on a clash. */
  def build(appName: String, cores: Int = defaultCores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    // extra confs from the environment — the local harness's stand-in
    // for `spark-submit --conf` (e.g. SPARK_GRAFT_EXTRA_CONF=
    // "spark.graft.memo.reliable=true" to exercise the durable-
    // checkpoint posture end-to-end)
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the production registration path: functions + conf-gated
      // optimizer rules + the maintenance-SQL parser delegate
      // (OPTIMIZE / VACUUM / RESTORE ... VERSION AS OF)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.sources.Tables.requiredConf)
      .config(conf ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
