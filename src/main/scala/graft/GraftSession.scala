package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, Verify, the CLI, the tools and the
  * test suites all start here, so the plan the oracle checks is the plan
  * the bench times. A setting only one caller needs is set by that caller
  * with `spark.conf.set` after the session exists.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, else the JVM's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` unless `master` names another (deployment) master;
    * shuffle partitions follow `cpus` either way. */
  def apply(cpus: Int = defaultCpus, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // size-first coalescing was measured and rejected (OPTIMIZATION_r20.md §3)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
