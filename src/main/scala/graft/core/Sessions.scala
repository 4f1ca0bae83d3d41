package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * `spark.sql.ansi.enabled=false`: the engine reproduces the reference's
  * numpy/pandas arithmetic (0/0 -> NaN -> filled 0, x/0 -> ±Inf) rather
  * than ANSI SQL errors; score formulas additionally guard every division
  * so they are safe under either setting.
  */
object Sessions {
  /** Local core count for every main: the environment override, else the
    * JVM's available processors. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A session on [[cpus]] cores with as many shuffle partitions. */
  def local(appName: String): SparkSession = local(cpus, cpus, appName)

  def local(cores: String, shufflePartitions: String, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Long-session hygiene: the localization algorithms run hundreds of
      // Spark actions per query, and the status stores retain per-execution
      // plan strings + per-job/stage data (default 1000 each) even with the
      // UI disabled — in a 50-query benchmark session that is hundreds of
      // MB of old-gen that never dies. Keep enough for debugging, not 1000.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      // ContextCleaner only reclaims unreferenced RDDs/shuffles/broadcasts
      // after a GC notices them; with a large heap full GCs are rare, so
      // force the sweep often enough that localCheckpoint blocks and
      // shuffle files from finished queries actually get dropped.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
