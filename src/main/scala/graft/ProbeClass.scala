package graft

/** Probe-only main: measures the box class in ~2 minutes without running
  * any gate query. Standing policy (BENCH_METHOD.md round-12) is to read
  * `spark_probe_ratio` BEFORE committing quiet-window hours to an H-scale
  * leg or a full bench evidence run; until now that required a full Bench
  * invocation (~20+ min on a slow-class box). Prints one JSON line with
  * the three probe readings against their committed references.
  *
  * Interpretation (see Bench.SparkProbeRef scaladoc): spark_probe_ratio
  * ~1.0 = r11/r12 slow shuffle class; well under 1.0 = faster class —
  * commit the observed (probe, control-row factor) pair to BENCH_METHOD's
  * per-box table when a new class appears.
  */
object ProbeClass {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    val calibCold = Bench.calibMedian()
    Bench.sparkProbeOnce(spark) // warm: codegen + scheduler paths (cold reads ~1.4x high)
    val sparkProbe = Bench.sparkProbeMedian(spark)
    val calibPar = Bench.calibParMedian()
    val calib = math.min(calibCold, Bench.calibMedian())
    val json = s"""{"calib_sec":$calib,"calib_ratio":${calib / Bench.CalibRef},""" +
      s""""calib_par_sec":$calibPar,"calib_par_ratio":${calibPar / Bench.CalibParRef},""" +
      s""""spark_probe_sec":$sparkProbe,"spark_probe_ratio":${sparkProbe / Bench.SparkProbeRef}}"""
    println("PROBECLASS " + json)
    spark.stop()
  }
}
