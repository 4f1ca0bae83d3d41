package graft.runner

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` plans for gate queries and the shared
  * internal frames the algorithm queries are built from, one file per
  * name, into the given directory (round-13 optimization evidence:
  * plans/r13/<name>_{before,after}.txt).
  *
  * The driver-loop algorithm queries (q40..q49, q65..q67) collect their
  * results, so their gate-level DataFrame is a LocalTableScan; for those
  * the meaningful plans are the shared INPUT frames (`snapshot`,
  * `anomalous_snapshot`, `anomalous_corpus`) whose scan counts / exchange
  * shapes this round's changes target — dumped under those names.
  *
  * Usage: PlanDump <outDir> <suffix> [queryCsv]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = args.lift(2).map(_.split(',').toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        val plan =
          try df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"explain failed: $e" }
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
        println(s"dumped $name")
      }

    // shared internal frames of the algorithm queries
    dump("snapshot", graft.queries.ScoreQueries.snapshot(spark, sfDir))
    dump("anomalous_snapshot", graft.queries.AlgorithmQueries.anomalousSnapshot(spark, sfDir))
    dump("anomalous_corpus", graft.queries.AlgorithmQueries.anomalousCorpus(spark, sfDir))

    // gate-level plans only when explicitly asked for (building a
    // driver-loop query's final frame RUNS the whole algorithm and its
    // plan is just the collected LocalTableScan — the internal frames
    // above are the meaningful evidence for those)
    if (only.isDefined)
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        dump(n, fn(spark, sfDir))
      }
    spark.stop()
  }
}
