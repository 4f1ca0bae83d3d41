package graft.runner

import graft.gen.HCorpus

/** Writes an H-shaped corpus parquet for the per-algorithm HScale phases
  * (each phase runs in its own JVM against this shared corpus).
  *
  * Usage: HCorpusGen <outDir> [numInstances] [dimsSpec]
  */
object HCorpusGen {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val numInstances = args.lift(1).map(_.toInt).getOrElse(4)
    val dims = args.lift(2).map(_.split(',').toSeq.map(s => (s.take(1), s.drop(1).toInt)))
      .getOrElse(HCorpus.HDims)
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-h-corpus-gen")
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    HCorpus.corpus(spark, numInstances, dims).write.mode("overwrite").parquet(outDir)
    // ground-truth sidecar for Runner --corpus evaluation ("_"-prefixed so
    // parquet directory listings skip it, like _SUCCESS)
    val labels = HCorpus.labels(numInstances, dims).toSeq.sorted
      .map { case (id, l) => s"$id\t$l" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_labels.tsv"), labels.getBytes("UTF-8"))
    println(f"wrote $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
