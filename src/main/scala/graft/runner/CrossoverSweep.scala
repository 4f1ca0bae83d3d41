package graft.runner

import graft.gen.HCorpus

/** Batch-vs-sequential crossover measurement (VERDICT r7 #1).
  *
  * H_SCALE.md showed the whole-corpus Batch* DAGs LOSE to the concurrent
  * per-instance sequential path by 1.7-6x at 24M-row instances (the
  * reference's own H protocol shape) while WINNING by 4-9x on the RS
  * corpus (135 x 0.1-11k rows, RS_SWEEP_BATCH.md vs RS_SWEEP.md). The
  * mechanism: batch amortizes driver round-trips (fixed pass count per
  * layer/round for the WHOLE corpus) but pays the multi-cuboid Expand
  * over every instance's rows in one frame; sequential pays round-trips
  * per instance but its per-pass frames stay instance-sized. So batch
  * wins when instances are small and many (scheduling-dominated), and
  * sequential wins when instances are large (data-dominated).
  *
  * This main measures the crossover on a (rows/instance x instance count)
  * grid of H-shaped corpora, timing BOTH modes through Runner's own code:
  * each is one [[Runner.runKeyed]] call over the instance-keyed corpus —
  * batch runs the Batch* DAG, sequential runs Runner.runAlgorithm per
  * instance (its in-process tier included) on `nThreads` concurrent
  * instances. Equality of each instance's sorted canonical predictions
  * between the modes is asserted per cell. Output: CROSSOVER.md; the
  * measured threshold is encoded in [[Runner.chooseMode]].
  *
  * Usage: CrossoverSweep [outMd] [cellsSpec] [algosCsv] [nThreads]
  *   cellsSpec: "a10,b5,c2,d5,e8,f12:4;a10,b5,c10,d10,e8,f12:16;..."
  *   algosCsv: Runner's algorithm names (default riskloc,autoroot)
  */
object CrossoverSweep {

  final case class CellResult(algo: String, rowsPerInst: Long, n: Int,
      batchSec: Double, seqSec: Double, equal: Boolean, causes: Int)

  /** Default grid: 48k / 480k / 4.8M rows per instance (6 attributes at
    * every size — layer count, not cardinality, drives the pass count) x
    * 4 / 16 / 64 instances, trimmed to keep total rows per cell <= ~20M. */
  val DefaultCells = Seq(
    "a10,b5,c2,d5,e8,f12:4", // 48k x 4
    "a10,b5,c2,d5,e8,f12:16", // 48k x 16
    "a10,b5,c2,d5,e8,f12:64", // 48k x 64
    "a10,b5,c10,d10,e8,f12:4", // 480k x 4
    "a10,b5,c10,d10,e8,f12:16", // 480k x 16
    "a10,b5,c50,d20,e8,f12:4" // 4.8M x 4
  ).mkString(";")

  def main(args: Array[String]): Unit = {
    val outMd = args.lift(0).getOrElse("CROSSOVER.md")
    val cells = args.lift(1).getOrElse(DefaultCells).split(';').toSeq.map { spec =>
      val Array(dimsSpec, nStr) = spec.split(':')
      (dimsSpec.split(',').toSeq.map(s => (s.take(1), s.drop(1).toInt)), nStr.toInt)
    }
    val algos = args.lift(2).getOrElse("riskloc,autoroot").split(',').toSeq
      .map(Runner.canonicalAlgorithm)
    val nThreads = args.lift(3).map(_.toInt).getOrElse(10)

    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-crossover")
    spark.sparkContext.setLogLevel("WARN")

    // untimed warm-up of every timed path: the first call in a JVM pays
    // Spark's and the code generator's start-up, which would otherwise
    // land on whichever cell runs first
    val warmUp = HCorpus.corpus(spark, 2, Seq("a" -> 6, "b" -> 5, "c" -> 4)).localCheckpoint(true)
    for (algo <- algos; mode <- Seq("batch", "sequential")) Runner.runKeyed(warmUp, algo, mode, nThreads)
    warmUp.unpersist()

    val results = collection.mutable.ArrayBuffer.empty[CellResult]
    for ((dims, n) <- cells) {
      val corpus = HCorpus.corpus(spark, n, dims).localCheckpoint(true)
      val rowsPerInst = corpus.count() / n

      for (algo <- algos) {
        System.gc()
        def timed(mode: String): (Double, Map[String, Seq[String]]) = {
          val t0 = System.nanoTime()
          val preds = Runner.runKeyed(corpus, algo, mode, nThreads)
          ((System.nanoTime() - t0) / 1e9, preds.view.mapValues(_._1.sorted).toMap)
        }
        val (batchSec, batch) = timed("batch")
        val (seqSec, seq) = timed("sequential")
        val equal = (batch.keySet ++ seq.keySet).forall(id =>
          batch.getOrElse(id, Seq.empty) == seq.getOrElse(id, Seq.empty))
        val r = CellResult(algo, rowsPerInst, n, batchSec, seqSec, equal,
          batch.values.map(_.size).sum)
        results += r
        println(f"[crossover] ${r.algo}%-9s rows/inst=${r.rowsPerInst}%9d n=${r.n}%3d " +
          f"batch=${r.batchSec}%8.1fs seq=${r.seqSec}%8.1fs " +
          f"winner=${if (r.batchSec < r.seqSec) "batch" else "sequential"} " +
          f"equal=${r.equal} causes=${r.causes}")
      }
      corpus.unpersist()
    }

    val md = new StringBuilder
    md ++= "# Batch-vs-sequential crossover sweep\n\n"
    md ++= "H-shaped corpora (HCorpus); both modes timed through Runner.runKeyed:\n"
    md ++= "batch = the Batch* DAG over the instance-keyed corpus; sequential =\n"
    md ++= s"Runner.runAlgorithm per instance (in-process tier included) on $nThreads\n"
    md ++= "concurrent driver threads. Equality of each instance's sorted\n"
    md ++= "predictions asserted per cell. Box: local[" +
      graft.core.Sessions.cpus + "].\n\n"
    md ++= "| algo | rows/instance | instances | batch (s) | sequential (s) | winner | batch==seq |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    results.foreach { r =>
      md ++= f"| ${r.algo} | ${r.rowsPerInst} | ${r.n} | ${r.batchSec}%.1f | ${r.seqSec}%.1f " +
        f"| ${if (r.batchSec < r.seqSec) "batch" else "sequential"} | ${if (r.equal) "yes" else "NO"} |\n"
    }
    md ++= "\nEndpoints from prior committed evidence: RS corpus (135 x 0.1-11k\n"
    md ++= "rows) batch wins 4-9x (RS_SWEEP_BATCH.md vs RS_SWEEP.md); H shape\n"
    md ++= "(4 x 24M rows) sequential wins 1.7-6x (H_SCALE.md).\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      md.toString.getBytes("UTF-8"))
    println(s"wrote $outMd")
    spark.stop()
  }
}
