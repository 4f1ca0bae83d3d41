package graft.runner

import graft.algorithms._
import graft.gen.HCorpus
import graft.model.RootCause
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * grid of H-shaped corpora, timing BOTH modes exactly as the Runner
  * executes them: batch = one Batch*.run over the instance-keyed union;
  * sequential = per-instance *.run submitted concurrently (Runner.runAll's
  * default 10 threads). Prediction equality between the modes is asserted
  * per cell. Output: CROSSOVER.md; the measured threshold is encoded in
  * [[Runner.chooseMode]].
  *
  * Usage: CrossoverSweep [outMd] [cellsSpec] [algosCsv] [nThreads]
  *   cellsSpec: "a10,b5,c2,d5,e8,f12:4;a10,b5,c10,d10,e8,f12:16;..."
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
    val nThreads = args.lift(3).map(_.toInt).getOrElse(10)

    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-crossover")
    spark.sparkContext.setLogLevel("WARN")

    val results = collection.mutable.ArrayBuffer.empty[CellResult]
    for ((dims, n) <- cells) {
      val corpus = HCorpus.corpus(spark, n, dims).localCheckpoint(true)
      val rowsPerInst = corpus.count() / n
      val instances = corpus.select(col("instance_id")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val attrs = dims.map(_._1)
      def seqFrame(id: String) =
        corpus.filter(col("instance_id") === id).drop("instance_id")

      for (algo <- algos) {
        System.gc()
        def labelsOf(rcs: Seq[RootCause]): Seq[Seq[String]] = rcs.map(_.labels)

        val (batchSec, seqSec, equal, causes) = algo match {
          case "riskloc" =>
            val t0 = System.nanoTime()
            val batch = BatchRiskLoc.run(corpus, "instance_id", attrs)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> RiskLoc.run(seqFrame(id), attrs)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id =>
              labelsOf(batch.getOrElse(id, Seq.empty)) == labelsOf(seq(id)))
            (b, s, eq, batch.values.map(_.size).sum)
          case "autoroot" =>
            val t0 = System.nanoTime()
            val batch = BatchAutoRoot.run(corpus, "instance_id", attrs)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> AutoRoot.run(seqFrame(id), attrs)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id =>
              labelsOf(batch.getOrElse(id, Seq.empty)) == labelsOf(seq(id)))
            (b, s, eq, batch.values.map(_.size).sum)
          case "squeeze" =>
            val opt = Squeeze.Options(derived = false)
            val t0 = System.nanoTime()
            val batch = BatchSqueeze.run(corpus, "instance_id", attrs, opt)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> Squeeze.run(seqFrame(id), attrs, opt)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id =>
              batch.getOrElse(id, Seq.empty).sorted == seq(id).sorted)
            (b, s, eq, batch.values.map(_.size).sum)
          case "adtributor" =>
            val t0 = System.nanoTime()
            val rows = BatchAdtributor.run(corpus, "instance_id", attrs).collect()
            val b = (System.nanoTime() - t0) / 1e9
            val byId = rows.groupBy(_.getString(0)).map { case (id, rs) =>
              id -> rs.sortBy(_.getInt(rs.head.fieldIndex("rank")))
                .map(r => (r.getString(1), r.getSeq[String](2).toSeq)).toSeq
            }
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> Adtributor.run(seqFrame(id), attrs)
                .map(c => (c.dimension, c.elements))),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id => byId.getOrElse(id, Seq.empty) == seq(id))
            (b, s, eq, rows.length)
          case "robustspot" =>
            val opt = RobustSpot.Options(k = 3, derived = false)
            val t0 = System.nanoTime()
            val batch = BatchRobustSpot.run(corpus, "instance_id", attrs, opt)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> RobustSpot.run(seqFrame(id), attrs, opt)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id => batch.getOrElse(id, Seq.empty) == seq(id))
            (b, s, eq, batch.values.map(_.size).sum)
          case "hotspot" =>
            val t0 = System.nanoTime()
            val batch = BatchHotSpot.run(corpus, "instance_id", attrs)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> HotSpot.run(seqFrame(id), attrs)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id => batch.get(id).contains(seq(id)))
            (b, s, eq, batch.size)
          case "revrec" =>
            val t0 = System.nanoTime()
            val batch = BatchRevRecAdtributor.run(corpus, "instance_id", attrs)
            val b = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val seq = graft.core.Concurrency.awaitAll(
              instances.map(id => () => id -> RevRecAdtributor.run(seqFrame(id), attrs)),
              maxConcurrent = nThreads).toMap
            val s = (System.nanoTime() - t1) / 1e9
            val eq = instances.forall(id =>
              RevRecAdtributor.predictions(batch.getOrElse(id, Seq.empty)).sorted ==
                RevRecAdtributor.predictions(seq(id)).sorted)
            (b, s, eq, batch.values.map(_.size).sum)
          case other => throw new IllegalArgumentException(s"unsupported: $other")
        }
        val r = CellResult(algo, rowsPerInst, n, batchSec, seqSec, equal, causes)
        results += r
        println(f"[crossover] ${r.algo}%-9s rows/inst=${r.rowsPerInst}%9d n=${r.n}%3d " +
          f"batch=${r.batchSec}%8.1fs seq=${r.seqSec}%8.1fs " +
          f"winner=${if (r.batchSec < r.seqSec) "batch" else "sequential"} " +
          f"equal=${r.equal} causes=${r.causes}")
      }
      corpus.unpersist()
    }

    val md = new StringBuilder
    md ++= "# Batch-vs-sequential crossover sweep (round 8)\n\n"
    md ++= "H-shaped corpora (HCorpus, 6 attributes at every size); both modes\n"
    md ++= "timed exactly as Runner executes them: batch = one Batch*.run over\n"
    md ++= s"the instance-keyed union; sequential = per-instance runs on $nThreads\n"
    md ++= "concurrent driver threads (Runner.runAll's default). Prediction\n"
    md ++= "equality asserted per cell. Box: local[" +
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
