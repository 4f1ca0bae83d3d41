package graft.runner

import graft.algorithms.{BatchRobustSpot, RobustSpot}
import graft.gen.HCorpus
import org.apache.spark.sql.functions._

/** Fused-vs-chains A/B for BatchRobustSpot's rounds-1-6 execution shape,
  * the measurement behind `BatchRobustSpot.FuseChainsMaxRows`
  * (CROSSOVER.md).
  *
  * Times BatchRobustSpot.run per H-shaped cell in one JVM in both modes
  * — fuseMaxRows = 0 (chains) vs Long.MaxValue (fused), clearCache + GC
  * before each run — and reports whether the two modes' predictions are equal.
  * Both runs hit the identical localCheckpoint'ed corpus, so the delta
  * is the rounds-1-6 shape alone. Both mode paths are JIT-warmed on a
  * discarded tiny corpus before any timing, and every cell runs
  * [[PairOrders]]: the second leg of a pair tends to run faster, so one
  * pair per cell can name the wrong winner. Each pair and each mode's
  * mean over the pairs are printed.
  *
  * Usage: BrsFuseAB [cellsSpec]  (same "dims:n;..." syntax as
  * [[CrossoverSweep]]; default: 3.07M, 3.84M and 7.68M corpus rows).
  */
object BrsFuseAB {

  /** The pairs run per cell, by leg order: one chains-first, one
    * fused-first, so the second-leg advantage falls on each mode once. */
  val PairOrders: Seq[String] = Seq("chains-first", "fused-first")

  def main(args: Array[String]): Unit = {
    val cells = args.lift(0).getOrElse(Seq(
      "a10,b5,c8,d5,e8,f12:16", // 192k x 16 = 3.07M
      "a10,b5,c10,d5,e8,f12:16", // 240k x 16 = 3.84M
      "a10,b5,c10,d10,e8,f12:16" // 480k x 16 = 7.68M
    ).mkString(";")).split(';').toSeq.map { spec =>
      val Array(dimsSpec, nStr) = spec.split(':')
      (dimsSpec.split(',').toSeq.map(s => (s.take(1), s.drop(1).toInt)), nStr.toInt)
    }

    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-brs-fuse-ab")
    spark.sparkContext.setLogLevel("WARN")
    val opt = RobustSpot.Options(k = 3, derived = false)

    def timed(corpus: org.apache.spark.sql.DataFrame, attrs: Seq[String])(fuseMax: Long)
        : (Double, Map[String, Seq[Seq[RobustSpot.Cause]]]) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val r = BatchRobustSpot.run(corpus, "instance_id", attrs, opt, fuseMaxRows = fuseMax)
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // Discarded JIT/codegen warmup of BOTH mode paths on a tiny corpus
    // (ADVICE r11: the r11 cells always timed chains first in the same
    // JVM, handing fused the warmup the chains run paid for).
    locally {
      val wDims = Seq(("a", 4), ("b", 3), ("c", 5))
      val w = HCorpus.corpus(spark, 2, wDims).localCheckpoint(true)
      timed(w, wDims.map(_._1))(0L)
      timed(w, wDims.map(_._1))(Long.MaxValue)
      w.unpersist()
    }

    for ((dims, n) <- cells) {
      val corpus = HCorpus.corpus(spark, n, dims).localCheckpoint(true)
      val rows = corpus.count()
      val attrs = dims.map(_._1)
      val timeMode = timed(corpus, attrs) _

      val pairs = PairOrders.map { order =>
        val ((chainsSec, chainsRes), (fusedSec, fusedRes)) =
          if (order == "chains-first") {
            val c = timeMode(0L); val f = timeMode(Long.MaxValue); (c, f)
          } else {
            val f = timeMode(Long.MaxValue); val c = timeMode(0L); (c, f)
          }
        println(f"[brs-ab] rows=$rows%9d (n=$n) fused=$fusedSec%8.1fs " +
          f"chains=$chainsSec%8.1fs winner=${if (fusedSec < chainsSec) "fused" else "chains"} " +
          f"equal=${fusedRes == chainsRes} causes=${fusedRes.values.map(_.size).sum} " +
          f"order=$order")
        (fusedSec, chainsSec)
      }
      val fusedMean = pairs.map(_._1).sum / pairs.size
      val chainsMean = pairs.map(_._2).sum / pairs.size
      println(f"[brs-ab] rows=$rows%9d (n=$n) mean of ${pairs.size} pairs: " +
        f"fused=$fusedMean%8.1fs chains=$chainsMean%8.1fs " +
        f"winner=${if (fusedMean < chainsMean) "fused" else "chains"}")
      corpus.unpersist()
    }
    spark.stop()
  }
}
