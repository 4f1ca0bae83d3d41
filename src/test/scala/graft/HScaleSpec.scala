package graft

import graft.gen.HCorpus
import graft.runner.HScale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the H-shape scale contract (see runner.HScale / H_SCALE.md) at
  * spec-sized dims so it stays enforced on every test run:
  *
  *  - batch == sequential on every sampled instance (runRehearsal emits a
  *    note on any mismatch);
  *  - the whole-corpus batch DAG's Spark-job count does NOT grow with the
  *    number of instances — doubling the corpus may only change the job
  *    count through data-dependent iteration counts (riskloc
  *    remove-and-repeat rounds, robustspot rounds), never proportionally.
  *
  * The full-size rehearsal (4 x 24M-row instances, the reference H
  * dataset's per-instance shape, README.md:119-122) runs out-of-band via
  * `runMain graft.runner.HScale` and its committed H_SCALE.md. Heap
  * high-water is asserted only there: in the shared test JVM other
  * suites' garbage would dominate the probe.
  */
class HScaleSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  private val dims = Seq("a" -> 4, "b" -> 3, "c" -> 5, "d" -> 4)
  private val attrs = dims.map(_._1)

  // materialize like the runner: algorithms re-read a stable table, not
  // the generator expressions
  private def withCorpus[T](n: Int)(body: org.apache.spark.sql.DataFrame => T): T =
    TestSpark.withTempDir("graft_hspec") { dir =>
      HCorpus.corpus(spark, n, dims).write.mode("overwrite").parquet(dir)
      body(spark.read.parquet(dir))
    }

  test("batch == sequential and job count stays flat when instances double") {
    // 3 vs 6 instances: HCorpus rotates through 3 anomaly SHAPES (layer
    // 1/2/2), so doubling 3 -> 6 doubles the instances while keeping the
    // shape mix identical — job growth can then only come from instance
    // count, which is exactly what must stay flat. (2 -> 4 would introduce
    // a brand-new anomaly shape and its data-dependent iterations.)
    val (p3, notes3) = withCorpus(3)(HScale.runRehearsal(spark, _, attrs, seqSamples = 2))
    val (p6, notes6) = withCorpus(6)(HScale.runRehearsal(spark, _, attrs, seqSamples = 2))
    assert(notes3.isEmpty, notes3.mkString("; "))
    assert(notes6.isEmpty, notes6.mkString("; "))

    val j3 = p3.map(p => p.algo -> p.jobs).toMap
    val j6 = p6.map(p => p.algo -> p.jobs).toMap
    for (algo <- j3.keys) {
      // per-pass job counts are identical; only data-dependent iteration
      // counts (rounds/removals) may differ, and those are small. 2x the
      // instances must NOT approach 2x the jobs.
      assert(j6(algo) <= math.max(j3(algo) + 8, (j3(algo) * 1.5).toInt),
        s"$algo: jobs grew ${j3(algo)} -> ${j6(algo)} when instances doubled 3 -> 6")
    }
  }
}
