package graft

import graft.gen.HCorpus
import graft.runner.Runner
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the batch-vs-sequential auto dispatch (Runner.chooseMode /
  * CROSSOVER.md) and the instance-keyed parquet corpus entry path:
  *
  *  - the rule: many small instances -> batch; any corpus whose largest
  *    instance reaches the measured crossover -> sequential; a single
  *    instance -> sequential (nothing to amortize);
  *  - the row count is evaluated only when the decision depends on it;
  *  - runCorpus end-to-end in both modes on a toy H corpus with the
  *    _labels.tsv sidecar: same F1, causes found; a repeated sidecar id
  *    is an error.
  */
class DispatchSpec extends AnyFunSuite with TestTimeLimit {
  private lazy val spark = TestSpark.spark

  test("chooseMode dispatches by rows/instance and instance count") {
    val t = Runner.BatchCrossoverByAlgo("squeeze")
    assert(Runner.chooseMode("squeeze", 1000, 135) == "batch") // RS shape
    assert(Runner.chooseMode("hotspot", 48000, 200) == "batch") // S protocol shape
    assert(Runner.chooseMode("autoroot", 24000000, 100) == "sequential") // H protocol shape
    assert(Runner.chooseMode("squeeze", t, 100) == "sequential") // at the default threshold
    assert(Runner.chooseMode("squeeze", t - 1, 100) == "batch") // just below
    // riskloc's layer-capped batch DAG wins at every measured shape
    // including 24M x 4 (H_SCALE.md: 347s vs 1466s) — no crossover
    assert(Runner.chooseMode("riskloc", 480000, 16) == "batch")
    assert(Runner.chooseMode("riskloc", 24000000, 100) == "batch")
    // round-9 measured thresholds (CROSSOVER.md): the fused autoroot DAG
    // batches through 4.8M-row instances; robustspot flips at 1.5M;
    // adtributor/hotspot batch through 4.8M and flip before 24M
    assert(Runner.chooseMode("autoroot", 4800000 - 1, 4) == "batch")
    assert(Runner.chooseMode("autoroot", 4800000, 4) == "sequential")
    assert(Runner.chooseMode("robustspot", 480000, 16) == "batch")
    assert(Runner.chooseMode("robustspot", 4800000, 4) == "sequential")
    assert(Runner.chooseMode("adtributor", 4800000, 4) == "batch")
    assert(Runner.chooseMode("adtributor", 24000000, 4) == "sequential")
    assert(Runner.chooseMode("hotspot", 4800000, 4) == "batch")
    assert(Runner.chooseMode("hotspot", 24000000, 4) == "sequential")
    assert(Runner.chooseMode("adtributor", 100, 1) == "sequential") // nothing to amortize
  }

  test("chooseMode evaluates the row count only when the decision needs it") {
    def never: Long = throw new AssertionError("row count evaluated")
    assert(Runner.chooseMode("squeeze", never, 1) == "sequential") // single instance
    assert(Runner.chooseMode("riskloc", never, 1) == "sequential")
    assert(Runner.chooseMode("rev_rec_adtributor", never, 100) == "sequential") // crossover 0
    assert(Runner.chooseMode("riskloc", never, 100) == "batch") // crossover MaxValue
    var evaluated = 0
    assert(Runner.chooseMode("squeeze", { evaluated += 1; 1000L }, 100) == "batch")
    assert(evaluated == 1)
  }

  test("runCorpus localizes a labeled parquet corpus in both modes") {
    val dims = Seq("a" -> 4, "b" -> 3, "c" -> 5, "d" -> 4)
    TestSpark.withTempDir("graft-dispatch") { dir =>
      val n = 3
      HCorpus.corpus(spark, n, dims).write.mode("overwrite").parquet(dir)
      val labels = HCorpus.labels(n, dims).toSeq.sorted
        .map { case (id, l) => s"$id\t$l" }.mkString("", "\n", "\n")
      Files.writeString(java.nio.file.Paths.get(dir, "_labels.tsv"), labels)

      val seq = Runner.runCorpus(spark, dir, "adtributor", "sequential", nThreads = 3)
      val bat = Runner.runCorpus(spark, dir, "adtributor", "batch", nThreads = 3)
      assert(seq.size == n && bat.size == n)
      val seqF1 = seq.sortBy(_.file).map(r => r.file -> r.f1)
      val batF1 = bat.sortBy(_.file).map(r => r.file -> r.f1)
      assert(seqF1 == batF1, s"sequential $seqF1 != batch $batF1")
      // the injected layer-1/2 anomalies are found (k=3 adtributor: tp>0)
      assert(seq.map(_.tp).sum > 0)

      // auto mode on a toy corpus (240-960 rows/instance) must pick batch
      val auto = Runner.runCorpus(spark, dir, "adtributor", "auto", nThreads = 3)
      assert(auto.sortBy(_.file).map(r => r.file -> r.f1) == batF1)
    }
  }

  test("runCorpus rejects a repeated instance id in _labels.tsv") {
    val dims = Seq("a" -> 4, "b" -> 3, "c" -> 5, "d" -> 4)
    TestSpark.withTempDir("graft-dup-labels") { dir =>
      HCorpus.corpus(spark, 2, dims).write.mode("overwrite").parquet(dir)
      val id = HCorpus.labels(2, dims).keys.min
      Files.writeString(java.nio.file.Paths.get(dir, "_labels.tsv"), s"$id\ta=a1\n$id\tb=b1\n")
      val e = intercept[IllegalArgumentException](
        Runner.runCorpus(spark, dir, "adtributor", "sequential", nThreads = 2))
      assert(e.getMessage.contains(s"'$id'"), e.getMessage)
    }
  }
}
