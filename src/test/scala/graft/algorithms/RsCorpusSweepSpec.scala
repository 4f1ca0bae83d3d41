package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.runner.RsSweep
import org.scalatest.funsuite.AnyFunSuite

/** Whole-corpus parity: the engine reproduces the reference
  * implementation's EXACT per-case prediction sets on the reference's
  * bundled 135-case RS production corpus for all seven algorithms
  * (robustspot / autoroot / squeeze / adtributor / riskloc /
  * recursive adtributor / hotspot — the latter under the
  * random.seed(crc32(case)) MCTS protocol)
  * (golden: fixtures/rs_corpus_golden.tsv, the reference's own output
  * under PYTHONHASHSEED=0 + scalar numpy kernels — see
  * tools/make_rs_corpus_golden.py).
  *
  * The full 135x4 sweep (`graft.runner.RsSweep`, ~6 min on 24 cores)
  * passes end-to-end — see RS_SWEEP.md for the committed table
  * (135/135 per-case prediction-set AND F1 match on every algorithm).
  * This spec replays a fixed 12-case stratified subset per algorithm
  * (~2 min) so the parity contract is exercised on every test run.
  */
class RsCorpusSweepSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val rsDir = "/root/reference/data/RS"
  private val goldenPath = "src/test/resources/fixtures/rs_corpus_golden.tsv"

  // stratified: old-format date cases, NaN-heavy knee cases, the 11k-row
  // case55, tie-heavy mining cases, degenerate-cluster squeeze cases
  private val cases = Seq(
    "2020-08-07+07_59_00", "20200530 145503 1346609715",
    "20200531 205558 1394575543", "20200603 150855 1121940342",
    "case101_0320_1394565204", "case34_1209_367138632",
    "case55_0215_1861606916", "case69_0320_2276840736",
    "case73_0324_1714649353", "case76_0324_1714649353",
    "case84_0420_1524418081", "case99_0413_1703280244")

  private lazy val golden = RsSweep.readGolden(goldenPath)

  for (algo <- Seq("robustspot", "autoroot", "squeeze", "adtributor",
      "riskloc", "r_adtributor", "hotspot")) {
    test(s"$algo matches the reference exactly on the stratified corpus subset") {
      assume(new java.io.File(s"$rsDir/anomaly.yaml").exists(), "reference corpus not mounted")
      for (file <- cases) {
        val r = RsSweep.runCase(spark, rsDir, file, algo)
        val g = golden((algo, file))
        assert(r.preds == g.preds.sorted, s"$algo/$file")
        assert((r.tp, r.fp, r.fn) == ((g.tp, g.fp, g.fn)), s"$algo/$file score")
      }
    }
  }
}
