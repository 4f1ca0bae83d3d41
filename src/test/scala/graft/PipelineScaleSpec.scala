package graft

import graft.runner.PipelineScale
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PipelineScale rehearsal contracts (PIPELINE_SCALE.md) at toy
  * size on every test run: exact dedup finds exactly the planted
  * exact-copy groups, MinHash and embedding-LSH recall ≥ 0.999 over
  * planted pairs, SimHash finds every exact pair (pigeonhole guarantee),
  * brute top-1 is the planted neighbor, IVF@8/64 recall ≥ 0.9 vs brute.
  * The full-size run (2M docs / 1M vectors) runs out-of-band via
  * `runMain graft.runner.PipelineScale` and its committed
  * PIPELINE_SCALE.md. */
class PipelineScaleSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  test("pipeline operators keep their contracts on the planted corpus") {
    val work = java.nio.file.Files.createTempDirectory("pipescale_spec").toString
    val ops = PipelineScale.run(spark, nDocs = 20000L, nVecs = 20000L, work)
    val failed = ops.filter(!_.pass)
    assert(failed.isEmpty, failed.map(o =>
      s"${o.name}: ${o.metric}=${o.value}").mkString("; "))
  }
}
