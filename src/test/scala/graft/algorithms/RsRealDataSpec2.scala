package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.{RsLabels, RsSource}
import org.scalatest.funsuite.AnyFunSuite

/** AutoRoot and Squeeze on the real RS corpus (case55, 11k rows), vs the
  * reference implementation's exact output on the same file (autoroot
  * delta_threshold=0.25; squeeze on the a/b pair with the divide op). */
class RsRealDataSpec2 extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val rsDir = "/root/reference/data/RS"
  private val caseName = "case55_0215_1861606916"

  private lazy val snap = {
    val anomaly = RsLabels.labelFor(rsDir, caseName)
    val raw = RsSource.readRaw(spark, s"$rsDir/$caseName.csv")
    (RsSource.snapshot(raw, anomaly.timestamp).cache(), RsSource.attributesOf(raw))
  }

  test("autoroot matches the reference exactly on real RS data: case55") {
    assume(new java.io.File(s"$rsDir/$caseName.csv").exists(), "reference corpus not mounted")
    val (df, attrs) = snap
    val preds = AutoRoot.predictions(AutoRoot.run(df, attrs,
      AutoRoot.Options(deltaThreshold = 0.25)))
    assert(preds.sorted == Seq("cdn=7&p2p=0"))
  }

  test("squeeze matches the reference exactly on real RS data: case55") {
    assume(new java.io.File(s"$rsDir/$caseName.csv").exists(), "reference corpus not mounted")
    val (df, attrs) = snap
    // Squeeze derives its own SORTED attribute order (squeeze.py:38) and
    // rank ties break on stable cuboid-enumeration order — sorted attrs
    // are part of the algorithm's contract
    val preds = Squeeze.run(df, attrs.sorted, Squeeze.Options(derived = true))
    assert(preds.sorted == Seq(
      "device=C2&isp=黑龙江广电", "device=C3&isp=方正宽带/电信", "isp=bite.lt"))
  }
}
