package graft

import graft.algorithms.Adtributor
import graft.queries.ScoreQueries
import org.scalatest.funsuite.AnyFunSuite

/** Golden values from running the reference adtributor
  * (algorithms/adtributor.py) on the sf0.001 lineitem-part snapshot
  * (attrs rf/ls/brand, real=extendedprice, predict=discounted price). */
class AdtributorSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private lazy val snap = ScoreQueries.snapshot(spark, TestSpark.sfDir)
    .withColumnRenamed("vreal", "real").withColumnRenamed("vpred", "predict")
    .cache()

  private def approx(a: Double, b: Double, tol: Double = 1e-9): Unit =
    assert(math.abs(a - b) < tol, s"$a vs $b")

  test("adtributor teep=0.001 tep=0.01 matches reference") {
    val cands = Adtributor.run(snap, Seq("rf", "ls", "brand"),
      Adtributor.Options(teep = 0.001, tep = 0.01, k = 3))
    assert(cands.map(_.dimension) == Seq("brand", "rf", "ls"))
    assert(cands.head.elements == Seq("Brand#19"))
    assert(cands(1).elements == Seq("N"))
    assert(cands(2).elements == Seq("O"))
    approx(cands.head.explanatoryPower, 0.0172006374, 1e-8)
    approx(cands(1).explanatoryPower, 0.1172384514, 1e-8)
    approx(cands(2).explanatoryPower, 0.1652568184, 1e-8)
    approx(cands.head.surprise, 1.16966e-07, 1e-11)
    approx(cands(1).surprise, 1.4478e-08, 1e-11)
    approx(cands(2).surprise, 4.907e-09, 1e-11)
  }

  test("adtributor teep=0.005 tep=0.05 matches reference (multi-element)") {
    val cands = Adtributor.run(snap, Seq("rf", "ls", "brand"),
      Adtributor.Options(teep = 0.005, tep = 0.05, k = 3))
    assert(cands.head.dimension == "brand")
    assert(cands.head.elements == Seq("Brand#19", "Brand#5", "Brand#17", "Brand#8"))
    approx(cands.head.explanatoryPower, 0.0616809651, 1e-8)
    approx(cands.head.surprise, 3.62451e-07, 1e-11)
  }

  test("predictions are canonical dim=value strings") {
    val cands = Adtributor.run(snap, Seq("rf", "ls", "brand"),
      Adtributor.Options(teep = 0.001, tep = 0.01, k = 3))
    val preds = Adtributor.predictions(cands)
    assert(preds.contains("brand=Brand#19") && preds.contains("rf=N") && preds.contains("ls=O"))
  }
}
