package graft

import graft.functions.Scores
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden values generated from the reference formulas
  * (utils/element_scores.py) on real=[100,200,50,0], predict=[80,150,60,0].
  */
class ScoresSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def scored = {
    val df = Seq((100.0, 80.0), (200.0, 150.0), (50.0, 60.0), (0.0, 0.0))
      .toDF("real", "predict")
    val w = Window.partitionBy()
    df.withColumn("ta", sum("real").over(w))
      .withColumn("tf", sum("predict").over(w))
      .withColumn("ep", Scores.explanatoryPower($"real", $"predict", $"ta", $"tf"))
      .withColumn("surprise", Scores.surprise($"real", $"predict", $"ta", $"tf"))
      .withColumn("deviation", Scores.deviationScore($"real", $"predict"))
      .orderBy($"real")
      .select("real", "ep", "surprise", "deviation")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  private def approx(a: Double, b: Double): Unit = assert(math.abs(a - b) < 1e-9, s"$a vs $b")

  test("explanatory power matches reference") {
    val byReal = scored.map(t => t._1 -> t._2).toMap
    approx(byReal(100.0), 0.333333333333)
    approx(byReal(200.0), 0.833333333333)
    approx(byReal(50.0), -0.166666666667)
    approx(byReal(0.0), 0.0)
  }

  test("surprise (JS divergence) matches reference incl 0/0 guard") {
    val byReal = scored.map(t => t._1 -> t._3).toMap
    approx(byReal(100.0), 0.000043213694)
    approx(byReal(200.0), 0.000674553702)
    approx(byReal(50.0), 0.002947984205)
    approx(byReal(0.0), 0.0)
  }

  test("deviation score matches reference incl 0/0 -> 0") {
    val byReal = scored.map(t => t._1 -> t._4).toMap
    approx(byReal(100.0), -0.222222222222)
    approx(byReal(200.0), -0.285714285714)
    approx(byReal(50.0), 0.181818181818)
    approx(byReal(0.0), 0.0)
  }

  test("safeDiv: 0 denominator -> 0") {
    val r = Seq((1.0, 0.0), (4.0, 2.0)).toDF("n", "d")
      .select(Scores.safeDiv($"n", $"d").as("q")).orderBy("q").collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(0.0, 2.0))
  }
}
