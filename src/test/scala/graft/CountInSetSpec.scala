package graft

import graft.functions.CountInSet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CountInSetExpr (codegen count_in_set) must match
  * size(filter(arr, w => w.isin(set))) — the stopword-ratio hot path it
  * replaced — on non-null arrays, so q52's quality scores are unchanged. */
class CountInSetSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val stops = Seq("the", "a", "of")

  private def hofCount(arr: org.apache.spark.sql.Column) =
    size(filter(arr, w => w.isin(stops.map(lit): _*)))

  test("identical to size(filter(isin)) on random token arrays") {
    val rng = new scala.util.Random(53)
    val words = Vector("the", "a", "of", "cat", "dog", "runs", "")
    val rows = (1 to 300).map { _ =>
      Seq.fill(rng.nextInt(30))(words(rng.nextInt(words.size)))
    }
    val df = rows.toDF("t")
    df.select(CountInSet.countInSet(col("t"), stops).as("n"), hofCount(col("t")).as("h"))
      .collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("null elements don't count; empty array counts zero") {
    val df = spark.sql("SELECT array('the', NULL, 'x') AS a, CAST(array() AS array<string>) AS e")
    val r = df.select(CountInSet.countInSet(col("a"), stops).as("na"),
      hofCount(col("a")).as("ha"),
      CountInSet.countInSet(col("e"), stops).as("ne")).head()
    assert(r.getInt(0) == r.getInt(1) && r.getInt(0) == 1)
    assert(r.getInt(2) == 0)
  }

  test("stopwordRatio end-to-end matches the old formulation") {
    val df = Seq("the cat of the dog", "no stopwords here", "").toDF("text")
    val t = split(col("text"), "\\s+")
    df.select(graft.operators.TextAnalysis.stopwordRatio(col("text"), stops).as("n"),
        (hofCount(t).cast("double") / size(t)).as("h")).collect()
      .foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }
}
