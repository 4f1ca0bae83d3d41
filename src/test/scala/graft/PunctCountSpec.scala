package graft

import graft.functions.PunctCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PunctCountExpr (codegen punct_count) must equal
  * length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")) —
  * the punctRatio hot path it replaced — including multibyte codepoints
  * (every non-ASCII codepoint matches the negated class and counts once). */
class PunctCountSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofCount(s: org.apache.spark.sql.Column) =
    length(s) - length(regexp_replace(s, "[^a-zA-Z0-9 ]", ""))

  test("identical to the regexp formulation on random texts") {
    val rng = new scala.util.Random(59)
    val alphabet = "abzAZ09 .,!?-_;:'\"()دом中ö\té\n"
    val rows = (1 to 300).map { _ =>
      (0 until rng.nextInt(80)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    } ++ Seq("", "   ", "abc123", "!!!", "дом中文", "a.b,c")
    val df = rows.toDF("s")
    df.select(PunctCount.punctCount(col("s")).as("n"), hofCount(col("s")).as("h"))
      .collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("punctRatio end-to-end matches the old formulation") {
    val df = Seq("Hello, World! 42", "nopunct", "é").toDF("text")
    df.select(graft.operators.TextAnalysis.punctRatio(col("text")).as("n"),
        (hofCount(col("text")).cast("double") / length(col("text"))).as("h")).collect()
      .foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }
}
