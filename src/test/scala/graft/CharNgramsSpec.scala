package graft

import graft.functions.CharNgrams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CharNgramsExpr (codegen char_ngrams) must be bit-identical to the
  * transform(sequence(1, greatest(len-n+1, 1)), i => substr(i, n))
  * formulation it replaced in TextAnalysis.charNgrams — same 1-based
  * codepoint windows, same short-string single n-gram — so trained
  * n-gram profiles (and q62's predictions) are unchanged. */
class CharNgramsSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofNgrams(s: org.apache.spark.sql.Column, n: Int) =
    transform(sequence(lit(1), greatest(length(s) - n + 1, lit(1))),
      i => s.substr(i, lit(n)))

  test("bit-identical to the HoF formulation, including multibyte chars") {
    val rng = new scala.util.Random(41)
    val alphabet = "abc def ghi дом öäü 中文 jkl"
    val rows = (1 to 200).map { _ =>
      (0 until rng.nextInt(60)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    } ++ Seq("", "a", "ab", "abc", "дом", "中", "  spaced  out  ")
    val df = rows.toDF("s")
    for (n <- Seq(1, 2, 3, 5)) {
      df.select(CharNgrams.charNgrams(col("s"), n).as("native"),
          hofNgrams(col("s"), n).as("hof")).collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("TextAnalysis.charNgrams end-to-end matches the old formulation") {
    val df = Seq("The  Quick\tBrown\nFox", "").toDF("text")
    val clean = regexp_replace(lower(col("text")), "\\s+", " ")
    df.select(graft.operators.TextAnalysis.charNgrams(col("text"), 3).as("native"),
        hofNgrams(clean, 3).as("hof")).collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }
}
