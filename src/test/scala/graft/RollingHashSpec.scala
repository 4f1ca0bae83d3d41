package graft

import graft.functions.RollingHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RollingHashExpr (codegen rolling_hash) must be bit-identical to the
  * aggregate(split(s, ""), 0L, (acc, c) => pmod(acc*31 + ascii(c), p))
  * fold it replaced in TextAnalysis.rollingFingerprint — same codepoint
  * segmentation, same 64-bit wraparound before pmod, same empty-string
  * zero — so q59's committed fingerprint golden is unchanged. */
class RollingHashSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val p = (1L << 61) - 1

  private def hofHash(s: org.apache.spark.sql.Column) =
    aggregate(split(s, ""), lit(0L), (acc, c) => pmod(acc * 31 + ascii(c), lit(p)))

  test("bit-identical to the HoF fold, including multibyte and astral chars") {
    val rng = new scala.util.Random(61)
    val alphabet = "abcXYZ 0189.,!дом中文ö😀é"
    val rows = (1 to 300).map { _ =>
      (0 until rng.nextInt(120)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    } ++ Seq("", "a", " ", "😀", "long " * 50)
    val df = rows.toDF("s")
    df.select(RollingHash.rollingHash(col("s")).as("n"), hofHash(col("s")).as("h"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("rollingFingerprint end-to-end matches the old formulation") {
    val df = Seq("The  Quick\tBrown Fox", "", "a  b").toDF("text")
    val clean = regexp_replace(lower(col("text")), "\\s+", " ")
    df.select(graft.operators.TextAnalysis.rollingFingerprint(col("text")).as("n"),
        hofHash(clean).as("h")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
