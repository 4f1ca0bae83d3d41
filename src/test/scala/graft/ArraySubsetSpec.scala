package graft

import graft.functions.ArraySubset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ArraySubsetOf (codegen array_subset_of) must replicate
  * forall(a, v => array_contains(b, v)) — the AutoRoot candidate-join
  * residual it replaced — including three-valued logic on null elements,
  * so selection masks (and the RS corpus goldens) are unchanged. */
class ArraySubsetSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofSubset(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    forall(a, v => array_contains(b, v))

  test("identical to forall(array_contains) on random string arrays") {
    val rng = new scala.util.Random(43)
    val vals = Vector("a", "b", "c", "d", "e")
    val rows = (1 to 300).map { _ =>
      (Seq.fill(1 + rng.nextInt(4))(vals(rng.nextInt(vals.size))),
        Seq.fill(rng.nextInt(5))(vals(rng.nextInt(vals.size))))
    }
    val df = rows.toDF("a", "b")
    df.select(ArraySubset.subsetOf(col("a"), col("b")).as("n"),
        hofSubset(col("a"), col("b")).as("h")).collect()
      .foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getBoolean(0) == r.getBoolean(1))
      }
  }

  test("three-valued logic: null elements, null-bearing b, empty a") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array('x'), array('x', NULL)),
        |  (array('q'), array('x', NULL)),
        |  (array('q'), array('x')),
        |  (array('q', NULL), array('x')),
        |  (array(NULL), array('x', NULL)),
        |  (CAST(array() AS array<string>), array('x')),
        |  (CAST(array() AS array<string>), CAST(array() AS array<string>))
        |AS t(a, b)""".stripMargin)
    df.select(ArraySubset.subsetOf(col("a"), col("b")).as("n"),
        hofSubset(col("a"), col("b")).as("h")).collect()
      .foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getBoolean(0) == r.getBoolean(1))
      }
  }

  test("long arrays work too") {
    val df = Seq((Seq(1L, 2L), Seq(2L, 1L, 3L)), (Seq(1L, 9L), Seq(1L))).toDF("a", "b")
    val got = df.select(ArraySubset.subsetOf(col("a"), col("b"))).collect()
    assert(got.map(_.getBoolean(0)).toSeq == Seq(true, false))
  }
}
