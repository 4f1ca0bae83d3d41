package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DotProduct (codegen vec_dot) must be bit-identical to the
  * higher-order-function formulation it replaced in Similarity.dot —
  * same widening, same left-to-right summation, same null semantics. */
class VectorOpsSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("bit-identical to the HoF formulation on float and double arrays") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val n = 1 + rng.nextInt(96)
      (Array.fill(n)(rng.nextFloat() * 2 - 1), Array.fill(n)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("fa", "da")
      .withColumn("fb", reverse(col("fa")))
      .withColumn("db", reverse(col("da")))
    val got = df.select(
      VectorOps.dot(col("fa"), col("fb")).as("ff"),
      VectorOps.dot(col("da"), col("db")).as("dd"),
      VectorOps.dot(col("fa"), col("db")).as("fd"),
      hofDot(col("fa"), col("fb")).as("hff"),
      hofDot(col("da"), col("db")).as("hdd"),
      hofDot(col("fa"), col("db")).as("hfd")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(4)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(5)))
    }
  }

  test("null semantics: null array, null element, length mismatch") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f)))).toDF("a", "b")
    val out = df.select(VectorOps.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0), "length mismatch must be null like zip_with padding")
    val withNullElem = spark.sql(
      "SELECT cast(array(1.0, NULL) AS array<float>) a, cast(array(1.0, 2.0) AS array<float>) b")
      .select(VectorOps.dot(col("a"), col("b")).as("d")).collect()
    assert(withNullElem(0).isNullAt(0))
  }

  test("stays inside whole-stage codegen") {
    // arrays built WITHOUT higher-order functions (transform/zip_with are
    // CodegenFallback and would break the stage on their own — the exact
    // problem vec_dot exists to avoid)
    val df = spark.range(100)
      .select(
        array((0 until 8).map(k => (col("id") + k).cast("float")): _*).as("a"),
        array((0 until 8).map(k => (col("id") - k).cast("float")): _*).as("b"))
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(stageId)" marker; the Project
    // evaluating vec_dot must be inside a codegen stage
    val projectLine = plan.linesIterator.find(_.contains("vec_dot")).get
    assert(projectLine.trim.startsWith("*("), plan)
    assert(df.agg(sum("d")).collect()(0).getDouble(0) != 0.0)
  }
}
