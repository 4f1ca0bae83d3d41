package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** The concurrent driver chains (RobustSpot drill-down, Squeeze cluster
  * searches) buffer per-thread trace lines and flush them in sequential
  * order — so opt.trace output must be IDENTICAL across runs despite
  * thread interleaving. RefTrace output is diffed line-by-line
  * against the reference's debug output; nondeterministic order would
  * make those diffs spuriously fail. */
class TraceDeterminismSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  private val schema1 = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType), StructField("c", StringType),
    StructField("real", DoubleType), StructField("predict", DoubleType)))

  private lazy val fixture1 = spark.read.schema(schema1).option("header", "true")
    .csv(getClass.getResource("/fixtures").getPath + "/fixture1.csv").cache()

  test("robustspot trace stream is identical across runs") {
    def oneRun(): Seq[String] = {
      val lines = collection.mutable.ArrayBuffer.empty[String]
      RobustSpot.run(fixture1, Seq("a", "b", "c"),
        RobustSpot.Options(k = 3, derived = false, trace = lines.append(_)))
      lines.toSeq
    }
    val a = oneRun()
    val b = oneRun()
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("squeeze trace stream is identical across runs") {
    def oneRun(): Seq[String] = {
      val lines = collection.mutable.ArrayBuffer.empty[String]
      Squeeze.run(fixture1, Seq("a", "b", "c"),
        Squeeze.Options(trace = lines.append(_)))
      lines.toSeq
    }
    val a = oneRun()
    val b = oneRun()
    assert(a.nonEmpty)
    assert(a == b)
  }
}
