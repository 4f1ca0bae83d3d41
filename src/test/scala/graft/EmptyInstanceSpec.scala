package graft

import graft.runner.Runner
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** An instance without leaf rows is a clear error for every algorithm,
  * raised by `Runner.runAlgorithm` before any algorithm runs (RiskLoc
  * used to die on `empty.max` inside its cutoff, the others returned
  * nothing). */
class EmptyInstanceSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  test("runAlgorithm rejects an instance with no leaf rows, for all seven algorithms") {
    val schema = StructType(Seq("a", "b", "c").map(StructField(_, StringType)) ++
      Seq("real", "predict").map(StructField(_, DoubleType)))
    val empty = spark.read.schema(schema).option("header", "true")
      .csv(getClass.getResource("/fixtures").getPath + "/fixture1.csv")
      .filter(col("a") === "no such value")
    for (algo <- Seq("riskloc", "adtributor", "rev_rec_adtributor", "autoroot", "squeeze",
        "hotspot", "robustspot")) {
      val e = intercept[IllegalArgumentException](
        Runner.runAlgorithm(empty, Seq("a", "b", "c"), algo, derived = false, Map.empty))
      assert(e.getMessage == "instance has no leaf rows", algo)
    }
  }
}
