package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every gate query must run on sf0.001 and be deterministic (the driver
  * hash-compares results against DuckDB). */
class GateQueriesSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  test("query names are unique and every oracle key has a query") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.fn(spark, TestSpark.sfDir)
      val n = df.count()
      assert(n >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a representative query is repeatable (deterministic output)") {
    val q = SparkEntry.queries("q02_agg_sum")
    val a = q(spark, TestSpark.sfDir).collect().map(_.toString).toSeq
    val b = q(spark, TestSpark.sfDir).collect().map(_.toString).toSeq
    assert(a == b)
  }
}
