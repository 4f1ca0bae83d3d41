package graft

import graft.functions.MapMatches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MapMatchesAll (codegen map_matches_all) must replicate
  * forall(map_entries(path), p => element_at(row, p.key) === p.value) —
  * the BatchRevRecAdtributor frontier residual it replaced — including
  * three-valued logic on absent keys, so node fan-out (and the
  * generated-corpus goldens) is unchanged. */
class MapMatchesSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofMatches(path: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column) =
    forall(map_entries(path), p => element_at(row, p.getField("key")) === p.getField("value"))

  test("identical to the forall(map_entries) formulation") {
    val rng = new scala.util.Random(47)
    val keys = Vector("a", "b", "c", "d")
    val vals = Vector("x", "y", "z")
    val rows = (1 to 300).map { _ =>
      val path = keys.filter(_ => rng.nextBoolean())
        .map(k => k -> vals(rng.nextInt(vals.size))).toMap
      val row = keys.filter(_ => rng.nextInt(4) > 0)
        .map(k => k -> vals(rng.nextInt(vals.size))).toMap
      (path, row)
    }
    val df = rows.toDF("path", "row")
    df.select(MapMatches.matchesAll(col("path"), col("row")).as("n"),
        hofMatches(col("path"), col("row")).as("h")).collect()
      .foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getBoolean(0) == r.getBoolean(1))
      }
  }

  test("false dominates an absent key; empty path is vacuously true") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (map('a', 'x', 'b', 'y'), map('b', 'z', 'c', 'w')),
        |  (map('a', 'x'), map('b', 'y')),
        |  (map(), map('a', 'x')),
        |  (map('a', 'x'), map('a', 'x'))
        |AS t(path, row)""".stripMargin)
    val got = df.select(MapMatches.matchesAll(col("path"), col("row")).as("n"),
      hofMatches(col("path"), col("row")).as("h")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getBoolean(0) == r.getBoolean(1))
    }
    // row 1: 'b' mismatches (false) even though 'a' is absent (null)
    assert(!got(0).isNullAt(0) && !got(0).getBoolean(0))
    assert(got(1).isNullAt(0))
    assert(got(2).getBoolean(0) && got(3).getBoolean(0))
  }
}
