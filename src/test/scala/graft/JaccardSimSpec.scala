package graft

import graft.functions.Jaccard
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JaccardSim (codegen jaccard_sim) must be bit-identical to the
  * size(array_intersect)/size(array_union) formulation it replaced in
  * Dedup.jaccard — same dedup, same null-element membership, same
  * union-0 guard, same null-array propagation. */
class JaccardSimSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def hofJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  test("bit-identical on random long arrays with duplicates") {
    val rng = new scala.util.Random(31)
    val rows = (1 to 400).map { _ =>
      (Seq.fill(rng.nextInt(30))(rng.nextInt(20).toLong),
        Seq.fill(rng.nextInt(30))(rng.nextInt(20).toLong))
    }
    val df = rows.toDF("a", "b")
    df.select(Jaccard.sim(col("a"), col("b")).as("n"),
        hofJaccard(col("a"), col("b")).as("h")).collect()
      .foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("bit-identical on string arrays") {
    val rng = new scala.util.Random(37)
    val words = Vector("a", "b", "c", "dd", "ee", "ff", "ggg")
    val rows = (1 to 200).map { _ =>
      (Seq.fill(rng.nextInt(15))(words(rng.nextInt(words.size))),
        Seq.fill(rng.nextInt(15))(words(rng.nextInt(words.size))))
    }
    val df = rows.toDF("a", "b")
    df.select(Jaccard.sim(col("a"), col("b")).as("n"),
        hofJaccard(col("a"), col("b")).as("h")).collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("empty arrays and null elements match") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1L, 2L), array(2L, 3L)),
        |  (array(1L, NULL), array(NULL, 2L)),
        |  (array(1L, NULL), array(2L, 3L)),
        |  (CAST(array() AS array<bigint>), CAST(array() AS array<bigint>)),
        |  (CAST(array() AS array<bigint>), array(1L))
        |AS t(a, b)""".stripMargin)
    df.select(Jaccard.sim(col("a"), col("b")).as("n"),
        hofJaccard(col("a"), col("b")).as("h")).collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("null array yields null (NOT the legacy size(null) = -1 -> 1.0)") {
    val df = spark.sql("SELECT CAST(NULL AS array<bigint>) AS a, array(1L) AS b")
    val r = df.select(Jaccard.sim(col("a"), col("b")).as("n"),
      hofJaccard(col("a"), col("b")).as("h")).head()
    assert(r.isNullAt(0))
    // documents the footgun this expression deliberately fixes:
    assert(r.getDouble(1) == 1.0)
  }
}
