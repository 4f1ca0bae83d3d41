package graft

import graft.functions.MinHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHashSignature (codegen minhash_signature) must be bit-identical to
  * the column-algebra formulation it replaced in Dedup.minhashSignature —
  * same seeded coefficients, same 64-bit wraparound, same pmod, same
  * array_min null/empty semantics — so every committed LSH golden digest
  * is unchanged. */
class MinHashSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val MersennePrime = (1L << 61) - 1

  /** The previous formulation, verbatim: k parallel
    * array_min(transform(hashes, h => pmod(h*a+b, p))) columns. */
  private def hofSignature(hashes: org.apache.spark.sql.Column,
      numHashes: Int, seed: Long) =
    array((0 until numHashes).map { k =>
      val rng = new scala.util.Random(seed * 1315423911L + k)
      val a = (rng.nextLong() & Long.MaxValue) | 1L
      val b = rng.nextLong() & Long.MaxValue
      array_min(transform(hashes, h => pmod(h * a + b, lit(MersennePrime))))
    }: _*)

  test("bit-identical to the HoF formulation, including negative hashes") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 300).map { _ =>
      Array.fill(1 + rng.nextInt(64))(rng.nextLong()) // full Long range: overflow paths
    }
    val df = rows.toDF("h")
    val got = df.select(
      MinHash.signature(col("h"), 64).as("native"),
      hofSignature(col("h"), 64, 42L).as("hof")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("empty array yields all-null elements, like array_min over empty") {
    val df = Seq(Seq.empty[Long]).toDF("h")
    val r = df.select(MinHash.signature(col("h"), 8).as("s"),
      hofSignature(col("h"), 8, 42L).as("hof")).head()
    assert(r.getSeq[Any](0) == Seq.fill(8)(null))
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
  }

  test("null elements are skipped, like array_min") {
    val df = spark.sql("SELECT array(CAST(7 AS BIGINT), NULL, CAST(-3 AS BIGINT)) AS h")
    val r = df.select(MinHash.signature(col("h"), 16).as("s"),
      hofSignature(col("h"), 16, 42L).as("hof")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("interpreted eval matches codegen") {
    val hashes = Array(123456789L, -987654321L, Long.MinValue, Long.MaxValue)
    val (as, bs) = MinHash.coefficients(32, 42L)
    val interp = MinHash.signature(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(hashes), as, bs)
    val viaSpark = Seq(hashes.toSeq).toDF("h")
      .select(MinHash.signature(col("h"), 32)).head().getSeq[Long](0)
    assert(interp.toLongArray().toSeq == viaSpark)
  }
}
