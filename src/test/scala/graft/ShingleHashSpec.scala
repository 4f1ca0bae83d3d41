package graft

import graft.functions.ShingleHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ShingleHashes (codegen shingle_hashes) must be bit-identical to the
  * column-algebra formulation it replaced in Dedup.shingleHashes — same
  * concat_ws join (nulls skipped), same short-array single shingle, same
  * xxhash64 seed, same first-occurrence dedup — so LSH candidates,
  * Jaccard verification, and golden digests are unchanged. */
class ShingleHashSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The previous formulation, verbatim (over a token array column). */
  private def hofShingleHashes(toks: org.apache.spark.sql.Column, n: Int) = {
    val shingles = when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
    array_distinct(transform(shingles, s => xxhash64(s)))
  }

  test("bit-identical to the HoF formulation on random texts") {
    val rng = new scala.util.Random(23)
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "дом", "öl", "x")
    val rows = (1 to 300).map { _ =>
      (0 until rng.nextInt(40)).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    }
    val df = rows.toDF("text").select(split(col("text"), "\\s+").as("t"))
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(ShingleHash.shingleHashes(col("t"), n).as("native"),
        hofShingleHashes(col("t"), n).as("hof")).collect()
      got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n"))
    }
  }

  test("short and empty arrays produce the single concat_ws shingle") {
    val df = Seq(Seq("only"), Seq("two", "words"), Seq.empty[String]).toDF("t")
    val got = df.select(ShingleHash.shingleHashes(col("t"), 3).as("native"),
      hofShingleHashes(col("t"), 3).as("hof")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0).size == 1)
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("empty tokens (leading/trailing whitespace) keep their separators") {
    // split(" a b", "\\s+") = ["", "a", "b"]: concat_ws(" ", ["", "a"])
    // is " a" (empty strings are joinable parts), NOT "a"
    val df = Seq(" a b c", "a  b", "\ta b ").toDF("text")
      .select(split(col("text"), "\\s+").as("t"))
    for (n <- Seq(1, 2, 3)) {
      df.select(ShingleHash.shingleHashes(col("t"), n).as("native"),
          hofShingleHashes(col("t"), n).as("hof")).collect()
        .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n"))
    }
  }

  test("null tokens are skipped like concat_ws") {
    val df = spark.sql("SELECT array('a', NULL, 'b', 'c') AS t")
    val got = df.select(ShingleHash.shingleHashes(col("t"), 2).as("native"),
      hofShingleHashes(col("t"), 2).as("hof")).head()
    assert(got.getSeq[Long](0) == got.getSeq[Long](1))
  }

  test("matches Dedup.shingleHashes end-to-end from text") {
    val df = Seq("the cat sat on the mat the cat sat", "").toDF("text")
    val got = df.select(
      graft.operators.Dedup.shingleHashes(col("text"), 2).as("native"),
      hofShingleHashes(split(col("text"), "\\s+"), 2).as("hof")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }
}
