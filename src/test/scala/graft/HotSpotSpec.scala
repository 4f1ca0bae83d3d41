package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.algorithms.HotSpot.{ElemStats, Totals}
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot: (a) the per-element decomposition of ps/gps must equal the
  * reference's whole-vector formulas (hotspot.py:29-63) computed naively;
  * (b) end-to-end localization on the seeded fixtures; (c) determinism
  * under a fixed seed. Exact-set goldens are not used: the reference's
  * MCTS draws from an unseeded RNG and iterates python sets, so only
  * score-threshold behavior is specified (SURVEY.md §7.3). */
class HotSpotSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  // tiny leaf table: 3 elements of cuboid [d], 2 leaves each
  private val elemOf = Array(0, 0, 1, 1, 2, 2)
  private val v = Array(10.0, 20.0, 5.0, 3.0, 8.0, 0.0)
  private val f = Array(12.0, 15.0, 5.0, 4.0, 0.0, 0.0)

  private def stats(e: Int): ElemStats = {
    val idx = elemOf.indices.filter(elemOf(_) == e)
    val sv = idx.map(v).sum; val sf = idx.map(f).sum
    val ratio = sv / sf
    def nanToNum(x: Double) =
      if (x.isNaN) 0.0 else if (x.isPosInfinity) Double.MaxValue
      else if (x.isNegInfinity) Double.MinValue else x
    ElemStats(Seq(s"e$e"), idx.size,
      sv, sf,
      idx.map(i => math.abs(v(i) - f(i))).sum,
      idx.map(i => math.pow(v(i) - f(i), 2)).sum,
      idx.map(i => math.abs(v(i) - nanToNum(f(i) * ratio))).sum,
      idx.map(i => math.pow(v(i) - (if (sf == 0) 0.0 else f(i) * ratio), 2)).sum)
  }

  private val totals = Totals(v.length,
    v.indices.map(i => math.abs(v(i) - f(i))).sum,
    v.indices.map(i => math.pow(v(i) - f(i), 2)).sum)

  /** Reference gps computed naively over the leaf vectors (hotspot.py:40-63). */
  private def gpsNaive(sel: Seq[Int]): Double = {
    val selIdx = elemOf.indices.filter(i => sel.contains(elemOf(i)))
    val a = collection.mutable.ArrayBuffer.empty[Double]
    val b = collection.mutable.ArrayBuffer.empty[Double]
    for (e <- sel) {
      val idx = elemOf.indices.filter(elemOf(_) == e)
      val ratio = idx.map(v).sum / idx.map(f).sum
      for (i <- idx) {
        val ai = f(i) * ratio
        val aClean = if (ai.isNaN) 0.0 else if (ai.isPosInfinity) Double.MaxValue
          else if (ai.isNegInfinity) Double.MinValue else ai
        a += math.abs(v(i) - aClean)
        b += math.abs(v(i) - f(i))
      }
    }
    val rest = elemOf.indices.filterNot(selIdx.contains)
    val c = if (rest.nonEmpty) rest.map(i => math.abs(v(i) - f(i))).sum / rest.size else 0.0
    1.0 - ((a.sum / a.size + c) / (b.sum / b.size + c))
  }

  /** Reference ps computed naively (hotspot.py:21-37). */
  private def psNaive(sel: Seq[Int]): Double = {
    val a = f.clone()
    for (e <- sel) {
      val idx = elemOf.indices.filter(elemOf(_) == e)
      val vSum = idx.map(v).sum; val fSum = idx.map(f).sum
      for (i <- idx) a(i) = if (fSum != 0) f(i) - (fSum - vSum) * (f(i) / fSum) else 0.0
    }
    def dist(x: Array[Double], y: Array[Double]) =
      math.sqrt(x.indices.map(i => math.pow(x(i) - y(i), 2)).sum)
    math.max(1.0 - dist(v, a) / dist(v, f), 0.0)
  }

  private val subsets = Seq(Seq(0), Seq(1), Seq(2), Seq(0, 1), Seq(0, 2), Seq(1, 2), Seq(0, 1, 2))

  test("gps decomposition equals naive whole-vector gps on every subset") {
    for (sel <- subsets) {
      val dec = HotSpot.gpsScore(sel.map(stats), totals)
      assert(math.abs(dec - gpsNaive(sel)) < 1e-12, s"gps $sel")
    }
  }

  test("ps decomposition equals naive whole-vector ps on every subset") {
    for (sel <- subsets) {
      val dec = HotSpot.psScore(sel.map(stats), totals)
      assert(math.abs(dec - psNaive(sel)) < 1e-12, s"ps $sel")
    }
  }

  private def fixture(name: String) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType), StructField("c", StringType),
      StructField("real", DoubleType), StructField("predict", DoubleType)))
    spark.read.schema(schema).option("header", "true")
      .csv(getClass.getResource("/fixtures").getPath + s"/$name.csv").cache()
  }

  test("hotspot gps localizes the injected anomaly on fixture1") {
    val cand = HotSpot.run(fixture("fixture1"), Seq("a", "b", "c"))
    // fixture1: real scaled 3x inside a=a1
    assert(cand.cuboid == Seq("a"))
    assert(cand.elements == Seq(Seq("a1")))
    assert(cand.score >= 0.8)
  }

  test("hotspot ps localizes the injected anomaly on fixture1") {
    val cand = HotSpot.run(fixture("fixture1"), Seq("a", "b", "c"),
      HotSpot.Options(scoring = "ps", pt = 0.67))
    assert(cand.elements.flatten.contains("a1"))
  }

  test("hotspot is deterministic under a fixed seed") {
    val c1 = HotSpot.run(fixture("fixture2"), Seq("a", "b", "c"), HotSpot.Options(seed = 7))
    val c2 = HotSpot.run(fixture("fixture2"), Seq("a", "b", "c"), HotSpot.Options(seed = 7))
    assert(c1 == c2)
  }
}
