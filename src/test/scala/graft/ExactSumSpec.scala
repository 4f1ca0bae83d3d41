package graft

import graft.kernels.ExactSum
import org.scalatest.funsuite.AnyFunSuite

class ExactSumSpec extends AnyFunSuite with TestTimeLimit {

  private def exactViaBigDecimal(vs: Seq[Double]): Double = {
    if (vs.isEmpty) return 0.0
    var s = java.math.BigDecimal.ZERO
    for (v <- vs) s = s.add(new java.math.BigDecimal(v))
    s.doubleValue() // correctly rounded per BigDecimal.doubleValue
  }

  private def sumAll(vs: Seq[Double]): Double = {
    val acc = ExactSum.newAcc()
    vs.foreach(ExactSum.add(acc, _))
    ExactSum.value(acc)
  }

  test("exact against BigDecimal on adversarial magnitudes") {
    val rng = new scala.util.Random(20260815L)
    for (round <- 0 until 200) {
      val n = 1 + rng.nextInt(60)
      val vs = Seq.fill(n) {
        val scale = rng.nextInt(600) - 300
        val sign = if (rng.nextBoolean()) 1 else -1
        sign * math.pow(2.0, scale) * rng.nextDouble()
      } ++ Seq.fill(rng.nextInt(4))(0.0)
      val got = sumAll(vs)
      val want = exactViaBigDecimal(vs)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"round $round: got $got want $want inputs=${vs.take(8)}...")
    }
  }

  test("order and partition independence (the reproducibility contract)") {
    val rng = new scala.util.Random(7L)
    val vs = Seq.fill(500)(math.pow(10.0, rng.nextInt(30) - 15) * (rng.nextDouble() - 0.5))
    val direct = sumAll(vs)
    for (_ <- 0 until 20) {
      val shuffled = rng.shuffle(vs)
      // random partitioning, merged in random order
      val parts = shuffled.grouped(1 + rng.nextInt(50)).toSeq
      val accs = parts.map { p =>
        val a = ExactSum.newAcc(); p.foreach(ExactSum.add(a, _)); a
      }
      val total = ExactSum.newAcc()
      rng.shuffle(accs).foreach(ExactSum.merge(total, _))
      assert(java.lang.Double.doubleToLongBits(ExactSum.value(total)) ==
        java.lang.Double.doubleToLongBits(direct))
    }
  }

  test("exact subtraction: total - prefix == complement") {
    val rng = new scala.util.Random(99L)
    val vs = Array.fill(300)(rng.nextDouble() * math.pow(2.0, rng.nextInt(100) - 50))
    val total = ExactSum.newAcc(); vs.foreach(ExactSum.add(total, _))
    for (cut <- Seq(0, 1, 137, 299, 300)) {
      val prefix = ExactSum.newAcc(); vs.take(cut).foreach(ExactSum.add(prefix, _))
      val diff = ExactSum.copy(total)
      ExactSum.merge(diff, ExactSum.negated(prefix))
      val complement = sumAll(vs.drop(cut).toSeq)
      assert(java.lang.Double.doubleToLongBits(ExactSum.value(diff)) ==
        java.lang.Double.doubleToLongBits(complement), s"cut=$cut")
    }
  }

  test("subnormals, cancellation, extremes") {
    assert(sumAll(Seq(Double.MinPositiveValue, Double.MinPositiveValue))
      == 2 * Double.MinPositiveValue)
    assert(sumAll(Seq(1e308, 1e308, -1e308)) == 1e308)
    assert(sumAll(Seq(1.0, -1.0, Double.MinPositiveValue)) == Double.MinPositiveValue)
    assert(sumAll(Seq(1e300, 1.0, -1e300)) == 1.0)
    assert(sumAll(Seq.empty) == 0.0)
    assert(sumAll(Seq(0.0, -0.0)) == 0.0)
    // exact tie -> round to even
    assert(sumAll(Seq(1.0, math.ulp(1.0) / 2)) == 1.0)
    val above = 1.0 + math.ulp(1.0)
    assert(sumAll(Seq(above, math.ulp(1.0) / 2)) == above + math.ulp(1.0))
  }

  test("specials: NaN and infinities") {
    assert(sumAll(Seq(1.0, Double.NaN)).isNaN)
    assert(sumAll(Seq(1.0, Double.PositiveInfinity)) == Double.PositiveInfinity)
    assert(sumAll(Seq(Double.NegativeInfinity, 1.0)) == Double.NegativeInfinity)
    assert(sumAll(Seq(Double.PositiveInfinity, Double.NegativeInfinity)).isNaN)
  }

  test("serialization round-trip") {
    val rng = new scala.util.Random(3L)
    val acc = ExactSum.newAcc()
    Seq.fill(100)(rng.nextGaussian() * 1e10).foreach(ExactSum.add(acc, _))
    val v = ExactSum.value(ExactSum.deserialize(ExactSum.serialize(acc)))
    assert(v == ExactSum.value(acc))
  }
}
