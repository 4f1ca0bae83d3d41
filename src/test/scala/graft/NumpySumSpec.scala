package graft

import graft.kernels.NumpySum
import org.scalatest.funsuite.AnyFunSuite

/** NumpySum must reproduce pandas/numpy float64 summation bit-for-bit
  * (fixtures/npsum_golden.tsv; hex doubles from the container's pandas). */
class NumpySumSpec extends AnyFunSuite with TestTimeLimit {

  private def parseHex(t: String): Double =
    if (t == "nan") Double.NaN else {
      // java.lang.Double.parseDouble accepts C99 hex floats ("0x1.8p3")
      java.lang.Double.parseDouble(t)
    }

  test("matches pandas Series.sum on all golden cases") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/npsum_golden.tsv"), "UTF-8")
    try {
      var n = 0
      for (line <- src.getLines()) {
        n += 1
        val parts = line.split("\t", -1)
        val xs = if (parts(0).isEmpty) Array.empty[Double]
                 else parts(0).split(',').map(parseHex)
        val want = parseHex(parts(1))
        val got = NumpySum.nanSum(xs)
        assert(java.lang.Double.doubleToLongBits(got) ==
          java.lang.Double.doubleToLongBits(want),
          s"case $n: got ${got}%a want ${want}%a (n=${xs.length})")
      }
      assert(n > 60)
    } finally src.close()
  }
}
