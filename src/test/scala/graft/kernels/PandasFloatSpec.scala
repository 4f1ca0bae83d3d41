package graft.kernels

import graft.TestTimeLimit
import org.scalatest.funsuite.AnyFunSuite

/** PandasFloat must reproduce pandas' precise_xstrtod bit-for-bit on the
  * committed golden (1000+ tokens read through the container's actual
  * pd.read_csv — tools/make_pandasfloat_golden.py). */
class PandasFloatSpec extends AnyFunSuite with TestTimeLimit {

  private lazy val golden: Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(
      "src/test/resources/fixtures/pandas_float_golden.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }.toSeq
    finally src.close()
  }

  test("matches pandas precise_xstrtod on all golden tokens") {
    val bad = golden.flatMap { case (tok, hex) =>
      val got = PandasFloat.parse(tok)
      val want = if (hex == "nan") Double.NaN else java.lang.Double.parseDouble(hex)
      val same = java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want)
      if (!same) Some(s"$tok: pandas=$hex engine=${java.lang.Double.toHexString(got)}")
      else None
    }
    assert(bad.isEmpty, s"${bad.size} mismatches:\n${bad.take(20).mkString("\n")}")
  }

  test("differs from correctly-rounded parsing where pandas does") {
    // the motivating case: gen-corpus leaf whose (p*r)/p == r identity
    // only holds under the pandas parse
    assert(PandasFloat.parse("121.63297364647785") !=
      java.lang.Double.parseDouble("121.63297364647785"))
  }
}
