package graft

import graft.kernels.PyListSort
import org.scalatest.funsuite.AnyFunSuite

/** PyListSort must reproduce CPython 3.11 `list.sort()` bit-for-bit on
  * NaN-laced float lists (fixtures/pysort_golden.tsv — 316 cases covering
  * binarysort, powersort merges and galloping under the non-total `<`). */
class PyListSortSpec extends AnyFunSuite with TestTimeLimit {

  private def parse(s: String): Array[Double] =
    if (s.isEmpty) Array.empty
    else s.split(',').map(t => if (t == "nan") Double.NaN else t.toDouble)

  private def render(a: Array[Double]): String =
    a.map(v => if (v.isNaN) "nan" else v.toString).mkString(",")

  test("matches CPython 3.11 list.sort() on all golden cases") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/pysort_golden.tsv"), "UTF-8")
    try {
      var lineNo = 0
      for (line <- src.getLines()) {
        lineNo += 1
        val parts = line.split("\t", -1) // -1: keep empty fields (empty list case)
        val (in, out) = (parts(0), parts(1))
        val got = PyListSort.sorted(parse(in))
        val want = parse(out)
        assert(got.length == want.length, s"case $lineNo: length")
        var i = 0
        while (i < got.length) {
          val same = (got(i).isNaN && want(i).isNaN) || got(i) == want(i)
          // render the (up to 20k-element) clue only on a mismatch
          if (!same) fail(s"case $lineNo pos $i: got ${render(got)} want ${render(want)}")
          i += 1
        }
      }
      assert(lineNo == 316)
    } finally src.close()
  }

  test("plain stable sort on NaN-free input") {
    val xs = Array(3.0, 1.0, 2.0, 1.0, 0.5)
    assert(PyListSort.sorted(xs).sameElements(Array(0.5, 1.0, 1.0, 2.0, 3.0)))
  }
}
