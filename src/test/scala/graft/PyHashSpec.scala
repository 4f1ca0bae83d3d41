package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.kernels.{NumpyArgsort, PyHash}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** PyHash/PySet must reproduce CPython 3.11 (PYTHONHASHSEED=0) string and
  * tuple hashes and `list(set(rules))` iteration order; NumpyArgsort must
  * reproduce np.argsort(kind='quicksort') index-for-index (goldens from
  * tools/make_pyhash_golden.py). */
class PyHashSpec extends AnyFunSuite with TestTimeLimit {

  private val mapper = new ObjectMapper

  type Item = (String, String)
  type Rule = (Seq[Item], Seq[Item])

  private def ruleHash(r: Rule): Long = {
    def side(items: Seq[Item]) =
      PyHash.tupleHash(items.map(it =>
        PyHash.tupleHash(Seq(PyHash.strHash(it._1), PyHash.strHash(it._2)))))
    PyHash.tupleHash(Seq(side(r._1), side(r._2)))
  }

  private def parseRules(node: JsonNode): Seq[Rule] =
    node.elements().asScala.map { rn =>
      val sides = rn.elements().asScala.toSeq
      def items(s: JsonNode): Seq[Item] =
        s.elements().asScala.map { p =>
          val it = p.elements().asScala.toSeq
          (it(0).asText(), it(1).asText())
        }.toSeq
      (items(sides(0)), items(sides(1)))
    }.toSeq

  test("pyhash golden: str, tuple, set order") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/pyhash_golden.tsv"), "UTF-8")
    try {
      var nStr, nTup, nSet = 0
      for (line <- src.getLines()) {
        val parts = line.split("\t", -1)
        parts(0) match {
          case "STR" =>
            nStr += 1
            val s = mapper.readTree(parts(1)).asText()
            assert(PyHash.strHash(s) == parts(2).toLong, s"str ${parts(1)}")
          case "TUP" =>
            nTup += 1
            val arr = mapper.readTree(parts(1))
            val a = arr.get(0).asText(); val b = arr.get(1).asText()
            val h = PyHash.tupleHash(Seq(PyHash.strHash(a), PyHash.strHash(b)))
            assert(h == parts(2).toLong, s"tuple ${parts(1)}")
          case "SET" =>
            nSet += 1
            val rules = parseRules(mapper.readTree(parts(1)))
            val want = parseRules(mapper.readTree(parts(2)))
            val got = PyHash.PySet.of[Rule](rules, ruleHash).toList
            assert(got == want.toList, s"set case $nSet")
        }
      }
      assert(nStr > 20 && nTup == 40 && nSet == 30)
    } finally src.close()
  }

  test("np.argsort quicksort golden") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/npargsort_golden.tsv"), "UTF-8")
    try {
      var n = 0
      for (line <- src.getLines()) {
        n += 1
        val parts = line.split("\t", -1)
        val xs = if (parts(0).isEmpty) Array.empty[Double]
                 else parts(0).split(',').map(t => if (t == "nan") Double.NaN else t.toDouble)
        val want = if (parts(1).isEmpty) Array.empty[Int]
                   else parts(1).split(',').map(_.toInt)
        val got = NumpyArgsort.argsort(xs)
        assert(got.sameElements(want),
          s"case $n (n=${xs.length}): got ${got.mkString(",")} want ${want.mkString(",")}")
      }
      assert(n == 141)
    } finally src.close()
  }
}
