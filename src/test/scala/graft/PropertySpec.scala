package graft

import graft.eval.Evaluation
import graft.kernels.Kernels
import graft.model.Labels
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator properties (SURVEY §5): invariants of the label
  * codec, F1 evaluation, and numeric kernels that must hold for ALL
  * inputs, not just the golden fixtures. Cases are drawn deterministically
  * (fixed seed) so failures reproduce. */
class PropertySpec extends AnyFunSuite with TestTimeLimit {

  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    val params = Gen.Parameters.default
    for (_ <- 1 to n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit = {
    var seed = Seed(7L)
    val params = Gen.Parameters.default
    for (_ <- 1 to 100) {
      for (a <- ga.apply(params, seed); b <- gb.apply(params, seed.next))
        f(a, b)
      seed = seed.next.next
    }
  }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val attrVal: Gen[(String, String)] = for {
    a <- Gen.oneOf("a", "b", "c", "d")
    v <- Gen.choose(0, 9)
  } yield (a, s"$a$v")

  private val elementGen: Gen[String] = for {
    n <- Gen.choose(1, 3)
    pairs <- Gen.listOfN(n, attrVal)
  } yield pairs.distinctBy(_._1).map { case (a, v) => s"$a=$v" }.mkString("&")

  private val labelGen: Gen[String] = for {
    n <- Gen.choose(1, 4)
    elems <- Gen.listOfN(n, elementGen)
  } yield elems.mkString(";")

  test("label canonicalization is idempotent and order-invariant") {
    forAll(labelGen) { label =>
      val parsed = Labels.parse(label)
      assert(Labels.parse(parsed.mkString(";")) == parsed)
      // shuffling the &-pairs inside each element does not change parsing
      val shuffled = label.split(";").map(e =>
        scala.util.Random.shuffle(e.split("&").toSeq).mkString("&")).mkString(";")
      assert(Labels.parse(shuffled).toSet == parsed.toSet)
    }
  }

  test("F1 is invariant under prediction permutation and duplication") {
    forAll(labelGen, labelGen) { (truth, predLabel) =>
      val preds = predLabel.split(";").toSeq
      val s1 = Evaluation.score(preds, truth)
      val s2 = Evaluation.score(scala.util.Random.shuffle(preds ++ preds), truth)
      assert(s1 == s2)
      assert(s1.f1 >= 0.0 && s1.f1 <= 1.0)
    }
  }

  test("perfect predictions score F1 = 1, disjoint predictions score 0 TP") {
    forAll(labelGen) { truth =>
      val exact = Evaluation.score(Labels.parse(truth), truth)
      assert(exact.f1 == 1.0, s"$truth -> $exact")
      val disjoint = Evaluation.score(Seq("zz=zz9"), truth)
      assert(disjoint.tp == 0)
    }
  }

  private val vecGen: Gen[Array[Double]] = for {
    n <- Gen.choose(3, 200)
    xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield xs.toArray

  test("histogram auto edges cover the data and density integrates to ~1") {
    forAll(vecGen) { xs =>
      whenever(xs.max > xs.min) {
        val edges = Kernels.histogramBinEdgesAuto(xs)
        assert(edges.head <= xs.min && edges.last >= xs.max)
        assert(edges.sliding(2).forall(p => p(1) > p(0)))
        val dens = Kernels.histogramDensity(xs, edges)
        val integral = dens.zipWithIndex.map { case (d, i) => d * (edges(i + 1) - edges(i)) }.sum
        assert(math.abs(integral - 1.0) < 1e-9)
      }
    }
  }

  test("percentile is monotone and bounded by the data range") {
    forAll(vecGen) { xs =>
      val sorted = xs.sorted
      val ps = Seq(0.0, 25.0, 50.0, 75.0, 100.0).map(Kernels.percentile(sorted, _))
      assert(ps == ps.sorted)
      assert(ps.head == sorted.head && ps.last == sorted.last)
    }
  }

  test("KDE density is non-negative and symmetric inputs give symmetric density") {
    forAll(vecGen) { xs =>
      whenever(xs.distinct.length > 1) {
        val kde = Kernels.GaussianKde(xs)
        val grid = Kernels.linspace(xs.min, xs.max, 50)
        assert(kde.evaluate(grid).forall(_ >= 0.0))
      }
    }
  }

  test("kneedle knee (when found) lies within the x range") {
    forAll(Gen.choose(5, 100)) { n =>
      val x = Array.tabulate(n)(i => i.toDouble)
      val y = x.map(v => math.sqrt(v)) // concave increasing
      Kernels.kneedle(x, y).foreach(k => assert(k >= x.head && k <= x.last))
    }
  }

  test("polyfit reproduces exact low-degree polynomials") {
    forAll(Gen.listOfN(4, Gen.choose(-5.0, 5.0))) { coefs =>
      val c = coefs.toArray // c0 + c1 x + c2 x^2 + c3 x^3
      val xs = Array.tabulate(12)(i => i - 6.0)
      val ys = xs.map(x => c(0) + c(1) * x + c(2) * x * x + c(3) * x * x * x)
      val fit = Kernels.polyfit(xs, ys, 3)
      xs.foreach { x =>
        val err = math.abs(Kernels.polyval(fit, x) - (c(0) + c(1) * x + c(2) * x * x + c(3) * x * x * x))
        assert(err < 1e-6, s"err $err")
      }
    }
  }
}
