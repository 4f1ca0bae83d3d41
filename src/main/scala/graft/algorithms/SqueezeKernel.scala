package graft.algorithms

import graft.algorithms.LeafSnapshot._
import graft.algorithms.Squeeze._
import graft.kernels.ExactSum

/** Squeeze on a collected [[LeafSnapshot]]: the same search as
  * [[Squeeze.run]] with every Spark pass replaced by a loop over the
  * snapshot's columns, so a small instance costs no Spark job beyond its
  * collect. The clustering, the per-cuboid plans, the scoring and the
  * root-cause dedup are Squeeze's own driver code; the loops here only
  * compute the aggregates the Spark passes would collect.
  *
  * No summation order is replayed: every Squeeze mass is an exact sum and
  * every other aggregate (counts, `min`, distinct counts, the sorted leaf
  * vectors) is order-free. What the loops keep from Spark is its
  * expression semantics: NaN compares above every double, and derived
  * measures divide through `safeDiv`.
  */
object SqueezeKernel {

  def run(s: LeafSnapshot, opt: Options = Options()): Seq[String] = {
    val attributes = s.attributes
    // validity filter + derived measure (Squeeze.run)
    val (rows, real0, pred) =
      if (opt.derived) {
        val (ra, pa, rb, pb) = (s.measure("real_a"), s.measure("predict_a"),
          s.measure("real_b"), s.measure("predict_b"))
        val rows = Array.range(0, s.size).filter(i => cmp(pa(i), 0.0) > 0 && cmp(pb(i), 0.0) > 0)
        (rows, rows.map(i => safeDiv(ra(i), rb(i))), rows.map(i => safeDiv(pa(i), pb(i))))
      } else {
        val (r, p) = (s.measure("real"), s.measure("predict"))
        val rows = Array.range(0, s.size).filter(i => cmp(p(i), 0.0) > 0)
        (rows, rows.map(r), rows.map(p))
      }
    val n = rows.length
    if (n == 0) return Seq.empty
    if (n > opt.statSampleCap) unsupported("leaf vectors above statSampleCap")
    val minReal = real0.reduce((a, b) => if (cmp(b, a) < 0) b else a)
    val real = if (minReal < 0) real0.map(_ - minReal) else real0
    val numAttr = s.values.map(vs => rows.iterator.map(vs).distinct.size.toLong).sum.toDouble
    val dev = Array.tabulate(n)(i =>
      if (pred(i) + real(i) == 0.0) 0.0 else (pred(i) - real(i)) / (pred(i) + real(i)))
    val l1 = Array.tabulate(n)(i => math.abs(real(i) - pred(i)))

    val pairs = dev.zip(l1).sorted
    val devs = pairs.map(_._1)
    val cl = clusters(devs, pairs.map(_._2), numAttr, n, opt).getOrElse(return Seq.empty)
    val normal = dev.map(d => cmp(math.abs(d), cl.normalThreshold) < 0)

    // the masses pass 1 sums over the subset rows; the mode-dead ones stay
    // empty, as on the Spark path
    val masses: Map[String, Array[Double]] =
      if (opt.derived)
        Map("l1" -> l1) ++ Seq("real_a" -> "sva", "real_b" -> "svb", "predict_a" -> "sfa",
          "predict_b" -> "sfb").map { case (m, name) => name -> rows.map(s.measure(m)) }
      else Map("sv" -> real, "sf" -> pred, "l1" -> l1)
    val massNames = masses.keys.toArray
    val massCols = massNames.map(masses)

    // each cuboid's element of every row, shared by the clusters
    val elementsOf = collection.mutable.HashMap.empty[Seq[String], (Array[Int], Array[Seq[String]])]
    def index(cuboid: Seq[String]) =
      elementsOf.getOrElseUpdate(cuboid, s.elements(cuboid.map(attributes.indexOf(_)), rows))

    final class Passes(inCluster: Array[Boolean], inSubset: Array[Boolean]) extends LayerPasses {
      def elements(cuboids: Seq[Seq[String]]): Map[Int, Seq[ElementStats]] = {
        // shared by every empty mass: reading (merging) it only
        // normalizes its zeros
        val empty = ExactSum.newAcc()
        cuboids.indices.map { cid =>
          val (elem, keys) = index(cuboids(cid))
          val (nAbn, nAll, nSub) = (new Array[Long](keys.length), new Array[Long](keys.length),
            new Array[Long](keys.length))
          val accs = Array.fill(massCols.length)(new Array[Array[Long]](keys.length))
          for (i <- 0 until n) {
            val g = elem(i)
            nAll(g) += 1
            if (inCluster(i)) nAbn(g) += 1
            if (inSubset(i)) {
              nSub(g) += 1
              var m = 0
              while (m < massCols.length) {
                if (accs(m)(g) == null) accs(m)(g) = ExactSum.newAcc()
                ExactSum.add(accs(m)(g), massCols(m)(i))
                m += 1
              }
            }
          }
          def mass(name: String, g: Int): Array[Long] = {
            val m = massNames.indexOf(name)
            if (m < 0 || accs(m)(g) == null) empty else accs(m)(g)
          }
          cid -> keys.indices.map(g => ElementStats(keys(g), nAbn(g), nAll(g), nSub(g),
            mass("sv", g), mass("sf", g), mass("l1", g),
            mass("sva", g), mass("svb", g), mass("sfa", g), mass("sfb", g)))
        }.toMap
      }

      def rippleL1(cuboids: Seq[Seq[String]], plans: Seq[Plan]): Map[Int, Array[Double]] =
        plans.filter(_.partitions > 0).map { pl =>
          val (elem, keys) = index(cuboids(pl.cid))
          val rankOf = pl.elems.take(pl.partitions).map(_.key).zipWithIndex.toMap
          val rank = keys.map(k => rankOf.get(k).fold(0)(_ + 1))
          val accs = Array.fill(pl.partitions)(ExactSum.newAcc())
          for (i <- 0 until n if inSubset(i)) {
            var p = rank(elem(i))
            while (p > 0 && p <= pl.partitions) {
              ExactSum.add(accs(p - 1), math.abs(real(i) - pred(i) * pl.ratios(p - 1)))
              p += 1
            }
          }
          pl.cid -> accs.map(ExactSum.value)
        }.toMap
    }

    val rootCauses = cl.intervals.flatMap { case iv @ (lo, hi) =>
      val inCluster = dev.map(d => cmp(d, lo) >= 0 && cmp(d, hi) <= 0)
      val inSubset = Array.tabulate(n)(i => inCluster(i) || normal(i))
      val subL1 = ExactSum.newAcc()
      (0 until n).foreach(i => if (inSubset(i)) ExactSum.add(subL1, l1(i)))
      locateInCluster(attributes, devs, iv, cl.scoreWeight,
        () => (inSubset.count(identity).toLong, subL1), new Passes(inCluster, inSubset), opt)
    }
    predictionsOf(attributes, rootCauses)
  }

  /** [[graft.functions.Scores.safeDiv]]. */
  private def safeDiv(num: Double, den: Double): Double = if (den == 0.0) 0.0 else num / den
}
