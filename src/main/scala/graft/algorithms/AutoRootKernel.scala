package graft.algorithms

import graft.algorithms.AutoRoot._
import graft.algorithms.LeafSnapshot._
import graft.model.RootCause

/** AutoRoot on a collected [[LeafSnapshot]]: the same search as
  * [[AutoRoot.run]] with every Spark pass replaced by a loop over the
  * snapshot's columns, so a small instance costs no Spark job beyond its
  * collect. The KDE clustering, the best-split choice and the root-cause
  * merge are AutoRoot's own driver code; the loops here only compute the
  * aggregates the Spark passes would collect, with Spark's expression
  * semantics and summation order: the term_b total, each candidate's
  * `sum(real)`, `sum(predict)`, `sum(term_b)` and `avg(term_a)` are
  * [[LeafSnapshot.GroupedSums]] over the rows in partition order, and the
  * NPS comparison is strict, so their last bits decide winners.
  */
object AutoRootKernel {

  // per-candidate sums, in GroupedSums slot order
  private val SReal = 0; private val SPred = 1; private val SumB = 2
  private val Width = 3

  def run(s: LeafSnapshot, opt: Options = Options()): Seq[RootCause] = {
    val attributes = s.attributes
    val n = s.size
    val real = s.measure("real")
    val pred = s.measure("predict")
    val all = Array.range(0, n)

    // ---- KDE clustering of the anomalous deviations (Snapshots.withDeviation)
    val dev = Array.tabulate(n)(i =>
      if (pred(i) + real(i) == 0.0) 0.0 else 2.0 * (pred(i) - real(i)) / (pred(i) + real(i)))
    val anomalous = all.filter(i => cmp(math.abs(dev(i)), 0.2) > 0)
    if (anomalous.length > opt.statSampleCap) unsupported("deviation vector above statSampleCap")
    val devs = anomalous.map(dev).sorted
    if (devs.isEmpty) return Seq.empty
    val boundaries = clusterBoundaries(devs)
    // cluster id = count of boundaries >= the deviation; -1: not anomalous
    val cluster = Array.fill(n)(-1)
    anomalous.foreach(i => cluster(i) =
      if (boundaries.isEmpty) 1 else boundaries.count(b => cmp(dev(i), b) <= 0))
    val clusterSizes = anomalous.groupBy(cluster).map { case (k, is) => k -> is.length.toLong }
    val clusters = clusterSizes.keys.toArray.sorted
    val termB = Array.tabulate(n)(i =>
      if (real(i) == 0.0) 0.0 else math.abs(real(i) - pred(i)) / real(i))
    val tTermB = globalSum(s, all, termB).get

    val layers = (1 to attributes.size).map { layer =>
      val cuboids = attributes.combinations(layer).toSeq
      // counts: y per element; x per (element, cluster); then the
      // candidate splits of any cluster
      val cands = cuboids.indices.flatMap { cid =>
        val (elem, keys) = s.elements(cuboids(cid).map(attributes.indexOf(_)), all)
        val y = new Array[Long](keys.length)
        val x = clusters.map(k => k -> new Array[Long](keys.length)).toMap
        all.foreach { i =>
          y(elem(i)) += 1
          if (cluster(i) >= 0) x(cluster(i))(elem(i)) += 1
        }
        keys.indices
          .filter(g => clusters.exists(k =>
            isCandidate(x(k)(g), y(g), clusterSizes(k).toDouble, layer, attributes.size, opt)))
          .map(g => (cid, keys(g), y(g), clusters.map(k => k -> x(k)(g)).toMap))
      }

      // NPS statistics of every candidate over the rows it selects: every
      // cuboid value in the candidate's value set (AutoRoot.run's
      // layer>=2 selection quirk)
      val selectors: IndexedSeq[Int => Boolean] = cands.map { case (cid, key, _, _) =>
        val as = cuboids(cid).map(attributes.indexOf(_)).toArray
        val keySet = key.toSet
        val allowed = as.map(a => s.values(a).map(keySet))
        (i: Int) => allowed.forall(_(i))
      }
      val sums = new GroupedSums(Width)
      all.foreach { i =>
        var g = 0
        while (g < selectors.length) {
          if (selectors(g)(i)) {
            sums.add(s.part(i), g, SReal, real(i))
            sums.add(s.part(i), g, SPred, pred(i))
            sums.add(s.part(i), g, SumB, termB(i))
          }
          g += 1
        }
      }
      val ratio = cands.indices.map { g =>
        val spred = sums.sumOrZero(g, SPred)
        if (spred != 0.0) sums.sumOrZero(g, SReal) / spred else 0.0
      }
      val termA = new GroupedSums(1)
      all.foreach { i =>
        var g = 0
        while (g < selectors.length) {
          if (selectors(g)(i)) {
            val aRow = pred(i) * ratio(g)
            termA.add(s.part(i), g, 0, if (real(i) == 0.0) 0.0 else math.abs(real(i) - aRow) / real(i))
          }
          g += 1
        }
      }
      (layer, cands.indices.map { g =>
        val (cid, key, y, x) = cands(g)
        Candidate(cid, key, y, x, sums.count(g, SReal), sums.sumOrZero(g, SumB), termA.avg(g, 0).get)
      })
    }
    rootCauses(attributes, layers, clusterSizes, n, tTermB, opt)
  }
}
