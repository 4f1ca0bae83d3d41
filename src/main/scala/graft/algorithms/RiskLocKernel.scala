package graft.algorithms

import graft.algorithms.LeafSnapshot._
import graft.algorithms.RiskLoc._
import graft.model.RootCause

/** RiskLoc on a collected [[LeafSnapshot]]: the same search as
  * [[RiskLoc.run]] with every Spark pass replaced by a loop over the
  * snapshot's columns, so a small instance costs no Spark job beyond its
  * collect. Scoring, pruning, the candidate scans and winner selection
  * are RiskLoc's own driver code; the loops here only compute the
  * aggregates the Spark passes would collect, with Spark's expression
  * semantics and summation order, so predictions and trace lines match
  * the Spark path exactly.
  */
object RiskLocKernel {

  // per-element sums, in GroupedSums slot order
  private val Ep = 0; private val EpZ = 1; private val Wa = 2; private val Wn = 3
  private val SReal = 4; private val SPred = 5; private val W2 = 6
  private val Width = 7

  def run(s: LeafSnapshot, opt: Options = Options()): Seq[RootCause] = {
    val attributes = s.attributes
    val n = s.size
    val real = s.measure("real")
    val pred = s.measure("predict")
    val all = Array.range(0, n)

    // ---- score (RiskLoc.score, Snapshots.withExplanatoryPower/withDeviation)
    val ep: Array[Double] =
      if (opt.derived) {
        val (ra, pa, rb, pb) = (s.measure("real_a"), s.measure("predict_a"),
          s.measure("real_b"), s.measure("predict_b"))
        val tpa = globalSum(s, all, pa).get
        val tpb = globalSum(s, all, pb).get
        val raw = Array.tabulate(n)(i =>
          numpyDiv((ra(i) - pa(i)) * tpb - (rb(i) - pb(i)) * tpa, tpb * (tpb + rb(i) - pb(i))))
        val tep = globalSum(s, all, raw, _.isNaN)
          .getOrElse(unsupported("every derived EP is NaN"))
        raw.map(numpyDiv(_, tep))
      } else {
        val tr = globalSum(s, all, real).get
        val tp = globalSum(s, all, pred).get
        Array.tabulate(n)(i => numpyDiv(real(i) - pred(i), tr - tp))
      }
    val dev = Array.tabulate(n)(i =>
      if (pred(i) + real(i) == 0.0) 0.0 else 2.0 * (pred(i) - real(i)) / (pred(i) + real(i)))

    val cut = {
      // SELECT DISTINCT normalizes -0.0 and NaN; ascending puts NaN last
      val distinct = dev.map(d => if (d == 0.0) 0.0 else d).distinct
      java.util.Arrays.sort(distinct)
      val nr = if (opt.removeRelative) math.ceil(distinct.length.toLong * opt.nRemove / 100.0).toInt
               else opt.nRemove
      cutoffOf(distinct.take(nr + 1).toSeq, distinct.reverse.take(nr + 1).toSeq)
    }
    val anomalyRight = math.copySign(1.0, cut) > 0
    val partition = Array.tabulate(n)(i =>
      if (if (anomalyRight) cmp(dev(i), cut) > 0 else cmp(dev(i), cut) < 0) 1 else 0)
    val weight = Array.tabulate(n) { i =>
      val w =
        if (partition(i) == 1) math.abs(dev(i))
        else if (real(i) == 0.0 && pred(i) == 0.0) 0.0
        else math.abs(cut - dev(i))
      if (cmp(1.0, w) < 0) 1.0 else w
    }
    def anomalyEpSum(rows: Array[Int]): Double =
      globalSum(s, rows.filter(partition(_) == 1), ep, _.isNaN).getOrElse(0.0)
    val epSum = anomalyEpSum(all)
    if (epSum < 0) (0 until n).foreach(i => ep(i) = -ep(i))
    val epSum0 = if (epSum < 0) -epSum else epSum
    val adjEpThreshold = epSum0 * opt.pepThreshold
    val epZ = ep.map(e => if (cmp(e, 0.0) > 0) e else 0.0)
    val nz = Array.tabulate(n)(i => real(i) != 0.0 && pred(i) != 0.0)

    // ---- dictionary codes: a cuboid's element is one Long, times the
    // stage's cuboid count
    val codes = s.codes
    val radix = s.radix
    s.requireLongKeys(attributes.indices, BigInt(1) << attributes.size)

    /** Every element of `cuboids` (cid, attribute indices) over `rows`,
      * pruned by `state`, with the stage's sums; `ripple` adds the
      * ripple-adjusted mean |d| (w1) of the elements it keeps. */
    final class Stage(rows: Array[Int], cuboids: Seq[(Int, Seq[Int])], state: PruneState) {
      val ids = new collection.mutable.LongMap[Int]()
      val cidOf = collection.mutable.ArrayBuffer.empty[Int]
      val firstRow = collection.mutable.ArrayBuffer.empty[Int]
      val partSum = collection.mutable.ArrayBuffer.empty[Long]
      val sums = new GroupedSums(Width)
      val w1 = new GroupedSums(1)
      private val cub = cuboids.map(_._2.toArray).toArray
      private val cids = cuboids.map(_._1).toArray
      // per cuboid and attribute: the attribute's pruned value codes
      private val prunedCodes: Array[Array[Set[Int]]] = cub.map(_.map { a =>
        val vs = state.getOrElse(attributes(a), Nil).toSet
        if (vs.isEmpty) Set.empty[Int]
        else codes(a).iterator.zip(s.values(a).iterator).collect { case (c, v) if vs(v) => c }.toSet
      })

      /** Element id of row `i` in cuboid `j`; -1 when pruned or (`add`
        * false) absent. */
      private def group(j: Int, i: Int, add: Boolean): Int = {
        val as = cub(j)
        var key = 0L
        var x = 0
        while (x < as.length) {
          val c = codes(as(x))(i)
          if (prunedCodes(j)(x).contains(c)) return -1
          key = key * radix(as(x)) + c
          x += 1
        }
        if (add) ids.getOrElseUpdate(key * cids.length + j, {
          cidOf += cids(j); firstRow += i; partSum += 0L; cidOf.size - 1
        })
        else ids.getOrElse(key * cids.length + j, -1)
      }

      rows.foreach { i =>
        val p = s.part(i)
        var j = 0
        while (j < cub.length) {
          val g = group(j, i, add = true)
          j += 1
          if (g >= 0) {
            if (!ep(i).isNaN) sums.add(p, g, Ep, ep(i))
            sums.add(p, g, EpZ, epZ(i))
            partSum(g) += partition(i)
            sums.add(p, g, Wa, if (partition(i) == 1) weight(i) else 0.0)
            sums.add(p, g, Wn, if (partition(i) == 0) weight(i) else 0.0)
            sums.add(p, g, SReal, if (nz(i)) real(i) else 0.0)
            sums.add(p, g, SPred, if (nz(i)) pred(i) else 0.0)
            if (nz(i)) sums.add(p, g, W2, math.abs(dev(i)))
          }
        }
      }

      def key(g: Int): Seq[String] =
        cub(cids.indexOf(cidOf(g))).toSeq.map(a => s.values(a)(firstRow(g)))
      def size: Int = cidOf.size

      /** RiskLoc.ripplePass for the elements `keep`. */
      def ripple(keep: Int => Boolean): Unit = {
        val sReal = Array.tabulate(size)(sums.sumOrZero(_, SReal))
        val sPred = Array.tabulate(size)(sums.sumOrZero(_, SPred))
        rows.foreach { i =>
          if (nz(i)) cub.indices.foreach { j =>
            val g = group(j, i, add = false)
            if (g >= 0 && keep(g)) {
              val a = numpyDiv(pred(i) * sReal(g), sPred(g))
              val d0 = numpyDiv(2.0 * (a - real(i)), a + real(i))
              w1.add(s.part(i), g, 0, math.abs(if (d0.isNaN) 0.0 else d0))
            }
          }
        }
      }

      def stats(g: Int): CandStats = CandStats(cidOf(g), key(g), sums.sumOrZero(g, Ep),
        sums.sumOrZero(g, Wa), sums.sumOrZero(g, Wn), sums.avg(g, W2).getOrElse(0.0),
        sums.count(g, W2), w1.avg(g, 0).getOrElse(0.0))
    }

    val nAttrs = attributes.size
    val pruned: Pruned = collection.mutable.Map.empty
    def snapshotState: PruneState = pruned.iterator.map { case (k, v) => k -> v.toSeq }.toMap

    /** RiskLoc.searchAnomaly over the rows `rows`. */
    def search(rows: Array[Int], deepCapLayer: Int): Option[RootCause] = {
      val prunedOld: PruneState = if (opt.pruneElements) snapshotState else Map.empty
      val layer1 = new Stage(rows, attributes.indices.map(a => (a, Seq(a))), prunedOld)
      layer1.ripple(_ => true)
      val aggs1 = (0 until layer1.size).map(g =>
        Layer1Agg(layer1.sums.sumOrZero(g, EpZ), layer1.partSum(g), layer1.stats(g)))
      if (opt.pruneElements) pruneLayer1(aggs1, attributes, adjEpThreshold, pruned)
      val prunedNew: PruneState = if (opt.pruneElements) snapshotState else Map.empty
      val cause1 = layer1Cause(aggs1, attributes, adjEpThreshold, opt)
      if (cause1.nonEmpty || nAttrs == 1) return cause1

      val (deepCuboids, deepNear, deepFar) = deepLayout(attributes, deepCapLayer, opt)
      def deepPass(subset: Seq[(Seq[String], Int)]): Option[RootCause] = {
        val stage = new Stage(rows,
          subset.map { case (c, cid) => (cid, c.map(attributes.indexOf(_))) }, prunedNew)
        val cands = (0 until stage.size)
          .filter(g => stage.partSum(g) > 0 &&
            stage.sums.sum(g, Ep).exists(e => cmp(e, adjEpThreshold) > 0))
          .groupBy(stage.cidOf).values.flatMap(gs =>
            gs.sortWith((x, y) => cmp(stage.sums.sumOrZero(x, Ep), stage.sums.sumOrZero(y, Ep)) > 0)
              .take(opt.maxCandidatesPerCuboid))
          .toSet
        stage.ripple(cands)
        val winners = scanWinners(cands.toSeq.sorted.map(stage.stats), opt,
          cid => deepCuboids(cid - nAttrs))
        deepCause(winners, deepCuboids, nAttrs)
      }
      deepPass(deepNear).orElse(if (deepFar.nonEmpty) deepPass(deepFar) else None)
    }

    // ---- remove-and-repeat (RiskLoc.run)
    val rootCauses = collection.mutable.ArrayBuffer.empty[RootCause]
    var rows = all
    var iterEpSum = epSum0
    var deepCapLayer = 2
    var continue = true
    while (continue) {
      traceIteration(opt, rootCauses.size + 1, iterEpSum, adjEpThreshold)
      val found =
        if (iterEpSum < adjEpThreshold) None
        else { opt.trace("Layer: 1"); search(rows, deepCapLayer) }
      found.filter(_.layer >= 2).foreach(rc => deepCapLayer = math.min(nAttrs, rc.layer + 1))
      found match {
        case None => continue = false
        case Some(rc) =>
          traceNewBest(opt, rc)
          rootCauses += rc
          val cols = rc.cuboid.map(a => s.values(attributes.indexOf(a)))
          val vals = rc.elements.head.pairs.map(_._2)
          rows = rows.filterNot(i => cols.indices.forall(x => cols(x)(i) == vals(x)))
          iterEpSum = anomalyEpSum(rows)
      }
    }
    rootCauses.toSeq
  }
}
