package graft.algorithms

import graft.algorithms.LeafSnapshot._

/** Adtributor and RevRecAdtributor on a collected [[LeafSnapshot]]: each
  * node's grouping-sets aggregation, scoring and per-dimension scan run as
  * loops over the snapshot, so a small instance costs no Spark job beyond
  * its collect. Candidate selection, top-k, the recursion and the dedup
  * are the algorithms' own driver code.
  *
  * Parity with the Spark path includes the order in which it sums the
  * element frame: `Adtributor.mergeDimensions` shuffles the elements to
  * `pmod(murmur3(key), shufflePartitions)`, and adaptive execution reads
  * that small shuffle back as one partition, map partition by map
  * partition and reducer by reducer, each in first-seen order. The totals,
  * the derived EP total and RevRec's per-dimension sums all run over the
  * elements in that order.
  */
object AdtributorKernel {

  /** One node's element frame, in the Spark path's row order. */
  private final case class Scored(dimIdx: Array[Int], element: Array[String],
      ep: Array[Option[Double]], surprise: Array[Double])

  /** Above this many shuffled bytes adaptive execution may read the
    * element shuffle as more than one partition (its 1 MB minimum
    * partition size), and the element order is no longer modelled. */
  private val MaxElementBytes = 512L * 1024

  private def scored(s: LeafSnapshot, rows: Array[Int], dims: Seq[String],
      derived: Boolean): Scored = {
    val measures =
      if (derived) Seq("real_a", "predict_a", "real_b", "predict_b") else Seq("real", "predict")
    val ms = measures.map(s.measure).toArray
    val cols = dims.map(s.column).toArray
    val nDims = dims.size

    // Expand + partial/final aggregate: per (dim, value) sums in row order
    val ids = collection.mutable.HashMap.empty[(Int, String), Int]
    val dimOf = collection.mutable.ArrayBuffer.empty[Int]
    val valueOf = collection.mutable.ArrayBuffer.empty[String]
    val firstPart = collection.mutable.ArrayBuffer.empty[Int]
    val sums = new GroupedSums(ms.length)
    rows.foreach { i =>
      val p = s.part(i)
      var d = 0
      while (d < nDims) {
        val v = cols(d)(i)
        val g = ids.getOrElseUpdate((d, v), {
          dimOf += d; valueOf += v; firstPart += p; dimOf.size - 1
        })
        var m = 0
        while (m < ms.length) { sums.add(p, g, m, ms(m)(i)); m += 1 }
        d += 1
      }
    }
    val nElems = dimOf.size
    val bytes = (0 until nElems).map(g => 16L + 8L * (nDims + 1 + ms.length) +
      (valueOf(g).getBytes("UTF-8").length + 7) / 8 * 8).sum
    if (bytes > MaxElementBytes) unsupported(s"element frame of $bytes bytes")

    // the final aggregate's output order: map partition, reducer, first seen
    val reducer = new Reducer(nDims, withLong = true, s.shufflePartitions)
    val allBits = (1L << nDims) - 1
    val order = (0 until nElems).sortBy { g =>
      val key = Seq.tabulate(nDims)(d => if (d == dimOf(g)) valueOf(g) else null)
      (firstPart(g), reducer(key, allBits - (1L << (nDims - 1 - dimOf(g)))), g)
    }.toArray
    val sum = Array.tabulate(ms.length)(m => order.map(g => sums.sumOrZero(g, m)))

    def total(xs: Array[Double], skip: Double => Boolean = _ => false): Option[Double] = {
      val acc = new GroupedSums(1)
      xs.foreach(x => if (!skip(x)) acc.add(0, 0, 0, x))
      acc.sum(0, 0)
    }
    val t = sum.map(xs => total(xs).get)
    val n = nDims.toDouble
    val ep: Array[Option[Double]] =
      if (derived) {
        val raw = order.indices.map(e => numpyDiv(
          (sum(0)(e) - sum(1)(e)) * t(3) - (sum(2)(e) - sum(3)(e)) * t(1),
          t(3) * (t(3) + sum(2)(e) - sum(3)(e)))).toArray
        val epTotal = total(raw, _.isNaN)
        raw.map(r => epTotal.flatMap(divide(r, _)))
      } else
        order.indices.map(e => Some(numpyDiv(sum(0)(e) - sum(1)(e), t(0) - t(1)))).toArray[Option[Double]]
    val surprise = order.indices.map { e =>
      if (derived)
        surpriseOf(sum(0)(e), sum(1)(e), t(0) / n, t(1) / n) +
          surpriseOf(sum(2)(e), sum(3)(e), t(2) / n, t(3) / n)
      else surpriseOf(sum(0)(e), sum(1)(e), t(0) / n, t(1) / n)
    }.toArray
    Scored(order.map(dimOf), order.map(valueOf), ep, surprise)
  }

  /** [[graft.functions.Scores.surprise]], NULLs included. */
  private def surpriseOf(real: Double, predict: Double, totalReal: Double,
      totalPredict: Double): Double = {
    def term(x: Option[Double], y: Option[Double]): Double = (x, y) match {
      case (Some(a), _) if a == 0.0 => 0.0
      case (Some(a), Some(b)) if a + b == 0.0 => 0.0
      case (Some(a), Some(b)) =>
        val q = 2.0 * a / (a + b)
        if (q <= 0.0) 0.0
        else { val v = a * StrictMath.log(q); if (v.isNaN) 0.0 else v }
      case _ => 0.0
    }
    val p = divide(predict, totalPredict)
    val q = divide(real, totalReal)
    0.5 * (term(p, q) + term(q, p))
  }

  private def passes(ep: Option[Double], teep: Double): Boolean =
    ep.exists(e => !e.isNaN && cmp(e, teep) > 0)

  /** [[Adtributor.run]] on the snapshot. */
  def adtributor(s: LeafSnapshot, opt: Adtributor.Options = Adtributor.Options())
      : Seq[Adtributor.Candidate] = {
    val dims = s.attributes
    val sc = scored(s, Array.range(0, s.size), dims, opt.derived)
    val byDim = dims.indices.flatMap { d =>
      // rank order: surprise desc, element asc
      val ranked = sc.dimIdx.indices.filter(sc.dimIdx(_) == d).sortWith { (x, y) =>
        val c = cmp(sc.surprise(x), sc.surprise(y))
        c > 0 || (c == 0 && utf8Order.lt(sc.element(x), sc.element(y)))
      }
      // the running EP sum over the passing elements
      var cum = 0.0
      val hit = ranked.indexWhere { e =>
        passes(sc.ep(e), opt.teep) && { cum += sc.ep(e).get; cmp(cum, opt.tep) > 0 }
      }
      if (hit < 0) None
      else {
        val upTo = ranked.take(hit + 1)
        Some(dims(d) -> Adtributor.Candidate(dims(d),
          upTo.filter(e => passes(sc.ep(e), opt.teep)).map(sc.element),
          cum, 0.0 + upTo.map(sc.surprise).foldLeft(0.0)(_ + _)))
      }
    }.toMap
    Adtributor.topKBySurprise(dims, byDim, opt.k)(_.surprise)
  }

  /** [[RevRecAdtributor.run]] on the snapshot. */
  def revRec(s: LeafSnapshot, opt: RevRecAdtributor.Options = RevRecAdtributor.Options())
      : Seq[RevRecAdtributor.Candidate] = {
    val dimReducer = new Reducer(1, withLong = false, s.shufflePartitions)
    def node(rows: Array[Int], dims: Seq[String],
        o: RevRecAdtributor.Options): Seq[RevRecAdtributor.Candidate] = {
      val sc = scored(s, rows, dims, o.derived)
      // the per-dimension aggregate's output order: reducer, first seen
      val dimOrder = sc.dimIdx.distinct.sortBy(d => dimReducer(Seq(dims(d)))).toSeq
      val byDim = dimOrder.flatMap { d =>
        val es = sc.dimIdx.indices.filter(sc.dimIdx(_) == d)
        val cands = es.filter(e => passes(sc.ep(e), o.teep))
        val ep = new GroupedSums(2)
        cands.foreach { e => ep.add(0, 0, 0, sc.ep(e).get); ep.add(0, 0, 1, sc.surprise(e)) }
        RevRecAdtributor.dimCandidate(dims(d), cands.map(sc.element).sorted(utf8Order),
          ep.sum(0, 0), ep.sum(0, 1), es.size.toLong, cands.size.toLong, o)
      }.toMap
      Adtributor.topKBySurprise(dims, byDim, o.k)(_.surprise)
    }
    RevRecAdtributor.drillDown[Array[Int]](Array.range(0, s.size), s.attributes, opt,
      depth = 0, concurrentDepth = 0, node,
      (rows, dim, value) => { val c = s.column(dim); rows.filter(c(_) == value) })
  }
}
