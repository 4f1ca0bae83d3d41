package graft.algorithms

import graft.kernels.Kernels
import graft.model.{Element, Labels}
import graft.operators.Cuboids
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Squeeze (Li et al., ISSRE'19) — generalized-ripple root-cause search
  * over density-clustered deviation groups. Reference behavior: the
  * algorithms/squeeze package.
  *
  * Spark-first redesign of the reference's positional-index machinery:
  *  - clusters are DEVIATION-INTERVAL predicates (the reference's own
  *    interval re-expansion, squeeze.py:119-126, makes clusters pure
  *    functions of the deviation value), so membership is a Column, and
  *    no row positions ever cross a shuffle;
  *  - each (cluster, layer) runs ONE multi-cuboid expand-aggregation for
  *    per-element statistics plus ONE batched pass computing the
  *    ripple-adjusted L1 terms for every partition prefix p=1..12 of every
  *    cuboid simultaneously (conditional sums over a broadcast rank map);
  *  - only the deviation/|v-f| vectors (for the KDE knee filter and the
  *    histogram clustering — distribution-level statistics; sample at
  *    extreme scale) and per-element summaries reach the driver.
  */
object Squeeze {

  final case class Options(
      enableFilter: Boolean = true,
      maxNormalDeviation: Double = 0.2,
      autoNormalDeviation: Boolean = false,
      scoreWeight: Option[Double] = None, // None = 'auto'
      psUpperBound: Double = 0.9,
      maxNumElements: Int = 12,
      derived: Boolean = false,
      /** Driver-side distribution-statistics cap (knee filter + histogram
        * clustering inputs). Above it the (deviation, metric) vectors are
        * thinned by a DETERMINISTIC leaf-hash filter (keep leaves with
        * xxhash64(attrs) % K == 0, K = ceil(n/cap)) before the collect —
        * the same leaves in the sequential and batch paths regardless of
        * partitioning, so BatchSqueeze == Squeeze stays exact at any
        * scale. Below the cap (every test/gate input) the path is
        * untouched and bit-exact to the reference. 24M-row instances
        * collected 2 x 192 MB per instance and blew
        * spark.driver.maxResultSize in the r7 H rehearsal. */
      statSampleCap: Long = 2000000L,
      /** Per-cluster/per-cuboid debug tracing (mirrors tools/sq_trace_ref.py). */
      trace: String => Unit = _ => ())

  /** Squeeze's own leaf deviation: (f-v)/(f+v), NaN -> 0
    * (squeeze.py:354-364; note: no factor 2). */
  private[algorithms] val deviationCol: Column =
    when(col("predict") + col("real") === 0.0, 0.0)
      .otherwise((col("predict") - col("real")) / (col("predict") + col("real")))

  /** KPI filter knee (anomaly_amount_fileter.py): KDE-CDF of |v-f|,
    * Kneedle knee, keep metrics > knee. */
  def kpiFilterKnee(metrics: Array[Double]): Double = {
    val kde = Kernels.GaussianKde(metrics)
    val xs = Kernels.linspace(metrics.min, metrics.max, 1000)
    val dens = kde.evaluate(xs)
    val cdf = dens.scanLeft(0.0)(_ + _).drop(1)
    Kernels.kneedle(xs, cdf, s = 1.0).getOrElse(metrics.min)
  }

  /** Histogram density clustering (density_cluster.py:18-140): returns
    * deviation intervals [lo, hi] of each cluster. */
  def clusterIntervals(devs: Array[Double], opt: Options): Seq[(Double, Double)] = {
    if (devs.isEmpty) return Seq.empty
    // edges: numpy auto + 5 extra 0.1-spaced bins after the last (the
    // reference's left padding is a no-op: range(-5,0,-1) is empty)
    val baseEdges = Kernels.histogramBinEdgesAuto(devs)
    val edges = baseEdges ++ (1 to 5).map(i => baseEdges.last + 0.1 * i)
    val h = Kernels.histogramDensity(devs, edges).map(_ / 100.0)
    val bins = Array.tabulate(edges.length - 1)(i => (edges(i) + edges(i + 1)) / 2.0)

    val window = math.max(h.count(_ > 0) / 10, 1) // 'auto'
    val smoothed = Kernels.smooth(h, window)

    val maxIdx = Kernels.argrelextrema(smoothed, _ > _, wrap = true).filter(smoothed(_) > 0)
    val minIdx = Kernels.argrelextrema(smoothed, _ <= _, wrap = true)
    val boundaries = (Double.NegativeInfinity +: minIdx.map(bins).toSeq :+ Double.PositiveInfinity).toArray
    opt.trace(s"DCLUSTER nbins=${bins.length} maxidx=${maxIdx.mkString("[", ", ", "]")} " +
      s"minidx=${minIdx.mkString("[", ", ", "]")}")
    opt.trace(s"  DENS ${smoothed.map(java.lang.Double.toHexString).mkString("[", ", ", "]")}")
    opt.trace(s"  BINS ${bins.map(java.lang.Double.toHexString).mkString("[", ", ", "]")}")

    val maxNormal =
      if (opt.autoNormalDeviation) devs.map(math.abs).sum / devs.length
      else opt.maxNormalDeviation

    maxIdx.toSeq.flatMap { idx =>
      val x = bins(idx)
      // searchsorted semantics: left boundary = last boundary <= x (right
      // side - 1), right = first boundary >= x (left side)
      val right = boundaries(lowerBound(boundaries, x))
      val left = boundaries(upperBound(boundaries, x) - 1)
      val members = devs.filter(d => d >= left && d <= right)
      val mu = if (members.isEmpty) Double.NaN
               else members.map(math.abs).sum / members.length
      opt.trace(s"  MAX idx=$idx bin=$x lb=$left rb=$right n=${members.length} mu=$mu")
      if (members.isEmpty) None
      else {
        if (math.abs(mu) < maxNormal) None
        else Some((members.min, members.max))
      }
    }
  }

  // first index with arr(i) >= x (numpy searchsorted side='left')
  private def lowerBound(arr: Array[Double], x: Double): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) { val m = (lo + hi) / 2; if (arr(m) < x) lo = m + 1 else hi = m }
    lo
  }
  // first index with arr(i) > x (side='right')
  private def upperBound(arr: Array[Double], x: Double): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) { val m = (lo + hi) / 2; if (arr(m) <= x) lo = m + 1 else hi = m }
    lo
  }

  private[algorithms] def divideGuard(x: Double, y: Double): Double =
    if (y > 0) x / y else if (x == 0) 0.0 else Double.PositiveInfinity

  def run(df0: DataFrame, attributes: Seq[String], opt: Options = Options()): Seq[String] = {
    // validity filter + derived measure + clamp (squeeze.py:28-36)
    var df =
      if (opt.derived)
        df0.filter(col("predict_a") > 0 && col("predict_b") > 0)
          .withColumn("real", graft.functions.Scores.safeDiv(col("real_a"), col("real_b")))
          .withColumn("predict", graft.functions.Scores.safeDiv(col("predict_a"), col("predict_b")))
      else df0.filter(col("predict") > 0)
    val base = df.persist(StorageLevel.MEMORY_AND_DISK)
    // min(real) and the attribute cardinalities in ONE action (VERDICT r6
    // #2): cardinalities ignore the negative-real shift, so both are
    // computable on the pre-shift frame.
    val firstRow = base.agg(min("real").as("min_real"),
      attributes.map(a => countDistinct(col(a)).as(s"card_$a")) :+
        count(lit(1)).as("n_rows"): _*).collect()(0)
    if (firstRow.isNullAt(0)) { base.unpersist(); return Seq.empty } // empty frame
    val minReal = firstRow.getDouble(0)
    val numAttr = (1 to attributes.size).map(firstRow.getLong).sum.toDouble
    val nRows = firstRow.getLong(attributes.size + 1)
    df = if (minReal < 0) base.withColumn("real", col("real") - minReal) else base
    df = df.withColumn("deviation", deviationCol).persist(StorageLevel.MEMORY_AND_DISK)

    // Driver-side distribution statistics via the collect_vector
    // TypedImperativeAggregate (primitive partial buffers, no Row
    // shipping). The two vectors come from ONE aggregation so they stay
    // row-aligned (the leaf count rides along — no separate count action);
    // pairs are then sorted for a deterministic order (shuffle-merge order
    // is not).
    // above statSampleCap: deterministic leaf-hash thinning (same leaves
    // in BatchSqueeze — Options.statSampleCap doc)
    val sampleK =
      if (nRows > opt.statSampleCap) (nRows + opt.statSampleCap - 1) / opt.statSampleCap else 1L
    val vecSrc =
      if (sampleK > 1)
        df.filter(pmod(xxhash64(attributes.map(col): _*), lit(sampleK)) === 0)
      else df
    val vecRow = vecSrc.agg(
      graft.functions.VectorAgg.collectVector(col("deviation")).as("devs"),
      graft.functions.VectorAgg.collectVector(abs(col("real") - col("predict"))).as("metrics"),
      count(lit(1)).as("n"))
      .collect()(0)
    val nLeaves = vecRow.getLong(2) // sampled basis — consistent with devs/metrics
    if (nLeaves == 0) { df.unpersist(); base.unpersist(); return Seq.empty }
    val pairs = vecRow.getSeq[Double](0).zip(vecRow.getSeq[Double](1)).sorted.toArray
    val devs = pairs.map(_._1)
    val metrics = pairs.map(_._2)

    val cl = clusters(devs, metrics, numAttr, nLeaves, opt).getOrElse {
      df.unpersist(); base.unpersist(); return Seq.empty
    }
    val isNormal: Column = abs(col("deviation")) < cl.normalThreshold
    val intervals = cl.intervals

    // Per-cluster subset totals (count + L1 mass of cluster ∪ normal) for
    // ALL clusters in ONE action (VERDICT r6 #2): they depend only on the
    // cluster interval, not the layer, so the old per-layer recomputation
    // inside locateInCluster collapses into this single batched agg.
    // Round 13: the action runs on a background driver thread — the
    // cluster searches need the totals only at scoring time (after their
    // first stats collect), so it overlaps their first pass instead of
    // serializing ahead of them.
    val subTotalsFuture = new java.util.concurrent.FutureTask[Seq[(Long, Array[Long])]](() => {
      val subTotalsRow = df.agg(
        count(when(clusterSubset(intervals.head, isNormal), lit(1))),
        intervals.tail.flatMap { iv => Seq(
          count(when(clusterSubset(iv, isNormal), lit(1)))) } ++
        intervals.map { iv =>
          graft.functions.ExactSumAgg.exactSum(
            when(clusterSubset(iv, isNormal), abs(col("real") - col("predict"))).otherwise(0.0)) }: _*)
        .collect()(0)
      intervals.indices.map { i =>
        (subTotalsRow.getLong(i),
          graft.kernels.ExactSum.deserialize(subTotalsRow.getAs[Array[Byte]](intervals.size + i))) }
    })
    locally {
      val t = new Thread(subTotalsFuture, "graft-squeeze-subtotals")
      t.setDaemon(true); t.start()
    }

    // Cluster searches are independent (read-only over the shared cached
    // frame): run them on concurrent driver threads so their many small
    // jobs interleave instead of serializing driver round-trips. Results
    // keep interval order; per-cluster arithmetic is unchanged. Each
    // thread traces into a private buffer, flushed in interval order
    // after the join — concurrent runs emit the SAME trace stream as the
    // sequential loop did (RefTrace diffs against the reference rely on
    // deterministic line order).
    val rootCauses =
      try graft.core.Concurrency.awaitAll(
        intervals.zipWithIndex.map { case (iv, idx) => () => {
          val buf = collection.mutable.ArrayBuffer.empty[String]
          val rc = locateInCluster(attributes, devs, iv, cl.scoreWeight,
            () => subTotalsFuture.get()(idx), new SparkPasses(df, iv, isNormal, opt.derived),
            opt.copy(trace = buf.append(_)))
          (rc, buf)
        } })
        .map { case (rc, buf) => buf.foreach(opt.trace); rc }
        .collect { case Some(rc) => rc }
      // ADVICE r13: if the cluster searches unwind (failure/interrupt)
      // before any get(), the detached totals action must not keep running
      // as a zombie job — cancel is a no-op once the task completed
      finally subTotalsFuture.cancel(true)

    df.unpersist(); base.unpersist()
    predictionsOf(attributes, rootCauses)
  }

  /** The clusters of one search and their scoring constants. */
  private[algorithms] final case class Clusters(intervals: Seq[(Double, Double)],
      normalThreshold: Double, scoreWeight: Double)

  /** The driver half of the clustering (squeeze.py:60-126, 281-300): KPI
    * knee filter, histogram clustering, the normal threshold and the auto
    * score weight, from every leaf's (deviation, |v-f|) pair sorted.
    * `numAttr`: the summed attribute cardinalities. None when no cluster
    * remains. */
  private[algorithms] def clusters(devs: Array[Double], metrics: Array[Double],
      numAttr: Double, nLeaves: Long, opt: Options): Option[Clusters] = {
    val filteredDevs =
      if (opt.enableFilter) {
        val knee = kpiFilterKnee(metrics)
        opt.trace(s"KPIFILTER n=${metrics.length} knee=$knee " +
          s"metmin=${metrics.min} metmax=${metrics.max}")
        devs.zip(metrics).collect { case (d, m) if m > knee => d }
      } else devs
    if (filteredDevs.isEmpty) return None

    val intervals = clusterIntervals(filteredDevs, opt)
    opt.trace(s"ONEDIM in=${filteredDevs.length} clusters=" +
      intervals.map { case (lo, hi) => filteredDevs.count(d => d >= lo && d <= hi) }
        .mkString("[", ", ", "]"))
    if (intervals.isEmpty) return None

    // interval re-expansion over ALL leaves (squeeze.py:119-126)
    val clusterSizes = intervals.map { case (lo, hi) => devs.count(d => d >= lo && d <= hi).toLong }

    // normal set: |dev| < (signed) deviation of the abnormal leaf with the
    // smallest |dev| (squeeze.py:100-107 — RHS is intentionally unsigned-
    // compared against the signed value, replicated exactly)
    val abnormalDevs = devs.filter(d => intervals.exists { case (lo, hi) => d >= lo && d <= hi })
    // |d|-ties resolve to the smaller signed value: deterministic under any
    // collection order (the reference's row order is itself arbitrary here)
    val normalThreshold = abnormalDevs.minBy(d => (math.abs(d), d))
    opt.trace(s"NORMAL thr=$normalThreshold n_normal=${devs.count(d => math.abs(d) < normalThreshold)} " +
      s"n_abn=${abnormalDevs.length}")

    // auto score weight (squeeze.py:281-300, revised formula)
    val nClusters = intervals.size
    val scoreWeight = opt.scoreWeight.getOrElse {
      val gCluster = math.log(nClusters + 1.0) / nClusters
      val gAttribute = numAttr / math.log(numAttr + 1.0)
      val gCoverage = -math.log(clusterSizes.sum.toDouble / nLeaves)
      gCluster * gAttribute * gCoverage
    }
    Some(Clusters(intervals, normalThreshold, scoreWeight))
  }

  /** The per-cluster root causes as canonical prediction strings
    * (squeeze.py:65-70). */
  private[algorithms] def predictionsOf(attributes: Seq[String],
      rootCauses: Seq[Seq[Element]]): Seq[String] =
    Labels.canonicalPredictions(
      numpyUniqueRootCauses(rootCauses)
        .map(rc => frozensetOrder(attributes, rc).map(_.label).mkString(";")))

  /** np.unique over the per-cluster root causes (squeeze.py:65-70,
    * root_cause_string_list): numpy sorts the OBJECT array of frozensets
    * (generic introsort; Py_LT on frozensets is PROPER SUBSET, a partial
    * order) and keeps entries that differ from their left neighbour —
    * the FIRST object of each adjacent-equal run survives. Dedup must
    * compare element SETS, not strings: two clusters can pick the same
    * set through different argsort orders, and the string (frozenset
    * iteration order, which depends on insertion order under hash
    * collisions) then differs between them — a string `.distinct` keeps
    * both where the reference keeps one (GEN_SWEEP_S.md r9, file
    * 512592). The surviving object's OWN insertion order feeds
    * [[frozensetOrder]], exactly like the reference stringifies the
    * surviving frozenset. */
  private[algorithms] def numpyUniqueRootCauses(rcs: Seq[Seq[Element]]): Seq[Seq[Element]] = {
    if (rcs.length < 2) return rcs
    val arr: Array[(Seq[Element], Set[String])] =
      rcs.map(rc => (rc, rc.map(_.label).toSet)).toArray
    graft.kernels.NumpyArgsort.sortObjects[(Seq[Element], Set[String])](arr,
      (x, y) => x._2 != y._2 && x._2.subsetOf(y._2))
    val out = collection.mutable.ArrayBuffer(arr(0)._1)
    for (i <- 1 until arr.length if arr(i)._2 != arr(i - 1)._2) out += arr(i)._1
    out.toSeq
  }

  /** Unique element-sets -> canonical strings (squeeze.py:65-70). The
    * reference joins each root cause's elements in frozenset(ret)
    * ITERATION order (AC.batch_to_string) — CPython hash-table order of
    * the AC tuple hashes, replicated via PyHash/PySet. The ';' order is
    * observable: evaluation only '&'-sorts within elements, so a
    * compound string keeps this order. */
  private[algorithms] def frozensetOrder(attributes: Seq[String], elems: Seq[Element]): Seq[Element] = {
    // AC.__hash__ hashes the FULL sorted-key id including the
    // ('attr', '__ANY__') pairs of unset attributes
    // (attribute_combination.py:20-35)
    val sortedAttrs = attributes.sorted
    val acHash: Element => Long = { e =>
      val m = e.pairs.toMap
      graft.kernels.PyHash.tupleHash(sortedAttrs.map { k =>
        val v = m.getOrElse(k, "__ANY__")
        graft.kernels.PyHash.tupleHash(Seq(
          graft.kernels.PyHash.strHash(k), graft.kernels.PyHash.strHash(v)))
      })
    }
    graft.kernels.PyHash.PySet.of(elems, acHash).toList
  }

  /** Membership predicate of a cluster's subset (cluster ∪ normal). */
  private def clusterSubset(interval: (Double, Double), isNormal: Column): Column =
    (col("deviation") >= interval._1 && col("deviation") <= interval._2) || isNormal

  /** One element of a cuboid over a cluster's leaves (pass 1): its leaf
    * counts over the cluster, over all leaves and over the subset (cluster
    * ∪ normal), and the subset's EXACT masses. A mass the mode never reads
    * is an empty accumulator. */
  private[algorithms] final case class ElementStats(key: Seq[String],
      nAbn: Long, nAll: Long, nSub: Long,
      sv: Array[Long], sf: Array[Long], l1: Array[Long],
      sva: Array[Long], svb: Array[Long], sfa: Array[Long], sfb: Array[Long])

  /** A cuboid's abnormal elements in descent order, the partition count
    * and the ripple ratio of each partition prefix. */
  private[algorithms] final case class Plan(cid: Int, elems: Array[ElementStats],
      partitions: Int, ratios: Array[Double])

  /** The two aggregation passes of one cluster's layer, over the cuboids
    * of that layer (cuboid id = index in `cuboids`): as Spark jobs
    * ([[SparkPasses]]) or as loops over collected leaves
    * ([[SqueezeKernel]]). */
  private[algorithms] trait LayerPasses {
    /** Pass 1: every element of every cuboid, by cuboid id. */
    def elements(cuboids: Seq[Seq[String]]): Map[Int, Seq[ElementStats]]
    /** Pass 2, for the plans with partitions: per cuboid id, element p-1
      * is the exact sum of |v - f·ratios(p-1)| over the subset leaves of
      * the plan's first p elements. */
    def rippleL1(cuboids: Seq[Seq[String]], plans: Seq[Plan]): Map[Int, Array[Double]]
  }

  /** [[LayerPasses]] as Spark jobs over the cached leaf frame. */
  private final class SparkPasses(df: DataFrame, interval: (Double, Double),
      isNormal: Column, derived: Boolean) extends LayerPasses {
    private val inCluster: Column =
      col("deviation") >= interval._1 && col("deviation") <= interval._2
    private val inSubset: Column = inCluster || isNormal
    // a/b measure components exist only for derived datasets
    private def derivedColOr(name: String): Column =
      if (df.columns.contains(name)) col(name) else lit(0.0)

    def elements(cuboids: Seq[Seq[String]]): Map[Int, Seq[ElementStats]] = {
      // NOT persisted: the explode is a narrow projection of a cached
      // parent multiplied by the cuboid count; caching that blowup spills
      // at H scale (block-manager eviction lock pileup, VERDICT r7) while
      // recomputing it per consuming pass is map-side CPU only.
      val exploded = Cuboids.expand(df, cuboids)

      // Every double mass is an EXACT sum (graft.kernels.ExactSum): the
      // score arithmetic downstream must be a function of the row SET
      // alone — the reference ties cuboids exactly when their partitions
      // select the same rows, and a plain shuffle-order `sum` loses those
      // ties (GEN_SWEEP_S.md r9). Counts stay plain (already exact).
      import graft.functions.ExactSumAgg.exactSum
      // Mode-dead masses are NOT summed (VERDICT r10 #2): the partition
      // ratio uses cv/cf in fundamental mode and the four component sums
      // in derived mode — the other side is never read downstream, and
      // per-row exact_sum updates are the dominant pass-1 CPU at H scale,
      // so the dead columns aggregate a null binary instead.
      def deadMass = first(lit(null).cast("binary"))
      def esIf(live: Boolean, c: => Column) = if (live) exactSum(c) else deadMass
      val rows = exploded
        .groupBy(col("cb.cid").as("cid"), col("cb.key").as("key"))
        .agg(
          count(when(inCluster, lit(1))).as("n_abn"),
          count(lit(1)).as("n_all"),
          count(when(inSubset, lit(1))).as("n_sub"),
          esIf(!derived, when(inSubset, col("real")).otherwise(0.0)).as("sv_sub"),
          esIf(!derived, when(inSubset, col("predict")).otherwise(0.0)).as("sf_sub"),
          exactSum(when(inSubset, abs(col("real") - col("predict"))).otherwise(0.0)).as("l1_sub"),
          // derived mode: the ripple ratio sums the MEASURE COMPONENTS
          // first and divides after (get_derived_dataframe reduction='sum'
          // applies op to the summed a/b frames, squeeze.py:325-335) — a
          // sum of per-row ratios is a different number entirely
          esIf(derived, when(inSubset, derivedColOr("real_a")).otherwise(0.0)).as("sva"),
          esIf(derived, when(inSubset, derivedColOr("real_b")).otherwise(0.0)).as("svb"),
          esIf(derived, when(inSubset, derivedColOr("predict_a")).otherwise(0.0)).as("sfa"),
          esIf(derived, when(inSubset, derivedColOr("predict_b")).otherwise(0.0)).as("sfb"))
        .collect()
      import graft.kernels.ExactSum
      // mode-dead mass columns come back null -> empty accumulator
      def des(r: Row, i: Int): Array[Long] = r.getAs[Array[Byte]](i) match {
        case null => ExactSum.newAcc()
        case b => ExactSum.deserialize(b)
      }
      rows.toSeq.groupMap(_.getInt(0))(r => ElementStats(r.getSeq[String](1),
        r.getLong(2), r.getLong(3), r.getLong(4),
        des(r, 5), des(r, 6), des(r, 7), des(r, 8), des(r, 9), des(r, 10), des(r, 11)))
    }

    def rippleL1(cuboids: Seq[Seq[String]], plans: Seq[Plan]): Map[Int, Array[Double]] = {
      // L1(v1, f1*ratio_p) for all cuboids and partitions at once
      val spark = df.sparkSession
      import spark.implicits._
      val live = plans.filter(_.partitions > 0)
      val maxP = live.map(_.partitions).max
      val rankRows = live.flatMap(pl => pl.elems.take(pl.partitions).zipWithIndex
        .map { case (e, i) => (pl.cid, e.key, i + 1) })
      val ratioRows = live.map(pl => (pl.cid, pl.ratios.toSeq))
      val rankDf = rankRows.toDF("rcid", "rkey", "rank")
      val ratioDf = ratioRows.toDF("tcid", "ratios")
      val l1a = (1 to maxP).map(p =>
        graft.functions.ExactSumAgg.exactSum(when(col("rank") <= p,
          abs(col("real") - col("predict") * element_at(col("ratios"), p)))
          .otherwise(0.0)).as(s"l1a_$p"))

      Cuboids.expand(df, cuboids)
        .filter(inSubset)
        .join(broadcast(rankDf), col("cb.cid") === col("rcid") && col("cb.key") === col("rkey"))
        .join(broadcast(ratioDf), col("cb.cid") === col("tcid"))
        .groupBy(col("rcid").as("cid"))
        .agg(l1a.head, l1a.tail: _*)
        .collect().map(r => r.getInt(0) -> Array.tabulate(maxP)(p =>
          graft.kernels.ExactSum.valueOfBytes(r.getAs[Array[Byte]](p + 1)))).toMap
    }
  }

  /** A cuboid's plan from its pass-1 elements; None without an abnormal
    * element. */
  private[algorithms] def plan(cid: Int, all: Seq[ElementStats], opt: Options): Option[Plan] = {
    import graft.kernels.ExactSum
    val nDistinctIdx = all.length // distinct cuboid tuples in full data
    val abn = all.filter(_.nAbn > 0)
    if (abn.isEmpty) return None
    // Reference element order (squeeze.py:148-161): np.unique sorts
    // elements by their value tuple (AC.__lt__ on the sorted-key id;
    // NUL-joined strings compare identically for same-arity tuples),
    // then descent = n_abn / max(n_all, 1e-4) is ranked by
    // np.argsort(...)[::-1] — NOT stable: the reversed tie
    // permutation decides which elements enter each partition prefix.
    val base = abn.sortBy(_.key.mkString(graft.core.Canonical.NulSep)).toArray
    val descent = base.map(e => e.nAbn.toDouble / math.max(e.nAll.toDouble, 1e-4))
    val ordered = graft.kernels.NumpyArgsort.argsort(descent).reverse.map(base)
    val nPart = math.min(math.min(ordered.length, opt.maxNumElements), nDistinctIdx - 1)
    if (nPart <= 0) return Some(Plan(cid, ordered, 0, Array.empty))
    // cumulative prefixes as exact merges: the prefix mass equals
    // the exact sum over the prefix ROWS regardless of the
    // per-element grouping, so two cuboids covering the same rows
    // get bitwise-equal ratios (reference tie semantics)
    val ratios = new Array[Double](nPart)
    val cv = ExactSum.newAcc(); val cf = ExactSum.newAcc()
    val cva = ExactSum.newAcc(); val cvb = ExactSum.newAcc()
    val cfa = ExactSum.newAcc(); val cfb = ExactSum.newAcc()
    for (p <- 1 to nPart) {
      val e = ordered(p - 1)
      ExactSum.merge(cv, e.sv); ExactSum.merge(cf, e.sf)
      ExactSum.merge(cva, e.sva); ExactSum.merge(cvb, e.svb)
      ExactSum.merge(cfa, e.sfa); ExactSum.merge(cfb, e.sfb)
      // reference: plain np division — inf/NaN propagate into ps
      ratios(p - 1) =
        if (opt.derived)
          (ExactSum.value(cva) / ExactSum.value(cvb)) /
            (ExactSum.value(cfa) / ExactSum.value(cfb))
        else ExactSum.value(cv) / ExactSum.value(cf)
    }
    Some(Plan(cid, ordered, nPart, ratios))
  }

  /** One cluster's search (squeeze.py:241-275), with its CLUSTER, CUBOID
    * and PICK trace lines. Returns the root cause as a set of Elements.
    * `devs`: every leaf's deviation. `subTotal` yields the cluster's
    * subset totals (count + L1 mass), first read at scoring time — after
    * this cluster's own first pass, so a caller can compute them in the
    * background. */
  private[algorithms] def locateInCluster(
      attributes: Seq[String], devs: Array[Double], interval: (Double, Double),
      scoreWeight: Double, subTotal: () => (Long, Array[Long]),
      passes: LayerPasses, opt: Options): Option[Seq[Element]] = {
    val (lo, hi) = interval
    val members = devs.filter(d => d >= lo && d <= hi)
    opt.trace(s"CLUSTER n=${members.length} devmin=${members.min} devmax=${members.max}")
    lazy val (nSubTotal, l1SubTotal) = subTotal()

    case class CuboidResult(cid: Int, layer: Int, rc: Seq[Element], score: Double, nEle: Int) {
      def rank: Double = score * scoreWeight - nEle.toDouble * layer
    }
    val results = collection.mutable.ArrayBuffer.empty[CuboidResult]
    var layer = 1
    var break = false
    while (layer <= attributes.size && !break) {
      val cuboids = attributes.combinations(layer).toSeq
      val plans = passes.elements(cuboids).toSeq.sortBy(_._1)
        .flatMap { case (cid, elems) => plan(cid, elems, opt) }
      val l1Terms: Map[Int, Array[Double]] =
        if (plans.exists(_.partitions > 0)) passes.rippleL1(cuboids, plans) else Map.empty

      // One result per cuboid IN COMBINATION ORDER (the cluster-level rank
      // sort is stable, so tied ranks resolve by this order —
      // squeeze.py:249-268).
      for (pl <- plans) {
        val cuboid = cuboids(pl.cid)
        if (pl.partitions <= 0) {
          // Degenerate cuboid: the reference returns (all abnormal
          // elements, -inf), still selectable when every cuboid is
          // degenerate (squeeze.py:223-228).
          val rc = pl.elems.map(e => Element(cuboid, e.key)).toSeq
          opt.trace(s"  CUBOID ${cuboid.mkString(",")} n_rc=${rc.size} score=-inf " +
            s"rc=${rc.map(_.label).mkString(";")}")
          results += CuboidResult(pl.cid, layer, rc, Double.NegativeInfinity, pl.elems.length)
        } else {
          val l1a = l1Terms.get(pl.cid)
          var cumN = 0L
          val cumL1 = graft.kernels.ExactSum.newAcc()
          val scores = new Array[Double](pl.partitions)
          for (p <- 1 to pl.partitions) {
            cumN += pl.elems(p - 1).nSub
            graft.kernels.ExactSum.merge(cumL1, pl.elems(p - 1).l1)
            val n1 = cumN.toDouble
            val n2 = (nSubTotal - cumN).toDouble
            val l1v1f1 = graft.kernels.ExactSum.value(cumL1)
            // empty complement: its L1 is definitionally 0. With exact
            // accumulators the complement mass is total MINUS prefix
            // computed exactly (no subtraction residual), so it equals
            // the exact sum over the complement rows themselves
            val l1v2f2 =
              if (n2 == 0) 0.0
              else {
                val c = graft.kernels.ExactSum.copy(l1SubTotal)
                graft.kernels.ExactSum.merge(c, graft.kernels.ExactSum.negated(cumL1))
                graft.kernels.ExactSum.value(c)
              }
            val l1v1a1 = l1a.map(_(p - 1)).getOrElse(0.0)
            val denom = divideGuard(l1v1f1, n1) + divideGuard(l1v2f2, n2)
            val num = divideGuard(l1v1a1, n1) + divideGuard(l1v2f2, n2)
            val ps = 1.0 - num / denom
            scores(p - 1) = ps
          }
          // np.argsort(rc_scores)[::-1][0] (squeeze.py:232-238): max score
          // with ties resolved to the LARGER partition, and NaN scores —
          // argsort-greatest — selected first after the reversal
          val order = graft.kernels.NumpyArgsort.argsort(scores)
          val bestP = order(order.length - 1) + 1
          val bestScore = scores(bestP - 1)
          val rc = pl.elems.take(bestP).map(e => Element(cuboid, e.key)).toSeq
          opt.trace(s"  CUBOID ${cuboid.mkString(",")} n_rc=${rc.size} score=$bestScore " +
            s"rc=${rc.map(_.label).mkString(";")}")
          results += CuboidResult(pl.cid, layer, rc, bestScore, bestP)
        }
      }
      if (results.exists(_.score > opt.psUpperBound)) break = true
      layer += 1
    }

    // best rank wins; stable ties keep layer/cuboid enumeration order
    val picked = results.filter(_.rc.nonEmpty).sortBy(r => -r.rank).headOption.map(_.rc)
    picked.foreach(r => opt.trace(s"  PICK ${r.map(_.label).sorted.mkString(";")}"))
    picked
  }
}
