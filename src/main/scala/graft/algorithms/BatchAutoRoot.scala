package graft.algorithms

import graft.model.{Element, RootCause}
import graft.operators.{Cuboids, Snapshots}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** AutoRoot over a UNION of many instance snapshots, batched into one
  * Spark DAG per layer (the BatchRiskLoc/BatchSqueeze pattern; reference
  * flow: algorithms/autoroot.py per instance).
  *
  * Keying: (instance, cluster, cuboid, key). Per-instance KDE cluster
  * boundaries come from ONE corpus-wide `collect_vector` aggregation;
  * cluster assignment is then a broadcast join of a per-instance
  * boundary ARRAY and a higher-order `filter` count — no per-leaf
  * shuffle and no per-instance jobs. Each layer runs the same three
  * aggregation passes as a single instance (tuple counts, then the two
  * NPS statistic passes over value-set-matched selections), corpus-wide.
  *
  * Unlike RiskLoc/Squeeze there is no early exit — the reference always
  * scans every layer — and since the layers are also independent, ALL of
  * them fuse into at most four corpus passes (see the fused section in
  * [[run]]). Per-instance results are pinned equal to [[AutoRoot.run]] by
  * BatchAutoRootSpec.
  *
  * DISPATCH (measured, round 9; RS re-measured round 10): the fused DAG
  * wins 1.6-6.6x over the concurrent per-instance sequential path at
  * every measured shape through 480k rows/instance — and 4.3x on the RS
  * corpus with the expandPairs branch cap (129s vs 549s sequential;
  * uncapped the same fused DAG took 413s there — RS_SWEEP_BATCH.md
  * round-10 section) — is par at 4.8M, and loses ~1.3x at the 24M H
  * shape (H_SCALE.md r9: fused batch 256s vs ~195s for 4 concurrent
  * sequential runs). Runner's default `--mode auto` dispatches from the
  * CROSSOVER.md-measured 4.8M threshold.
  */
object BatchAutoRoot {

  /** Expansion restricted to candidate (instance, cuboid) PAIRS: each
    * instance is expanded over exactly the cuboids that produced its own
    * candidates. The per-row cost of a cuboid pass is dominated by
    * key-array construction and hashing (measured at the 4.8M-row crossover
    * cell: the bare explode is ~free), so the cross product candInstances x candCuboids
    * would pay real CPU for cells the downstream joins must discard.
    * Instances sharing a cuboid set share one union branch; the branch
    * count is capped (each branch is a scan of the cached corpus, so a
    * many-instance corpus with per-instance cuboid sets — e.g. RS's 135
    * cases — would otherwise pay O(instances) scans in the y/stats
    * passes). Above the cap, ONE branch expands the union of all
    * candidate cuboids over all candidate instances: the downstream
    * joins discard the extra (instance, cuboid) cells either way, so
    * the fallback trades bounded per-row expansion CPU for a constant
    * number of corpus scans. */
  private val MaxExpandBranches = 8

  private def expandPairs(base: DataFrame, inst: Column,
      pairs: Seq[(String, Int)], cuboids: Seq[Seq[String]]): DataFrame = {
    val byCuboidSet = pairs.groupBy(_._1).toSeq
      .map { case (i, ps) => (ps.map(_._2).distinct.sorted, i) }
      .groupBy(_._1).toSeq
      .map { case (cids, es) => (cids, es.map(_._2).sorted) }
      .sortBy(_._2.head)
    if (byCuboidSet.size > MaxExpandBranches) {
      val allCids = pairs.map(_._2).distinct.sorted
      val allInsts = pairs.map(_._1).distinct.sorted
      Cuboids.expandIds(base.filter(inst.isin(allInsts: _*)),
        allCids.map(c => c -> cuboids(c)))
    } else byCuboidSet.map { case (cids, insts) =>
      Cuboids.expandIds(base.filter(inst.isin(insts: _*)), cids.map(c => c -> cuboids(c)))
    }.reduce(_ unionByName _)
  }

  /** Whole-corpus AutoRoot: merged root causes per instance. */
  def run(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: AutoRoot.Options = AutoRoot.Options()): Map[String, Seq[RootCause]] = {
    val spark = df0.sparkSession
    import spark.implicits._
    val inst = col(instanceCol)

    val df = Snapshots.withDeviation(df0.withColumn(instanceCol, inst.cast("string")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Instance inventory AND per-instance anomalous-row counts from ONE
    // pass over the cached frame (round 13; previously a distinct-collect
    // over df0 plus a separate count over the anomalous slice — the
    // deviation decoration is a projection, so the instance set is
    // df0's). The same action materializes the persist.
    val instRows = df.groupBy(inst.as("__i")).agg(
      count(lit(1)), count(when(abs(col("deviation")) > 0.2, lit(1))).as("n_anom"))
      .collect()
    val allInstances: Seq[String] = instRows.map(_.getString(0)).toSeq
    val empty: Map[String, Seq[RootCause]] = allInstances.map(_ -> Seq.empty[RootCause]).toMap

    // per-instance anomalous deviation vectors -> KDE minima boundaries.
    // Instances above statSampleCap are thinned by the SAME deterministic
    // leaf-hash filter sequential AutoRoot uses (AutoRoot.Options doc), so
    // Batch == sequential stays exact while the driver collect stays
    // bounded by instances x cap at any per-instance row count.
    val anomalous = df.filter(abs(col("deviation")) > 0.2)
    val anomCounts: Map[String, Long] = instRows
      .collect { case r if r.getLong(2) > 0 => r.getString(0) -> r.getLong(2) }.toMap
    if (anomCounts.isEmpty) { df.unpersist(); return empty }
    val sampleKs = anomCounts.map { case (i, n) =>
      i -> (if (n > opt.statSampleCap) (n + opt.statSampleCap - 1) / opt.statSampleCap else 1L)
    }
    val devSrc =
      if (sampleKs.values.exists(_ > 1L))
        anomalous.join(broadcast(sampleKs.toSeq.toDF("__ki", "__k")), inst === col("__ki"))
          .filter(pmod(xxhash64(attributes.map(col): _*), col("__k")) === 0)
          .drop("__ki", "__k")
      else anomalous
    val devRows = devSrc
      .groupBy(inst.as("__i"))
      .agg(graft.functions.VectorAgg.collectVector(col("deviation")).as("devs"))
      .collect()
    if (devRows.isEmpty) { df.unpersist(); return empty }
    val boundaries: Map[String, Array[Double]] = devRows.map { r =>
      r.getString(0) -> AutoRoot.clusterBoundaries(r.getSeq[Double](1).sorted.toArray)
    }.toMap

    // cluster id = count of boundaries >= the deviation (clusterExpr
    // batched: per-instance boundary ARRAY broadcast in, higher-order
    // `filter` size — identical arithmetic, no per-instance literals)
    val boundDf = boundaries.toSeq.map { case (i, bs) => (i, bs.toSeq) }.toDF("__bi", "__bs")
    val clusterSimple =
      when(abs(col("deviation")) > 0.2,
        when(size(col("__bs")) === 0, lit(1))
          .otherwise(size(filter(col("__bs"), b => col("deviation") <= b))))
        .otherwise(lit(null))

    val withCluster = df.join(broadcast(boundDf), inst === col("__bi"), "left")
      .withColumn("cluster", clusterSimple)
      .drop("__bi", "__bs")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-(instance, cluster) sizes and per-instance totals: independent
    // aggregations (different grouping; the totals sum keeps its exact
    // plan so the float fold order is untouched) — run CONCURRENTLY so
    // the driver pays one scheduling round-trip of latency, not two
    // (round 13).
    val sizeAndTotals =
      graft.core.Concurrency.awaitAll[Array[org.apache.spark.sql.Row]](Seq(
        () => withCluster.filter(col("cluster").isNotNull)
          .groupBy(inst.as("__i"), col("cluster")).agg(count(lit(1)).as("z")).collect(),
        () => withCluster.groupBy(inst.as("__i"))
          .agg(count(lit(1)), sum(AutoRoot.termB)).collect()))
    val clusterSizes: Map[(String, Int), Long] =
      sizeAndTotals(0).map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val totals: Map[String, (Long, Double)] =
      sizeAndTotals(1).map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val sizeDf = broadcast(clusterSizes.toSeq.map { case ((i, k), z) => (i, k, z) }
      .toDF("__zi", "__zk", "__z"))

    // the deviation frame is only an input to withCluster (cached above by
    // the clusterSizes/totals passes) — release its cache before the layer
    // passes instead of carrying two full corpus copies through them
    df.unpersist()

    // instances with no anomalous rows (no boundaries entry) have
    // cluster=null on every row and can produce no candidates — drop them
    // before the per-layer expand so their rows are never shuffled (the
    // BatchSqueeze active left_semi pattern). When EVERY instance has
    // boundaries (the common case) the semi join selects nothing and
    // withCluster is used as-is — no third corpus-sized cache.
    val expandBase =
      if (boundaries.size == allInstances.size) withCluster
      else withCluster.join(
        broadcast(boundaries.keys.toSeq.toDF(instanceCol)), Seq(instanceCol), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)

    // best candidate per (instance, cluster), across layers by avg score
    val best = collection.mutable.Map.empty[(String, Int), (Double, RootCause)]

    type Cand = (String, Int, Seq[String], Int, Long, Long) // (__i, cid, key, k, x, y)

    // ALL layers fused into at most four corpus passes (x, y, stats1,
    // stats2). The reference always scans every layer, and the layers are
    // independent given the cluster assignment, so their aggregations
    // compose over one GLOBAL cuboid list (cid ordered by layer, then the
    // layer's combination order); only the best-split merge is
    // order-sensitive ("strict >, earlier layer wins" on ties) and that
    // runs driver-side in layer order below. Fusing is the scale lever:
    // the pass count — and with it the Spark job count — is CONSTANT in
    // layers, instances, and rows, and every cache scan is paid once
    // instead of once per layer. Expansions are NOT persisted: each
    // explode is a narrow projection of the cached parent multiplied by
    // its cuboid count; caching that blowup spills at H scale
    // (block-manager eviction lock pileup, VERDICT r7).
    val allCuboids: IndexedSeq[Seq[String]] =
      (1 to attributes.size).flatMap(l => attributes.combinations(l)).toIndexedSeq
    val lastCid = allCuboids.size - 1 // the single full-attribute cuboid

    val (candPairs, statRows) = try {
      // x per (instance, element, cluster) over ANOMALOUS rows only — the
      // cluster filter is applied BEFORE the explode (it commutes: cluster
      // does not depend on cb), so this pass multiplies just the anomalous
      // slice, never the full corpus. Pre-filtered by the x/z threshold
      // (autoroot.py:110-123), which bounds the collect by construction:
      // per (instance, cluster, cuboid) the x counts sum to z, so at most
      // floor(1/deltaThreshold) elements can pass x/z > deltaThreshold —
      // <= 10 * clusters * cuboids * instances rows at the default
      // threshold, independent of per-instance row count.
      val xsAll: Array[(String, Int, Seq[String], Int, Long)] =
        Cuboids.expand(expandBase.filter(col("cluster").isNotNull), allCuboids)
          .groupBy(inst.as("__i"), col("cb.cid").as("cid"), col("cb.key").as("key"),
            col("cluster").as("k"))
          .agg(count(lit(1)).as("x"))
          .join(sizeDf, col("__i") === col("__zi") && col("k") === col("__zk"))
          .filter(col("x") / col("__z") > opt.deltaThreshold)
          .select(col("__i"), col("cid"), col("key"), col("k"), col("x"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2), r.getInt(3), r.getLong(4)))
      // the last layer's extra 1/z guard (autoroot.py last-layer rule) —
      // same conjunction as the reference, applied driver-side
      val xsRows = xsAll.filter { case (i, cid, _, k, _) =>
        cid != lastCid || 1.0 / clusterSizes((i, k)) > opt.deltaThreshold }

      if (xsRows.isEmpty)
        (Array.empty[Cand], Map.empty[(String, Int, Seq[String]), (Long, Double, Double)])
      else {
        // y (rows selecting the element, any cluster or none) only for the
        // x/z-passing elements: a broadcast exact-tuple probe replaces the
        // corpus-wide per-element aggregate, and the probe side expands
        // ONLY the (instance, cuboid) pairs that produced x/z-passing
        // elements — everything else could only be discarded by the join.
        // The per-row cost of a cuboid pass is dominated by building and
        // hashing the key array (the bare explode is ~free), so shrinking
        // the expanded set is the lever that matters.
        val yKeys = xsRows.map(t => (t._1, t._2, t._3)).distinct.toSeq
        val yMap: Map[(String, Int, Seq[String]), Long] =
          expandPairs(expandBase, inst, yKeys.map(t => (t._1, t._2)).distinct, allCuboids)
            .select(inst.as("__i"), col("cb.cid").as("cid"), col("cb.key").as("key"))
            .join(broadcast(yKeys.toDF("__i", "cid", "key")), Seq("__i", "cid", "key"))
            .groupBy("__i", "cid", "key").agg(count(lit(1)).as("y"))
            .collect()
            .map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2)) -> r.getLong(3)).toMap

        // candidate splits = x/z AND x/y thresholds (+ last-layer 1/z
        // guard, already applied above) — the reference's conjunction
        val cands: Array[Cand] = xsRows.flatMap { case (i, cid, key, k, x) =>
          val y = yMap((i, cid, key))
          if (x.toDouble / y > opt.deltaThreshold) Some((i, cid, key, k, x, y)) else None
        }

        val stats: Map[(String, Int, Seq[String]), (Long, Double, Double)] =
          if (cands.isEmpty) Map.empty
          else {
            // NPS statistics once per DISTINCT (instance, element) —
            // value-set selection semantics as in AutoRoot.run (layer>=2
            // quirk). The probe side expands ONLY candidate (instance,
            // cuboid) pairs.
            val candKeys = cands.map(t => (t._1, t._2, t._3)).distinct.toSeq
            val explodedC = expandPairs(expandBase, inst,
              candKeys.map(t => (t._1, t._2)).distinct, allCuboids)
            val candSel = broadcast(candKeys.toDF("ji", "jcid", "jkey")
              .withColumn("jset", array_distinct(col("jkey"))))
            // Fan-out bound: the (instance, cid) equi-keys hash-partition
            // the join; the native array_subset_of residual then matches
            // each leaf against every candidate of its (instance, cuboid)
            // — worst case |leaves| x |candidates| intermediate rows within
            // one cuboid. This value-SET selection (a leaf joins a
            // candidate when its key values are a subset of the
            // candidate's value set) is the reference's own semantics for
            // layer>=2 splits (autoroot.py:125-129 via
            // attribute_combination value matching), so the fan-out is
            // inherent, not a plan miss. Candidates are already
            // threshold-filtered (LF/CF > deltaThreshold), which keeps the
            // candidate side small; for pathologically skewed cuboids the
            // mitigation is tightening deltaThreshold, not another join.
            val setMatch = inst === col("ji") && col("cb.cid") === col("jcid") &&
              graft.functions.ArraySubset.subsetOf(col("cb.key"), col("jset"))
            // stats1 is one row per candidate — collect it ONCE and feed
            // the second pass literal ratios, instead of leaving stats1 in
            // the plan (where the ratio broadcast and a final join would
            // each recompute the whole first-pass expansion)
            val stats1Rows = explodedC
              .join(candSel, setMatch)
              .groupBy(col("ji").as("__i"), col("jcid").as("cid"), col("jkey").as("key"))
              .agg(
                count(lit(1)).as("n_sel"),
                sum("real").as("sreal"), sum("predict").as("spred"),
                sum(AutoRoot.termB).as("sum_b"))
              .collect()
              .map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2),
                r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
            val stats1Map = stats1Rows
              .map { case (i, cid, key, nSel, _, _, sumB) => (i, cid, key) -> (nSel, sumB) }
              .toMap
            val ratiosLit = broadcast(stats1Rows.toSeq
              .map { case (i, cid, key, _, sreal, spred, _) =>
                (i, cid, key, key.distinct, if (spred != 0.0) sreal / spred else 0.0)
              }.toDF("ri", "rcid", "rkey", "rset", "ratio"))
            val stats2 = explodedC
              .join(ratiosLit,
                inst === col("ri") && col("cb.cid") === col("rcid") &&
                  graft.functions.ArraySubset.subsetOf(col("cb.key"), col("rset")))
              .withColumn("a_row", col("predict") * col("ratio"))
              .withColumn("term_a",
                when(col("real") === 0, 0.0)
                  .otherwise(abs(col("real") - col("a_row")) / col("real")))
              .groupBy(col("ri").as("__i"), col("rcid").as("cid"), col("rkey").as("key"))
              .agg(avg("term_a").as("a"))
              .collect()

            stats2.map { r =>
              val key = (r.getString(0), r.getInt(1), r.getSeq[String](2))
              val (nSel, sumB) = stats1Map(key)
              key -> (nSel, sumB, r.getDouble(3))
            }.toMap
          }
        (cands, stats)
      }
    } catch { case e: Throwable =>
      // failing pass: drop the session-wide cached frames too
      if (!(expandBase eq withCluster)) expandBase.unpersist()
      withCluster.unpersist(); throw e }

    // driver-side merge, sequential in layer order (earlier layer wins
    // avg-score ties via strict >). Global cids are ordered by (layer,
    // within-layer combination index), so sorting by cid inside a layer
    // preserves the single-instance cuboid order exactly.
    for ((layer, layerCands) <- candPairs.groupBy(t => allCuboids(t._2).size)
         .toSeq.sortBy(_._1)) {
        // driver: per (instance, cluster), per cuboid -> best-NPS split;
        // across cuboids and layers -> best avg (strict >, earlier wins)
        val byPair = layerCands.groupBy(t => (t._1, t._4))
        for (((i, k), rows) <- byPair) {
          val z = clusterSizes((i, k)).toDouble
          val (nTotal, tTermB) = totals(i)
          val byCuboid = rows.groupBy(_._2)
          for ((cid, rs) <- byCuboid.toSeq.sortBy(_._1)) {
            val ordered = rs.sortBy(_._3.mkString(graft.core.Canonical.NulSep))
            var bestNps = -1.0
            var bestRow: Cand = null
            for (r <- ordered) {
              val (nSelL, sumB, a) = statRows((i, cid, r._3))
              val nSel = nSelL.toDouble
              val b = sumB / nSel
              val c = if (nTotal == nSelL) Double.NaN
                else (tTermB - sumB) / (nTotal - nSelL)
              val nps = if (b + c == 0) Double.NaN else 1.0 - (a + c) / (b + c)
              if (nps > bestNps) { bestNps = nps; bestRow = r }
            }
            if (bestRow != null) {
              val x = bestRow._5.toDouble
              val lf = x / bestRow._6
              val cf = x / z
              val avgScore = (bestNps + lf + cf) / 3.0
              val cur = best.get((i, k)).map(_._1).getOrElse(-1.0)
              if (avgScore > cur) {
                val cuboid = allCuboids(cid)
                best((i, k)) = (avgScore, RootCause(
                  Seq(Element(cuboid, bestRow._3)),
                  cuboid, layer,
                  Map("nps" -> bestNps, "lf" -> lf, "cf" -> cf, "avg" -> avgScore)))
              }
            }
          }
        }
    }

    if (!(expandBase eq withCluster)) expandBase.unpersist()
    withCluster.unpersist()
    val merged = best.toSeq
      .groupBy(_._1._1)
      .map { case (i, entries) =>
        val ks = entries.map(_._1._2).sorted
        val byK = entries.map { case ((_, k), v) => k -> v._2 }.toMap
        i -> AutoRoot.mergeRootCauses(ks.map(byK), attributes.size)
      }
    empty ++ merged
  }
}
