package graft.algorithms

import graft.model.{Element, Labels}
import graft.operators.Cuboids
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Squeeze over a UNION of many instance snapshots, batched into one
  * Spark DAG per layer (SURVEY §3.1 / §4.2; the BatchRiskLoc pattern
  * applied to Squeeze's cluster-then-search shape).
  *
  * Keying: every aggregation runs over (instance, cluster, cuboid, key).
  * The reference's per-instance flow (squeeze.py:28-70) factors into
  *  - per-instance driver statistics (KDE knee filter, histogram density
  *    clustering, normal threshold, auto score weight) computed from ONE
  *    corpus-wide vector aggregation (`collect_vector` per instance);
  *  - a cluster membership table (instance, cluster, lo, hi, normalThr)
  *    broadcast-joined onto the leaves — a leaf appears once per cluster
  *    of its instance, so cluster membership and the normal-set predicate
  *    are plain Columns and no row positions cross a shuffle;
  *  - per layer, ONE multi-cuboid expand-aggregation for the element
  *    stats of EVERY active (instance, cluster) pair and ONE batched
  *    ripple pass over broadcast rank/ratio tables — the same two jobs
  *    per layer as a single instance, corpus-wide.
  *
  * Searches advance layer-by-layer together; a (instance, cluster) pair
  * whose best score exceeds psUpperBound drops out exactly where the
  * sequential loop would break (squeeze.py:269-271). Per-instance
  * results are pinned equal to [[Squeeze.run]] by BatchSqueezeSpec.
  *
  * DISPATCH (measured, round 8): this whole-corpus DAG wins when
  * instances are small and many — scheduling-dominated corpora like RS
  * (4-9x over sequential, RS_SWEEP_BATCH.md) — and LOSES to the
  * concurrent per-instance sequential path once rows/instance outgrow
  * their Runner.BatchCrossoverByAlgo threshold, because every corpus-wide
  * pass carries the big instances' rows (H_SCALE.md: sequential wins 1.7-6x at 24M
  * rows/instance). Runner's default `--mode auto` picks per corpus from
  * the CROSSOVER.md-measured threshold; batch is NOT the universal scale
  * mode, it is the many-small-instances mode.
  */
object BatchSqueeze {

  private case class Prep(clusters: Seq[(Double, Double)], normalThreshold: Double,
      scoreWeight: Double)

  private case class CuboidResult(cid: Int, layer: Int, rc: Seq[Element],
      score: Double, nEle: Int) {
    def rank(scoreWeight: Double): Double = score * scoreWeight - nEle.toDouble * layer
  }

  /** Whole-corpus Squeeze: returns canonical prediction strings per
    * instance (instances that produce no clusters map to Seq.empty). */
  def run(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: Squeeze.Options = Squeeze.Options()): Map[String, Seq[String]] = {
    val spark = df0.sparkSession
    import spark.implicits._
    val inst = col(instanceCol)

    // validity filter + derived measure (squeeze.py:28-36)
    var df =
      if (opt.derived)
        df0.filter(col("predict_a") > 0 && col("predict_b") > 0)
          .withColumn("real", graft.functions.Scores.safeDiv(col("real_a"), col("real_b")))
          .withColumn("predict", graft.functions.Scores.safeDiv(col("predict_a"), col("predict_b")))
      else df0.filter(col("predict") > 0)
    df = df.withColumn(instanceCol, inst.cast("string"))

    // per-instance clamp of negative reals (squeeze.py:33-35)
    val minr = df.groupBy(inst.as("__mi")).agg(min("real").as("__minr"))
    df = df.join(broadcast(minr), inst === col("__mi"))
      .withColumn("real",
        when(col("__minr") < 0, col("real") - col("__minr")).otherwise(col("real")))
      .drop("__mi", "__minr")
      .withColumn("deviation", Squeeze.deviationCol)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Instance inventory stays over the UNFILTERED input (instances whose
    // rows all fail the validity filter still map to Seq.empty) and runs
    // SERIALLY before the cardinality pass: both frames are cold under
    // the bench isolation, and concurrent first actions would each
    // compute the shared cached corpus lineage (HotSpot.run has the full
    // duplicate-materialization note). The distinct materializes the
    // corpus; cardRows then reads warm caches.
    val allInstances: Seq[String] =
      df0.select(inst.cast("string")).distinct().collect().map(_.getString(0)).toSeq
    val empty: Map[String, Seq[String]] = allInstances.map(_ -> Seq.empty[String]).toMap
    val cardRows = df.groupBy(inst.as("__i")).agg(
      countDistinct(col(attributes.head)),
      attributes.tail.map(a => countDistinct(col(a))) :+ count(lit(1)).as("n_rows"): _*)
      .collect()
    if (cardRows.isEmpty) { df.unpersist(); return empty }
    val cards: Map[String, Double] = cardRows
      .map(r => r.getString(0) -> (1 to attributes.size).map(r.getLong).sum.toDouble).toMap
    val nRows: Map[String, Long] =
      cardRows.map(r => r.getString(0) -> r.getLong(attributes.size + 1)).toMap

    // per-instance (deviation, |v-f|) vectors from ONE aggregation (the
    // two collect_vector buffers of a group stay row-aligned); sorted on
    // the driver for a deterministic order. Instances above
    // Options.statSampleCap are thinned by the SAME deterministic
    // leaf-hash filter the sequential path uses (keep leaves with
    // xxhash64(attrs) % K == 0), so Batch == sequential stays exact at
    // any scale while the driver collect stays bounded by
    // instances x cap (the unthinned collect blew
    // spark.driver.maxResultSize at 4 x 24M rows in the r7 H rehearsal).
    val sampleKs: Map[String, Long] = nRows.map { case (i, n) =>
      i -> (if (n > opt.statSampleCap) (n + opt.statSampleCap - 1) / opt.statSampleCap else 1L)
    }
    val vecSrc =
      if (sampleKs.values.exists(_ > 1L))
        df.join(broadcast(sampleKs.toSeq.toDF("__ki", "__k")), inst === col("__ki"))
          .filter(pmod(xxhash64(attributes.map(col): _*), col("__k")) === 0)
          .drop("__ki", "__k")
      else df
    val vecRows = vecSrc.groupBy(inst.as("__i")).agg(
      graft.functions.VectorAgg.collectVector(col("deviation")).as("devs"),
      graft.functions.VectorAgg.collectVector(abs(col("real") - col("predict"))).as("metrics"))
      .collect()
    if (vecRows.isEmpty) { df.unpersist(); return empty }

    // driver-side per-instance preparation: knee filter, histogram
    // clustering, normal threshold, auto score weight (squeeze.py:38-64)
    val preps: Map[String, Prep] = vecRows.flatMap { r =>
      val i = r.getString(0)
      val tr = opt.trace
      val iopt = opt.copy(trace = s => tr(s"[$i] $s"))
      val pairs = r.getSeq[Double](1).zip(r.getSeq[Double](2)).sorted.toArray
      val devs = pairs.map(_._1)
      val metrics = pairs.map(_._2)
      if (devs.isEmpty) None
      else {
        val filteredDevs =
          if (opt.enableFilter) {
            val knee = Squeeze.kpiFilterKnee(metrics)
            devs.zip(metrics).collect { case (d, m) if m > knee => d }
          } else devs
        if (filteredDevs.isEmpty) None
        else {
          val intervals = Squeeze.clusterIntervals(filteredDevs, iopt)
          if (intervals.isEmpty) None
          else {
            val clusterSizes =
              intervals.map { case (lo, hi) => devs.count(d => d >= lo && d <= hi).toLong }
            val abnormalDevs =
              devs.filter(d => intervals.exists { case (lo, hi) => d >= lo && d <= hi })
            val normalThreshold = abnormalDevs.minBy(d => (math.abs(d), d))
            val scoreWeight = opt.scoreWeight.getOrElse {
              val nClusters = intervals.size
              val numAttr = cards(i)
              val gCluster = math.log(nClusters + 1.0) / nClusters
              val gAttribute = numAttr / math.log(numAttr + 1.0)
              val gCoverage = -math.log(clusterSizes.sum.toDouble / devs.length)
              gCluster * gAttribute * gCoverage
            }
            Some(i -> Prep(intervals, normalThreshold, scoreWeight))
          }
        }
      }
    }.toMap
    if (preps.isEmpty) { df.unpersist(); return empty }

    // cluster membership table -> one leaf row PER cluster of its
    // instance, with the subset predicates as plain columns
    val clusterRows = for {
      (i, p) <- preps.toSeq
      ((lo, hi), cl) <- p.clusters.zipWithIndex
    } yield (i, cl, lo, hi, p.normalThreshold)
    val clusterDf = clusterRows.toDF("__ci", "__cl", "__lo", "__hi", "__nthr")
    val inCluster: Column = col("deviation") >= col("__lo") && col("deviation") <= col("__hi")
    val isNormal: Column = abs(col("deviation")) < col("__nthr")
    val inSubset: Column = inCluster || isNormal
    val joined = df.join(broadcast(clusterDf), inst === col("__ci"))
      .withColumn("__inc", inCluster)
      .withColumn("__ins", inSubset)
      .drop("__ci", "__lo", "__hi", "__nthr")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-(instance, cluster) subset totals — layer-invariant, ONE pass.
    // L1 masses are EXACT sums throughout this DAG (see Squeeze.run and
    // graft.kernels.ExactSum): scores must be functions of the row set
    // alone or the reference's cross-cuboid ties are lost.
    // Round 13: the action runs on a background driver thread and is
    // first read at scoring time (after the layer-1 stats collect), so
    // it overlaps the layer-1 pass instead of serializing ahead of it.
    // The active set comes from the cluster table instead: every
    // interval contains at least one member leaf's deviation (intervals
    // are [min, max] over member deviations of rows present in df), so
    // every (instance, cluster) pair has subset rows and the two sets
    // are identical.
    import graft.functions.ExactSumAgg.exactSum
    import graft.kernels.ExactSum
    val totalsFuture = new java.util.concurrent.FutureTask[Map[(String, Int), (Long, Array[Long])]](
      () => joined.filter(col("__ins"))
        .groupBy(inst.as("__i"), col("__cl"))
        .agg(count(lit(1)).as("n"), exactSum(abs(col("real") - col("predict"))).as("l1"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          (r.getLong(2), ExactSum.deserialize(r.getAs[Array[Byte]](3)))).toMap)
    locally {
      val t = new Thread(totalsFuture, "graft-batchsqueeze-totals")
      t.setDaemon(true); t.start()
    }

    def derivedColOr(name: String): Column =
      if (joined.columns.contains(name)) col(name) else lit(0.0)

    val activePairs0: Set[(String, Int)] = clusterRows.map(r => (r._1, r._2)).toSet
    val results = collection.mutable.Map.empty[(String, Int), collection.mutable.ArrayBuffer[CuboidResult]]
    for (k <- activePairs0) results(k) = collection.mutable.ArrayBuffer.empty
    var active: Set[(String, Int)] = activePairs0

    var layer = 1
    try {
    while (layer <= attributes.size && active.nonEmpty) {
      val cuboids = attributes.combinations(layer).toSeq
      val activeDf = joined.join(
        broadcast(active.toSeq.toDF(instanceCol, "__cl")), Seq(instanceCol, "__cl"), "left_semi")
      // NOT persisted: the explode is a narrow projection of a cached
      // parent multiplied by the cuboid count; caching that blowup spills
      // at H scale (block-manager eviction lock pileup, VERDICT r7) while
      // recomputing it per consuming pass is map-side CPU only.
      val exploded = Cuboids.expand(activeDf, cuboids)

      // pass 1: per-element stats for every active (instance, cluster).
      // Mode-dead masses are NOT summed (VERDICT r10 #2, same narrowing
      // as Squeeze.locateInCluster): the ratio reads cv/cf in fundamental
      // mode and sva..sfb in derived mode; the dead side aggregates a
      // null binary instead of running per-row exact_sum updates.
      def deadMass = first(lit(null).cast("binary"))
      def esIf(live: Boolean, c: => Column) = if (live) exactSum(c) else deadMass
      val stats = exploded
        .groupBy(inst.as("__i"), col("__cl"), col("cb.cid").as("cid"), col("cb.key").as("key"))
        .agg(
          count(when(col("__inc"), lit(1))).as("n_abn"),
          count(lit(1)).as("n_all"),
          count(when(col("__ins"), lit(1))).as("n_sub"),
          esIf(!opt.derived, when(col("__ins"), col("real")).otherwise(0.0)).as("sv_sub"),
          esIf(!opt.derived, when(col("__ins"), col("predict")).otherwise(0.0)).as("sf_sub"),
          exactSum(when(col("__ins"), abs(col("real") - col("predict"))).otherwise(0.0)).as("l1_sub"),
          esIf(opt.derived, when(col("__ins"), derivedColOr("real_a")).otherwise(0.0)).as("sva"),
          esIf(opt.derived, when(col("__ins"), derivedColOr("real_b")).otherwise(0.0)).as("svb"),
          esIf(opt.derived, when(col("__ins"), derivedColOr("predict_a")).otherwise(0.0)).as("sfa"),
          esIf(opt.derived, when(col("__ins"), derivedColOr("predict_b")).otherwise(0.0)).as("sfb"))
        .collect()

      // driver: per (instance, cluster, cuboid) element order, partition
      // prefixes and ripple ratios (squeeze.py:148-161; see Squeeze.run
      // for the np.unique/argsort tie-order notes replicated here)
      case class Plan(inst: String, cl: Int, cid: Int,
          elems: Array[(Seq[String], Long, Long, Long, Array[Long], Array[Long], Array[Long], Array[Long], Array[Long], Array[Long], Array[Long])],
          partitions: Int, ratios: Array[Double])
      val plans = stats.groupBy(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
        .sortBy { case ((i, cl, cid), _) => (i, cl, cid) }
        .flatMap { case ((i, cl, cid), rows) =>
          // mode-dead mass columns come back null -> empty accumulator
          def des(r: Row, ix: Int): Array[Long] = r.getAs[Array[Byte]](ix) match {
            case null => ExactSum.newAcc()
            case b => ExactSum.deserialize(b)
          }
          val all = rows.map(r => (r.getSeq[String](3), r.getLong(4), r.getLong(5), r.getLong(6),
            des(r, 7), des(r, 8), des(r, 9), des(r, 10), des(r, 11), des(r, 12), des(r, 13)))
          val nDistinctIdx = all.length
          val abn = all.filter(_._2 > 0)
          if (abn.isEmpty) None
          else {
            val base = abn.sortBy(_._1.mkString(graft.core.Canonical.NulSep))
            val descent = base.map(e => e._2.toDouble / math.max(e._3.toDouble, 1e-4)).toArray
            val ordered = graft.kernels.NumpyArgsort.argsort(descent).reverse.map(base)
            val nPart = math.min(math.min(ordered.length, opt.maxNumElements), nDistinctIdx - 1)
            if (nPart <= 0) Some(Plan(i, cl, cid, ordered.toArray, 0, Array.empty))
            else {
              val ratios = new Array[Double](nPart)
              val cv = ExactSum.newAcc(); val cf = ExactSum.newAcc()
              val cva = ExactSum.newAcc(); val cvb = ExactSum.newAcc()
              val cfa = ExactSum.newAcc(); val cfb = ExactSum.newAcc()
              for (p <- 1 to nPart) {
                ExactSum.merge(cv, ordered(p - 1)._5); ExactSum.merge(cf, ordered(p - 1)._6)
                ExactSum.merge(cva, ordered(p - 1)._8); ExactSum.merge(cvb, ordered(p - 1)._9)
                ExactSum.merge(cfa, ordered(p - 1)._10); ExactSum.merge(cfb, ordered(p - 1)._11)
                ratios(p - 1) =
                  if (opt.derived)
                    (ExactSum.value(cva) / ExactSum.value(cvb)) /
                      (ExactSum.value(cfa) / ExactSum.value(cfb))
                  else ExactSum.value(cv) / ExactSum.value(cf)
              }
              Some(Plan(i, cl, cid, ordered.toArray, nPart, ratios))
            }
          }
        }

      val maxP = (0 +: plans.map(_.partitions)).max
      val l1Terms: Map[(String, Int, Int), Row] = if (maxP > 0) {
        // pass 2: L1(v1, f1*ratio_p) for every (instance, cluster, cuboid,
        // partition prefix) at once, over broadcast rank/ratio tables
        val rankRows = plans.flatMap(pl => pl.elems.take(math.max(pl.partitions, 0)).zipWithIndex
          .map { case (e, idx) => (pl.inst, pl.cl, pl.cid, e._1, idx + 1) })
        val ratioRows = plans.filter(_.partitions > 0)
          .map(pl => (pl.inst, pl.cl, pl.cid, pl.ratios.toSeq))
        val rankDf = rankRows.toDF("ri", "rcl", "rcid", "rkey", "rank")
        val ratioDf = ratioRows.toDF("ti", "tcl", "tcid", "ratios")

        val aggs: Seq[Column] = (1 to maxP).map(p =>
          exactSum(when(col("rank") <= p,
            abs(col("real") - col("predict") * element_at(col("ratios"), p)))
            .otherwise(0.0)).as(s"l1a_$p"))
        exploded
          .filter(col("__ins"))
          .join(broadcast(rankDf),
            inst === col("ri") && col("__cl") === col("rcl") &&
              col("cb.cid") === col("rcid") && col("cb.key") === col("rkey"))
          .join(broadcast(ratioDf),
            col("ri") === col("ti") && col("rcl") === col("tcl") && col("rcid") === col("tcid"))
          .groupBy(col("ri"), col("rcl"), col("rcid"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r).toMap
      } else Map.empty

      // driver scoring, same partition-prefix selection as Squeeze.run
      for (pl <- plans) {
        val buf = results((pl.inst, pl.cl))
        if (pl.partitions <= 0) {
          val cuboid = cuboids(pl.cid)
          val rc = pl.elems.map(e => Element(cuboid, e._1)).toSeq
          buf += CuboidResult(pl.cid, layer, rc, Double.NegativeInfinity, pl.elems.length)
        } else {
          // ADVICE r13: fail diagnosably if the activePairs0 == totals
          // keySet invariant (argued above) is ever broken by a future
          // change — a bare Map apply would throw an opaque
          // NoSuchElementException deep inside scoring
          val (nSubTotal, l1SubTotal) = totalsFuture.get().getOrElse((pl.inst, pl.cl),
            sys.error(s"no subset totals for ${pl.inst}/${pl.cl}"))
          val l1aRow = l1Terms.get((pl.inst, pl.cl, pl.cid))
          var cumN = 0L
          val cumL1 = ExactSum.newAcc()
          val scores = new Array[Double](pl.partitions)
          for (p <- 1 to pl.partitions) {
            cumN += pl.elems(p - 1)._4
            ExactSum.merge(cumL1, pl.elems(p - 1)._7)
            val n1 = cumN.toDouble
            val n2 = (nSubTotal - cumN).toDouble
            val l1v1f1 = ExactSum.value(cumL1)
            val l1v2f2 =
              if (n2 == 0) 0.0
              else {
                val c = ExactSum.copy(l1SubTotal)
                ExactSum.merge(c, ExactSum.negated(cumL1))
                ExactSum.value(c)
              }
            val l1v1a1 = l1aRow
              .map(r => ExactSum.valueOfBytes(r.getAs[Array[Byte]](2 + p)))
              .getOrElse(0.0)
            val denom = Squeeze.divideGuard(l1v1f1, n1) + Squeeze.divideGuard(l1v2f2, n2)
            val num = Squeeze.divideGuard(l1v1a1, n1) + Squeeze.divideGuard(l1v2f2, n2)
            scores(p - 1) = 1.0 - num / denom
          }
          val order = graft.kernels.NumpyArgsort.argsort(scores)
          val bestP = order(order.length - 1) + 1
          val cuboid = cuboids(pl.cid)
          val rc = pl.elems.take(bestP).map(e => Element(cuboid, e._1)).toSeq
          buf += CuboidResult(pl.cid, layer, rc, scores(bestP - 1), bestP)
        }
      }

      // a pair whose results exceed psUpperBound stops searching deeper
      active = active.filter(k => !results(k).exists(_.score > opt.psUpperBound))
      layer += 1
    }
    // ADVICE r13: if the layer loop unwinds before the first get(), the
    // detached totals action must not keep running as a zombie job —
    // cancel is a no-op once the task completed
    } finally totalsFuture.cancel(true)
    joined.unpersist(); df.unpersist()

    // per (instance, cluster): best rank wins (stable ties keep
    // layer/cuboid enumeration order); then the per-instance canonical
    // prediction strings in cluster order, exactly as Squeeze.run
    val byInstance = results.toSeq
      .flatMap { case ((i, cl), buf) =>
        val w = preps(i).scoreWeight
        buf.filter(_.rc.nonEmpty).sortBy(r => -r.rank(w)).headOption.map(rc => (i, cl, rc.rc))
      }
      .groupBy(_._1)
      .map { case (i, rcs) =>
        // np.unique on frozensets, exactly as Squeeze.run (set-equality
        // dedup keeping numpy's surviving object, then that object's own
        // frozenset iteration order)
        i -> Labels.canonicalPredictions(
          Squeeze.numpyUniqueRootCauses(rcs.sortBy(_._2).map(_._3))
            .map(rc => Squeeze.frozensetOrder(attributes, rc).map(_.label).mkString(";")))
      }
    empty ++ byInstance
  }
}
