package graft.algorithms

import graft.algorithms.HotSpot.{Candidate, ElemStats, Options, Totals}
import graft.operators.Cuboids
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HotSpot over a UNION of many instance snapshots, batched into one
  * Spark DAG per layer (the BatchRiskLoc pattern applied to HotSpot's
  * layer-at-a-time MCTS shape).
  *
  * Everything distributed is keyed by the instance column: the global
  * totals are ONE `groupBy(instance)` pass, and each layer runs ONE
  * multi-cuboid expand-aggregation plus ONE ripple-ratio pass for every
  * active instance at once — the same two jobs per layer as a single
  * snapshot, corpus-wide. The inherently sequential MCTS stays on the
  * driver over per-element summaries, exactly as the sequential path
  * (HotSpot.scala scaladoc), with one seeded RNG PER INSTANCE consumed
  * in the sequential order (layer asc, cuboid enumeration order), so
  * per-instance results replicate [[HotSpot.run]] bit-for-bit —
  * including the early exit: an instance whose candidate reaches `pt`
  * stops consuming randomness and drops out of deeper layers
  * (hotspot.py:218-224), pruned here via a left-semi join.
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
object BatchHotSpot {

  /** Whole-corpus HotSpot: instance id -> best candidate, per-instance
    * equal to [[HotSpot.run]] (BatchHotSpotSpec). Instances with no rows
    * are absent from the result. */
  def run(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: Options = Options()): Map[String, Candidate] = {
    require(opt.scoring == "ps" || opt.scoring == "gps", "scoring must be 'ps' or 'gps'")
    val usePruning = opt.scoring != "gps"
    val spark = df0.sparkSession
    import spark.implicits._
    val inst = col(instanceCol)

    val df = df0.withColumn(instanceCol, inst.cast("string"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def nanToNum(c: org.apache.spark.sql.Column) =
      when(isnan(c), 0.0)
        .when(c === Double.PositiveInfinity, Double.MaxValue)
        .when(c === Double.NegativeInfinity, Double.MinValue)
        .otherwise(c)

    /** One layer's per-(instance, cuboid, element) stats for the given
      * active set (two-pass DAG, one action). */
    def layerStats(layer: Int, activeSet: Option[Seq[String]]): (Seq[Seq[String]], Array[org.apache.spark.sql.Row]) = {
      val cuboids = attributes.combinations(layer).toSeq
      val activeDf = activeSet match {
        case Some(a) => df.join(broadcast(a.toDF(instanceCol)), Seq(instanceCol), "left_semi")
        case None => df // layer 1: every instance is active
      }
      // NOT persisted: the explode is a narrow projection of a cached
      // parent multiplied by the cuboid count; caching that blowup spills
      // at H scale (block-manager eviction lock pileup, VERDICT r7) while
      // recomputing it per consuming pass is map-side CPU only.
      val exploded = Cuboids.expand(activeDf, cuboids)

      // pass 1: per-(instance, cuboid, element) decomposed statistics
      val stats1 = exploded
        .groupBy(inst.as("__i"), col("cb.cid").as("cid"), col("cb.key").as("key"))
        .agg(
          count(lit(1)).as("n"),
          sum("real").as("sum_v"), sum("predict").as("sum_f"),
          sum(abs(col("real") - col("predict"))).as("abs_diff"),
          sum(pow(col("real") - col("predict"), 2.0)).as("sq_diff"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // pass 2: ripple-forecast error terms against broadcast ratios
      val ratios = stats1.select(col("__i").as("ri"), col("cid").as("rcid"),
        col("key").as("rkey"),
        graft.functions.Scores.numpyDiv(col("sum_v"), col("sum_f")).as("ratio"),
        col("sum_f").as("rsum_f"))
      val stats2 = exploded
        .join(broadcast(ratios),
          inst === col("ri") && col("cb.cid") === col("rcid") && col("cb.key") === col("rkey"))
        .withColumn("a_gps", nanToNum(col("predict") * col("ratio")))
        .withColumn("a_ps", when(col("rsum_f") === 0.0, 0.0).otherwise(col("predict") * col("ratio")))
        .groupBy(col("ri").as("__i"), col("rcid").as("cid"), col("rkey").as("key"))
        .agg(
          sum(abs(col("real") - col("a_gps"))).as("gps_a_err"),
          sum(pow(col("real") - col("a_ps"), 2.0)).as("ps_a_sq_err"))

      val collected = stats1.join(stats2, Seq("__i", "cid", "key")).collect()
      stats1.unpersist()
      (cuboids, collected)
    }

    // Totals run FIRST, serially: the corpus cache is COLD here under the
    // bench isolation, and two concurrent first actions each compute the
    // whole cached lineage — duplicating the corpus materialization
    // (HotSpot.run has the full note). Layer 1 still skips the
    // active-set semi-join (every instance is active at layer 1).
    val totals: Map[String, Totals] = df.groupBy(inst.as("__i")).agg(
      count(lit(1)),
      sum(abs(col("real") - col("predict"))),
      sum(pow(col("real") - col("predict"), 2.0)))
      .collect()
      .map(r => r.getString(0) -> Totals(r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    val rngs: Map[String, scala.util.Random] =
      totals.keys.map(i => i -> new scala.util.Random(opt.seed)).toMap
    val candidates = collection.mutable.Map.empty[String, collection.mutable.ArrayBuffer[Candidate]]
    for (i <- totals.keys) candidates(i) = collection.mutable.ArrayBuffer.empty
    val result = collection.mutable.Map.empty[String, Candidate]
    var active: Seq[String] = totals.keys.toSeq.sorted

    var layer = 1
    while (layer <= attributes.size && active.nonEmpty) {
      val (cuboids, collected) =
        if (layer == 1) layerStats(1, None) else layerStats(layer, Some(active))

      val byInstCid = collected.groupBy(r => (r.getString(0), r.getInt(1)))
      for (i <- active) {
        val rng = rngs(i)
        var done = result.contains(i)
        for ((cuboid, cid) <- cuboids.zipWithIndex if !done) {
          var elems = byInstCid.getOrElse((i, cid), Array.empty[org.apache.spark.sql.Row])
            .map(r => ElemStats(r.getSeq[String](2), r.getLong(3), r.getDouble(4),
              r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9)))
            .sortBy(_.values.mkString(graft.core.Canonical.NulSep))
          if (elems.length > opt.maxElementsPerCuboid)
            elems = elems.sortBy(-_.absDiff).take(opt.maxElementsPerCuboid)
              .sortBy(_.values.mkString(graft.core.Canonical.NulSep))
          if (usePruning && layer > 1)
            elems = HotSpot.hierarchicalPruning(elems, layer, cuboid, candidates(i).toSeq)

          val (stateIdx, q) = HotSpot.mcts(elems, totals(i), opt.pt, opt.m, opt.scoring, rng)
          val cand = Candidate(layer, cuboid, q, stateIdx.map(j => elems(j).values))
          if (cand.score >= opt.pt) { result(i) = cand; done = true }
          else candidates(i) += cand
        }
      }
      active = active.filterNot(result.contains)
      layer += 1
    }
    df.unpersist()

    for (i <- totals.keys if !result.contains(i))
      result(i) = candidates(i).minBy(c => (-c.score, c.layer, c.elements.size))
    result.toMap
  }

  /** PARITY-mode whole-corpus HotSpot (the BatchRobustSpot parity-mode
    * shape): reference bit-parity needs numpy pairwise sums over each
    * instance's leaf vectors in CSV row order plus the CPython-seeded
    * MT19937 stream, so this path runs ONE corpus-wide collection of the
    * row-ordered leaves (a single Spark job over the union, `__row`
    * required) and replays [[HotSpotParity.runRows]] per instance on the
    * driver. Verification-only, like HotSpotParity itself — the scale
    * path is [[run]] above, whose per-element decomposed aggregation
    * keeps leaf data on the executors (same algorithm, ULP-level score
    * differences). */
  def runParity(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: Options, seedOf: String => BigInt): Map[String, Candidate] = {
    val inst = col(instanceCol)
    val rows = df0
      .select((Seq(inst.cast("string").as("__i"), col("__row")) ++
        attributes.map(col) ++ Seq(col("real"), col("predict"))): _*)
      .collect()
    val n = attributes.length
    rows.groupBy(_.getString(0)).map { case (i, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
        .map(r => (Array.tabulate(n)(j => r.getString(2 + j)),
          r.getDouble(2 + n), r.getDouble(3 + n)))
      i -> HotSpotParity.runRows(ordered, attributes, opt, seedOf(i))
    }
  }

  /** Canonical per-instance prediction strings. */
  def predictions(results: Map[String, Candidate]): Map[String, Seq[String]] =
    results.view.mapValues(HotSpot.predictions).toMap
}
