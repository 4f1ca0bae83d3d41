package graft.algorithms

import graft.model.{Element, RootCause}
import graft.operators.Snapshots
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** RiskLoc (arXiv:2205.10004) — weighted-risk root-cause localization.
  * Reference behavior: algorithms/riskloc.py.
  *
  * Spark-first design (SURVEY.md §4.2): instead of the reference's
  * per-cuboid `groupby` loop and per-candidate whole-table boolean masks,
  * each layer runs ONE multi-cuboid aggregation (an Expand: every leaf row
  * is emitted once per cuboid it belongs to, pre-filtered by the pruned
  * element set) and TWO batched passes computing every candidate's risk
  * statistics via conditional aggregation. The driver only handles small
  * per-candidate summaries and the search control flow, so the same plan
  * holds at 100 TB: shuffles are bounded by (#layers + 3·#found) passes,
  * never by candidate count.
  */
object RiskLoc {

  final case class Options(
      riskThreshold: Double = 0.5,
      pepThreshold: Double = 0.02,
      nRemove: Int = 5,
      removeRelative: Boolean = false,
      derived: Boolean = false,
      pruneElements: Boolean = true,
      maxCandidatesPerCuboid: Int = 10000,
      /** Per-layer/cuboid/candidate score tracing (the reference's
        * `debug=True` prints, riskloc.py:101-145). */
      trace: String => Unit = _ => ())

  private case class Candidate(cid: Int, key: Seq[String], ep: Double,
      wa: Double, wn: Double, sreal: Double, spred: Double, w2: Double, nNz: Long)

  /** Deviation cutoff: drop the n most extreme distinct deviations on each
    * side, take the nearest-to-zero survivor, negated
    * (reference get_cutoff, riskloc.py:35-49).
    *
    * One Spark action: the two bounded top-(n+1) scans (ascending and
    * descending) are unioned under a side tag and collected together —
    * each branch stays a TakeOrdered (scale-safe, never materializes the
    * full distinct set), but the driver pays one scheduling round-trip
    * instead of two (VERDICT r6 #2). */
  def cutoff(df: DataFrame, nRemove: Int, relative: Boolean): Double = {
    val devs = df.select("deviation").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val n = if (relative) {
      val cnt = devs.count()
      math.ceil(cnt * nRemove / 100.0).toInt
    } else nRemove
    val lo = devs.orderBy(asc("deviation")).limit(n + 1).withColumn("side", lit(0))
    val hi = devs.orderBy(desc("deviation")).limit(n + 1).withColumn("side", lit(1))
    val both = lo.unionByName(hi).collect()
    devs.unpersist()
    cutoffOf(both.filter(_.getInt(1) == 0).map(_.getDouble(0)).toSeq,
      both.filter(_.getInt(1) == 1).map(_.getDouble(0)).toSeq)
  }

  /** The cutoff from the n+1 smallest distinct deviations (ascending) and
    * the n+1 largest (descending). */
  private[algorithms] def cutoffOf(smallest: Seq[Double], largest: Seq[Double]): Double = {
    val minVal = smallest.max
    val maxVal = largest.min
    // python min(a, b, key=abs): first wins ties
    val t = if (math.abs(minVal) <= math.abs(maxVal)) minVal else maxVal
    -t
  }

  /** Decorate the snapshot with ep/deviation/partition/weight/ep_z columns
    * (riskloc.py:9-32,163-187). Returns (scoredDf, adjEpThreshold, base,
    * anomalyEpSum); `base` is persisted before the cutoff/ep-sum actions so
    * the input lineage (at scale: the raw leaf scan) is read once — the
    * caller unpersists it once the scored frame is materialized.
    * `anomalyEpSum` is the partition-1 EP mass of the scored frame, so the
    * run loop's first iteration needs no extra action to recompute it
    * (negation is bit-exact in IEEE-754, so the sign-flipped frame's sum
    * equals the returned value). */
  def score(df0: DataFrame, opt: Options): (DataFrame, Double, DataFrame, Double) = {
    val base = Snapshots.withDeviation(Snapshots.withExplanatoryPower(df0, opt.derived))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var df = base
    val cut = cutoff(df, opt.nRemove, opt.removeRelative)
    val anomalyRight = math.copySign(1.0, cut) > 0

    val partitionCol =
      if (anomalyRight) when(col("deviation") > cut, 1).otherwise(0)
      else when(col("deviation") < cut, 1).otherwise(0)
    df = df.withColumn("partition", partitionCol)

    val baseWeight = abs(lit(cut) - col("deviation"))
    df = df.withColumn("weight",
      least(
        when(col("partition") === 1, abs(col("deviation")))
          .when(col("real") === 0 && col("predict") === 0, 0.0)
          .otherwise(baseWeight),
        lit(1.0)))

    // Negate EP when the anomalous partition's EP mass is negative.
    val epSumRow = df.filter(col("partition") === 1)
      .agg(graft.functions.Scores.pandasSum(col("ep"))).collect()(0)
    val epSum = if (epSumRow.isNullAt(0)) 0.0 else epSumRow.getDouble(0)
    val (dfSigned, anomalyEpSum) =
      if (epSum < 0) (df.withColumn("ep", -col("ep")), -epSum) else (df, epSum)
    val scored = dfSigned
      .withColumn("ep_z", when(col("ep") > 0, col("ep")).otherwise(0.0))
    (scored, anomalyEpSum * opt.pepThreshold, base, anomalyEpSum)
  }

  private[algorithms] type PruneState = Map[String, Seq[String]]
  private[algorithms] type Pruned =
    collection.mutable.Map[String, collection.mutable.ArrayBuffer[String]]
  private[algorithms] case class Winner(cid: Int, key: Seq[String], ep: Double,
      high: Double, low: Double, risk: Double)

  private def pruneCond(c: Seq[String], state: PruneState) = c
    .flatMap(a => state.get(a).filter(_.nonEmpty).map(vs => !col(a).isin(vs: _*)))
    .reduceOption(_ && _).getOrElse(lit(true))

  /** Multi-cuboid expand: one `cb = {cid, key}` row per (leaf, cuboid),
    * rows pruned per cuboid (only prune keys within the cuboid apply --
    * riskloc.py:75-86). */
  private def expandCuboids(df: DataFrame, cuboids: Seq[(Seq[String], Int)],
      state: Int => PruneState): DataFrame = {
    val structs = cuboids.map { case (c, i) =>
      when(pruneCond(c, state(i)), struct(lit(i).as("cid"), array(c.map(col): _*).as("key")))
        .otherwise(lit(null))
    }
    df.withColumn("cb", explode(array(structs: _*))).filter(col("cb").isNotNull)
  }

  private def nzCond = col("real") =!= 0 && col("predict") =!= 0

  /** Pass-1 selection-level aggregates (wa/wn/sreal/spred/w2/n_nz). */
  private def riskAggCols: Seq[org.apache.spark.sql.Column] = Seq(
    sum(when(col("partition") === 1, col("weight")).otherwise(0.0)).as("wa"),
    sum(when(col("partition") === 0, col("weight")).otherwise(0.0)).as("wn"),
    sum(when(nzCond, col("real")).otherwise(0.0)).as("sreal"),
    sum(when(nzCond, col("predict")).otherwise(0.0)).as("spred"),
    avg(when(nzCond, abs(col("deviation")))).as("w2"),
    count(when(nzCond, lit(1))).as("n_nz"))

  /** Pass 2: ripple-adjusted mean |d| per candidate, using pass-1 sums
    * (`ratios` columns rcid/rkey/rsreal/rspred).
    * Op order replicates the reference exactly (riskloc.py:66-67):
    * a = (predict * sum(real)) / sum(predict) elementwise — NOT
    * predict * (sum(real)/sum(predict)); the two round differently and
    * low_risk sits right on the risk-threshold boundary for elements
    * whose d should be exactly 0. fillna(0) replaces only NaN (0/0 and
    * inf/inf); true ±Inf survives into the mean, as in pandas. */
  private def ripplePass(exploded: DataFrame, ratios: DataFrame): DataFrame =
    exploded
      .join(broadcast(ratios),
        col("cb.cid") === col("rcid") && col("cb.key") === col("rkey"))
      .filter(nzCond)
      .withColumn("a",
        graft.functions.Scores.numpyDiv(col("predict") * col("rsreal"), col("rspred")))
      .withColumn("d0",
        graft.functions.Scores.numpyDiv(lit(2.0) * (col("a") - col("real")), col("a") + col("real")))
      .withColumn("d", when(isnan(col("d0")), 0.0).otherwise(col("d0")))
      .groupBy(col("rcid").as("cid"), col("rkey").as("key"))
      .agg(avg(abs(col("d"))).as("w1"))

  /** Ripple pass + driver-side winner scan (riskloc.py:120-159). The
    * selection-level sums arrive FUSED on `candStats` (columns cid, key,
    * ep, wa, wn, sreal, spred, w2, n_nz — computed in the same
    * aggregation that produced the candidates, so the multi-cuboid
    * explode is read once for candidates+stats); only the ripple mean
    * (pass 2, a lazy broadcast of the ratios inside the same DAG) still
    * scans the exploded frame. One Spark action. */
  private def riskWinners(exploded: DataFrame, candStats: DataFrame,
      opt: Options, cuboidOf: Int => Seq[String] = _ => Seq.empty): Map[Int, Winner] = {
    val ratios = candStats.select(col("cid").as("rcid"), col("key").as("rkey"),
      col("sreal").as("rsreal"), col("spred").as("rspred"))
    val stats2 = ripplePass(exploded, ratios)

    val collected = candStats
      .join(stats2, Seq("cid", "key"), "left")
      .collect()

    // columns: cid(0) key(1) ep(2) wa(3) wn(4) sreal(5) spred(6) w2(7)
    //          n_nz(8) w1(9)
    val cands = collected.toSeq.map { r =>
      CandStats(r.getInt(0), r.getSeq[String](1).toSeq, r.getDouble(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(7)) 0.0 else r.getDouble(7), r.getLong(8),
        if (r.isNullAt(9)) 0.0 else r.getDouble(9))
    }
    scanWinners(cands, opt, cuboidOf)
  }

  private[algorithms] case class CandStats(cid: Int, key: Seq[String], ep: Double,
      wa: Double, wn: Double, w2: Double, nNz: Long, w1: Double)

  /** One layer-1 element's stage-1 aggregates: its EP mass above zero
    * (`epZ`), its anomalous-leaf count and its risk statistics. */
  private[algorithms] case class Layer1Agg(epZ: Double, partSum: Long, stats: CandStats)

  /** riskloc.py:89-96: prune layer-1 elements that are entirely normal or
    * below the adjusted EP threshold. */
  private[algorithms] def pruneLayer1(aggs: Seq[Layer1Agg], attributes: Seq[String],
      adjEpThreshold: Double, pruned: Pruned): Unit =
    aggs.foreach { g =>
      if (g.epZ < adjEpThreshold || g.partSum == 0)
        pruned.getOrElseUpdate(attributes(g.stats.cid),
          collection.mutable.ArrayBuffer.empty[String]) += g.stats.key.head
    }

  /** Layer 1's root cause: its anomalous elements above the EP threshold,
    * the best `maxCandidatesPerCuboid` per cuboid by EP, scanned per
    * cuboid; the highest-EP cuboid winner wins. */
  private[algorithms] def layer1Cause(aggs: Seq[Layer1Agg], attributes: Seq[String],
      adjEpThreshold: Double, opt: Options): Option[RootCause] = {
    val cands = aggs
      .filter(g => g.partSum > 0 && g.stats.ep > adjEpThreshold)
      .groupBy(_.stats.cid).toSeq.flatMap { case (_, gs) =>
        gs.sortBy(-_.stats.ep).take(opt.maxCandidatesPerCuboid)
      }
      .map(_.stats)
    if (cands.isEmpty) None
    else scanWinners(cands, opt, cid => Seq(attributes(cid)))
      .values.toSeq.sortBy(w => (-w.ep, w.cid)).headOption
      .map(w => rootCause(Seq(attributes(w.cid)), w))
  }

  private def rootCause(cuboid: Seq[String], w: Winner): RootCause =
    RootCause(Seq(Element(cuboid, w.key)), cuboid, cuboid.size,
      Map("ep" -> w.ep, "high_risk" -> w.high, "low_risk" -> w.low, "risk" -> w.risk))

  /** The deep cuboids (layers 2..n, cid = position + n) split into the near
    * pass (layers 2..cap) and the far fallback; traces the stage header. */
  private[algorithms] def deepLayout(attributes: Seq[String], deepCapLayer: Int,
      opt: Options): (Seq[Seq[String]], Seq[(Seq[String], Int)], Seq[(Seq[String], Int)]) = {
    val nAttrs = attributes.size
    val deep = (2 to nAttrs).flatMap(l => attributes.combinations(l).toSeq)
      .zipWithIndex.map { case (c, i) => (c, i + nAttrs) }
    val cap = math.min(math.max(2, deepCapLayer), nAttrs)
    opt.trace(s"Layers 2-$nAttrs (batched near pass to layer $cap)")
    (deep.map(_._1), deep.filter(_._1.size <= cap), deep.filter(_._1.size > cap))
  }

  /** The shallowest deep layer's highest-EP winner. */
  private[algorithms] def deepCause(winners: Map[Int, Winner],
      deepCuboids: Seq[Seq[String]], nAttrs: Int): Option[RootCause] = {
    def cuboidOf(cid: Int) = deepCuboids(cid - nAttrs)
    (2 to nAttrs).iterator
      .map(layer => winners.values.filter(w => cuboidOf(w.cid).size == layer).toSeq
        .sortBy(w => (-w.ep, w.cid)).headOption)
      .collectFirst { case Some(w) => rootCause(cuboidOf(w.cid), w) }
  }

  private[algorithms] def traceIteration(opt: Options, iteration: Int, epSum: Double,
      adjEpThreshold: Double): Unit =
    opt.trace(s"Iteration $iteration: anomalous ep sum $epSum threshold $adjEpThreshold")

  private[algorithms] def traceNewBest(opt: Options, rc: RootCause): Unit =
    opt.trace(s"New best score: ${rc.labels.mkString(";")} risk ${rc.scores("risk")}")

  /** Per-cuboid EP-desc scan on the driver: each cuboid's winner is its
    * first risk-passing candidate (riskloc.py:120-159). */
  private[algorithms] def scanWinners(cands: Seq[CandStats], opt: Options,
      cuboidOf: Int => Seq[String]): Map[Int, Winner] =
    cands.groupBy(_.cid).flatMap { case (cid, rows) =>
      opt.trace(s"Cuboid: ${cuboidOf(cid).mkString("[", ", ", "]")}")
      val ordered = rows.sortBy(r => (-r.ep, r.key.mkString(graft.core.Canonical.NulSep)))
      ordered.iterator.map { r =>
        // reference high_risk (riskloc.py:51-55): n_normal = wn + 1 is
        // rounded FIRST, then added to wa — (wa+wn)+1 rounds differently
        // and high sits exactly on 0.5 for the threshold-boundary cases
        val high = r.wa / (r.wa + (r.wn + 1.0))
        val low = if (r.nNz > 0 && r.w2 != 0.0) r.w1 / r.w2 else 0.0
        val w = Winner(cid, r.key, r.ep, high, low, high - low)
        opt.trace(s"element ${w.key.mkString("(", ", ", ")")} ep score ${w.ep} " +
          s"high ${w.high} low ${w.low} risk ${w.risk}")
        w
      }.find(_.risk >= opt.riskThreshold).map(cid -> _)
    }

  /** One remove-and-repeat iteration (reference search_anomaly,
    * riskloc.py:99-159) in at most TWO multi-cuboid passes:
    *
    *  - stage 1 covers layer 1: one expand-aggregate yields every
    *    attribute's element sums (for candidates AND this iteration's
    *    prune additions), then the batched risk passes; a layer-1 winner
    *    ends the iteration -- the common case, and the early exit that
    *    matters at scale;
    *  - stage 2 (only when layer 1 has no winner) covers ALL deeper
    *    layers in one expand-aggregate + risk pass; the reference's
    *    layer-by-layer early exit becomes a driver-side selection order
    *    over the collected winners, costing zero extra Spark jobs.
    *
    * Prune-state visibility matches the reference exactly: layer-1
    * cuboids see the iteration-start state (additions for attr X only
    * land after X's own aggregation), deeper cuboids see this
    * iteration's additions (riskloc.py:108-117). */
  private def searchAnomaly(
      df: DataFrame,
      attributes: Seq[String],
      adjEpThreshold: Double,
      pruned: Pruned,
      usePrune: Boolean,
      opt: Options,
      epGate: Option[(() => Double, Double => Unit)] = None,
      deepCapLayer: Int = 2): Option[RootCause] = {

    val spark = df.sparkSession
    import spark.implicits._
    val nAttrs = attributes.size
    def snapshotState: PruneState = pruned.iterator.map { case (k, v) => k -> v.toSeq }.toMap
    val prunedOld: PruneState = if (usePrune) snapshotState else Map.empty

    // ---- stage 1: layer 1 — ONE Spark action (VERDICT r6 #2). The round-5
    // shape collected the per-element EP/prune aggregates, selected
    // candidates on the driver, then ran a second collect for the two risk
    // passes. Layer 1's element count is the attribute-cardinality sum —
    // exactly the bounded set the EP-prune scan already collects — so both
    // risk passes are computed for EVERY layer-1 element inside the same
    // DAG (pass 2 consumes pass 1 as a lazy broadcast) and candidate
    // selection + the winner scan move driver-side: one scheduler
    // round-trip per iteration instead of two.
    val layer1 = attributes.map(Seq(_)).zipWithIndex
    // NOT persisted: the explode is a narrow codegen projection of the
    // cached scored frame, multiplied by the cuboid count — caching that
    // blowup (6x the leaves at layer 1, ~2^n deeper) spills and thrashes
    // the block manager at H scale, while recomputing it per consuming
    // pass costs only map-side CPU (VERDICT r6; the r6 H rehearsal hung
    // in exactly this cache-eviction lock pileup).
    val exploded1 = expandCuboids(df, layer1, _ => prunedOld)
    val agg1 = exploded1
      .groupBy(col("cb.cid").as("cid"), col("cb.key").as("key"))
      .agg(graft.functions.Scores.pandasSum(col("ep")).as("ep"),
        (Seq(sum("ep_z").as("ep_z"), sum("partition").as("part_sum")) ++ riskAggCols): _*)
    val ratios1 = agg1.select(col("cid").as("rcid"), col("key").as("rkey"),
      col("sreal").as("rsreal"), col("spred").as("rspred"))
    // columns: cid(0) key(1) ep(2) ep_z(3) part_sum(4) wa(5) wn(6)
    //          sreal(7) spred(8) w2(9) n_nz(10) w1(11)
    def fusedCollect(): Array[Row] =
      agg1.join(ripplePass(exploded1, ratios1), Seq("cid", "key"), "left").collect()
    // Speculative continuation check (round 13, the BatchRiskLoc wave-1
    // pattern brought to the sequential path): the caller's post-removal
    // anomalous-EP-mass action and this iteration's stage-1 collect are
    // independent reads of the same frame, so they run CONCURRENTLY; if
    // the mass is below threshold the stage-1 results are DISCARDED
    // before any prune update or winner scan, so the observable state is
    // exactly the reference's (which never searches past the check).
    // Trace lines are emitted post-wave in the sequential order
    // (iteration line, then "Layer: 1").
    val fused = epGate match {
      case None =>
        opt.trace("Layer: 1")
        fusedCollect()
      case Some((epThunk, traceIter)) =>
        val wave = graft.core.Concurrency.awaitAll[AnyRef](Seq(
          () => fusedCollect().asInstanceOf[AnyRef],
          () => java.lang.Double.valueOf(epThunk())))
        val epSum = wave(1).asInstanceOf[java.lang.Double].doubleValue
        traceIter(epSum)
        if (epSum < adjEpThreshold) return None
        opt.trace("Layer: 1")
        wave(0).asInstanceOf[Array[Row]]
    }

    // an element whose leaves all have NaN EP sums to NULL here and to 0.0
    // in pandas; read it as pandas does
    val aggs1 = fused.toSeq.map(r => Layer1Agg(r.getDouble(3), r.getLong(4),
      CandStats(r.getInt(0), r.getSeq[String](1).toSeq,
        if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        r.getDouble(5), r.getDouble(6),
        if (r.isNullAt(9)) 0.0 else r.getDouble(9), r.getLong(10),
        if (r.isNullAt(11)) 0.0 else r.getDouble(11))))
    if (usePrune) pruneLayer1(aggs1, attributes, adjEpThreshold, pruned)
    val prunedNew: PruneState = if (usePrune) snapshotState else Map.empty

    val cause1 = layer1Cause(aggs1, attributes, adjEpThreshold, opt)
    if (cause1.nonEmpty || nAttrs == 1) return cause1

    // ---- stage 2: deeper layers. Layer-capped like BatchRiskLoc
    // (round 13; the r8 batch win brought to the sequential path): winner
    // selection takes the SHALLOWEST deep layer with any winner, so the
    // near pass covers only layers 2..cap (cap = last found deep layer
    // + 1, remove-and-repeat causes cluster at one depth) and the far
    // layers run solely as a fallback when the near pass finds nothing —
    // exactly equivalent, because a near winner shadows any deeper one
    // and a near miss means layers <= cap contribute nothing. At the H
    // shape the far layers are most of the 57-cuboid explode.
    val (deepCuboids, deepNear, deepFar) = deepLayout(attributes, deepCapLayer, opt)

    def deepPass(subset: Seq[(Seq[String], Int)]): Option[RootCause] = {
      val exploded2 = expandCuboids(df, subset, _ => prunedNew)
      val candsDeep = exploded2
        .groupBy(col("cb.cid").as("cid"), col("cb.key").as("key"))
        .agg(graft.functions.Scores.pandasSum(col("ep")).as("ep"),
          (sum("partition").as("part_sum") +: riskAggCols): _*)
        .filter(col("part_sum") > 0 && col("ep") > adjEpThreshold)
        .select("cid", "key", "ep", "wa", "wn", "sreal", "spred", "w2", "n_nz")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("cid").orderBy(desc("ep"))))
        .filter(col("rn") <= opt.maxCandidatesPerCuboid)
        .drop("rn")
        .persist(StorageLevel.MEMORY_AND_DISK)

      val winners = riskWinners(exploded2, candsDeep, opt, cid => deepCuboids(cid - nAttrs))
      candsDeep.unpersist()
      deepCause(winners, deepCuboids, nAttrs)
    }

    deepPass(deepNear).orElse(if (deepFar.nonEmpty) deepPass(deepFar) else None)
  }

  /** Full RiskLoc: score, then remove-and-repeat search
    * (riskloc.py:162-215). */
  def run(df0: DataFrame, attributes: Seq[String], opt: Options = Options()): Seq[RootCause] = {
    val (scored0, adjEpThreshold, base, epSum0) = score(df0, opt)
    var df = scored0.persist(StorageLevel.MEMORY_AND_DISK)
    // base stays cached until the first stage-1 wave materializes the
    // scored frame (round 13; the explicit count-to-materialize action
    // is gone — the wave is the materializer, and releasing base before
    // it would recompute the scored lineage from the raw input)
    var baseToRelease: Option[DataFrame] = Some(base)

    val pruned = collection.mutable.Map.empty[String, collection.mutable.ArrayBuffer[String]]
    val usePrune = opt.pruneElements
    val rootCauses = collection.mutable.ArrayBuffer.empty[RootCause]

    // Iteration 1's anomalous EP mass is already known from score() (its
    // sign-flip negation is bit-exact); later iterations' mass is
    // computed CONCURRENTLY with their own stage-1 collect inside
    // searchAnomaly (round 13, epGate — the action also materializes the
    // post-removal lazy checkpoint), so the loop top pays zero extra
    // Spark actions either way.
    var pendingEp: Option[() => Double] = None
    var toUnpersist: Option[DataFrame] = None
    // Deep-layer CAP hint, exactly as BatchRiskLoc: remove-and-repeat
    // causes cluster at one depth, so the near deep pass covers layers
    // 2..(last found deep layer + 1); deeper layers run as a fallback.
    var deepCapLayer = 2
    var continue = true
    while (continue) {
      def traceIter(s: Double): Unit =
        traceIteration(opt, rootCauses.size + 1, s, adjEpThreshold)
      val found: Option[RootCause] = pendingEp match {
        case None =>
          traceIter(epSum0)
          if (epSum0 < adjEpThreshold) None
          else searchAnomaly(df, attributes, adjEpThreshold, pruned, usePrune, opt,
            deepCapLayer = deepCapLayer)
        case Some(thunk) =>
          searchAnomaly(df, attributes, adjEpThreshold, pruned, usePrune, opt,
            epGate = Some((thunk, traceIter)), deepCapLayer = deepCapLayer)
      }
      found.filter(_.layer >= 2).foreach(rc =>
        deepCapLayer = math.min(attributes.size, rc.layer + 1))
      // the previous frame's cache is only released once the wave that
      // materialized this frame's checkpoint (whose lineage reads it) ran
      toUnpersist.foreach(_.unpersist()); toUnpersist = None
      baseToRelease.foreach(_.unpersist()); baseToRelease = None
      found match {
        case None => continue = false
        case Some(rc) =>
          traceNewBest(opt, rc)
          rootCauses += rc
          val mask = rc.cuboid.zip(rc.elements.head.pairs.map(_._2))
            .map { case (a, v) => col(a) === v }.reduce(_ && _)
          // lazy checkpoint: materialized by the next iteration's wave
          val next = df.filter(!mask).localCheckpoint(false)
          pendingEp = Some(() => {
            val epSumRow = next.filter(col("partition") === 1)
              .agg(graft.functions.Scores.pandasSum(col("ep"))).collect()(0)
            if (epSumRow.isNullAt(0)) 0.0 else epSumRow.getDouble(0)
          })
          toUnpersist = Some(df)
          df = next
      }
    }
    df.unpersist()
    toUnpersist.foreach(_.unpersist())
    rootCauses.toSeq
  }

  /** Canonical prediction strings. */
  def predictions(rcs: Seq[RootCause]): Seq[String] =
    graft.model.Labels.canonicalPredictions(rcs.flatMap(_.labels))
}
