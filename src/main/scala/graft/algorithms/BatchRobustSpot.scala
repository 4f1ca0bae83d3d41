package graft.algorithms

import graft.algorithms.RobustSpot._
import graft.functions.VectorAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** RobustSpot over a UNION of many instance snapshots, batched into one
  * Spark DAG per drill-down round (the BatchRiskLoc/BatchSqueeze pattern
  * applied to RobustSpot's screen-expand-mine shape).
  *
  * The sequential path (RobustSpot.run) spends ~4 driver-coordinated
  * actions per round per instance — ~30 jobs for one snapshot, ~4000 for
  * the reference's 135-case RS corpus. Here every per-instance aggregate
  * is keyed by the instance column instead:
  *  - the six ID/CA global sums: ONE `groupBy(instance)` pass, joined
  *    back as broadcast scalar columns (`idColFrom`/`caColFrom` — the
  *    same IEEE-754 expressions as the `lit`-based sequential path);
  *  - the Kneedle knee input: ONE `collect_vector`-per-instance pass
  *    (primitive buffers, never boxed Rows);
  *  - the weighted per-attribute modes: ONE (instance, attr, value)
  *    aggregation over an attr/value explode;
  *  - every itemset/rule support: ONE (instance, bitmask) histogram pass
  *    (the mask compares each attribute to the instance's mode via a
  *    broadcast map column);
  *  - the final merge/collapse/rank support counts: ONE pass over the
  *    persisted round-0 frame against a broadcast (instance, cause)
  *    table.
  * The 7-round drill-down (robustspot.py:56-69: round 0, then three
  * independent two-round chains) runs round 0 over the corpus, then
  * rounds 1-6 in one of two shapes picked by corpus size (the
  * `// Rounds 1-6` block below): fused — rounds 1/3/5 and 2/4/6 as one
  * roundPass each over a pseudo-instance frame — or the three chains as
  * concurrent driver threads. Each pass persists its scored and flagged
  * frames for their 3-4 reuses, unless driver-mine collects the frame
  * once instead.
  *
  * Parity mode: when the input carries a `__row` column (per-instance CSV
  * row order), the global sums reduce with the exact NumpySum port over
  * row-ordered vectors and the knee input replays the reference's
  * Timsort-with-NaNs scramble (PyListSort) — bit-for-bit the sequential
  * parity path, so the RS corpus golden holds case-by-case. NOTE: parity
  * mode collects each instance's full measure vectors to the driver at
  * once (O(corpus rows) doubles) — and rounds 1-6 hold up to three
  * chains' vectors at once in either shape (~3x the sequential peak); at
  * extreme scale run the scale path (no `__row`) whose only
  * per-instance driver vector is the positive-ID knee input, bounded by
  * `Options.idSampleCap` per instance.
  *
  * Instances may carry different attribute SETS only via separate calls
  * (the attribute list is positional in the mining bitmask); group a
  * heterogeneous corpus by its attribute sequence first (see
  * RsSweep.batched).
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
object BatchRobustSpot {

  /** Corpora at or below this many rows run rounds 1-6 as TWO fused
    * pseudo-instance passes; above it the three two-round chains run
    * concurrently on driver threads. Each side has won cells measured
    * with BrsFuseAB (one JVM, one corpus per cell, CROSSOVER.md): on
    * the 32-core box fused won 7.68M through 38.4M rows by 1.28-3.5x on
    * wall (58 vs 130 jobs and 32.0 vs 38.5 GB heap at 38.4M); on a
    * 4-core box chains won 768k rows in 4 and in 16 instances (medians
    * 1.19x and 1.13x). The threshold still follows the 32-core cells,
    * so those small 4-core corpora run the slower shape. Above 38.4M
    * fused is unmeasured: its 3x pseudo frame would cache 288M rows at
    * the H shape. */
  val FuseChainsMaxRows: Long = 38400000L

  /** Whole-corpus RobustSpot: instance id -> ranked root-cause entries,
    * per-instance equal to [[RobustSpot.run]] (BatchRobustSpotSpec).
    * `fuseMaxRows` picks the rounds-1-6 shape ([[FuseChainsMaxRows]]);
    * only shape A/Bs pass it (0 forces chains, Long.MaxValue fused). */
  def run(df0: DataFrame, instanceCol: String, attributes: Seq[String],
      opt: Options = Options(),
      fuseMaxRows: Long = FuseChainsMaxRows): Map[String, Seq[Seq[Cause]]] = {
    val spark = df0.sparkSession
    import spark.implicits._
    val inst = col(instanceCol)
    val effOpt = if (opt.derived) opt else opt.copy(caThreshold = -1.0)
    val parity = df0.columns.contains("__row")

    val allInstances: Seq[String] =
      df0.select(inst.cast("string")).distinct().collect().map(_.getString(0)).toSeq
    val empty: Map[String, Seq[Seq[Cause]]] =
      allInstances.map(_ -> Seq.empty[Seq[Cause]]).toMap

    val adapted = (if (opt.derived) adaptDerived(df0) else adaptFundamental(df0))
      .withColumn(instanceCol, inst.cast("string"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def traceFor(i: String): Options =
      effOpt.copy(trace = s => effOpt.trace(s"[$i] $s"))

    /** row matches a cause encoded as map(attr -> value): every entry equal. */
    def matchesCause(m: Column): Column =
      m.isNotNull && attributes.map(a =>
        !map_contains_key(m, lit(a)) || col(a) === element_at(m, lit(a))).reduce(_ && _)

    /** One batched select-expand-mine round over `frame` (already filtered
      * to the round's active instances and dropped causes). Returns the
      * per-instance top-5 causes, the flagged frame (persisted unless
      * driver-mined; round 0's is reused by the final support counts),
      * the per-instance (nBefore, nAfter) totals, the frame's row count
      * and, under driver-mine, the collected rows per instance. `sink`
      * receives the round's trace lines — fused multi-round passes hand a
      * router that re-buckets lines per chain so the flushed stream stays
      * in round order. */
    def roundPass(roundFor: String => Int, frame: DataFrame,
        sink: String => Unit = effOpt.trace)
        : (Map[String, Seq[Cause]], DataFrame, Map[String, (Double, Double)], Long,
          Option[Map[String, Array[RobustSpot.MineRow]]]) = {
      def traceFor(i: String): Options =
        effOpt.copy(trace = s => sink(s"[$i] $s"))
      // --- global sums per instance (ID_CA.py:5-9,29-39)
      val sums: Map[String, Sums] =
        if (parity) {
          // NumpySum over CSV-row-ordered vectors; coalesce keeps NaN rows
          // in the buffers so the vectors stay row-aligned
          val cols = Seq("k_predict", "k_real", "value_predict", "value_real",
            "cnt_predict", "cnt_real")
          val aggs = VectorAgg.collectVector(col("__row").cast("double")).as("rowv") +:
            cols.map(c => VectorAgg.collectVector(
              coalesce(col(c), lit(Double.NaN))).as(s"v_$c"))
          frame.groupBy(inst.as("__i")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
            val order = graft.kernels.NumpyArgsort.argsort(
              r.getSeq[Double](1).toArray).toArray
            def s(i: Int) = graft.kernels.NumpySum.nanSum(
              order.map(r.getSeq[Double](i + 2)))
            r.getString(0) -> Sums(s(0), s(1), order.length.toLong, s(2), s(3), s(4), s(5))
          }.toMap
        } else {
          // exact_sum: order-independent global sums, bitwise equal to the
          // sequential path's on any partitioning (RobustSpot.globalSums
          // has the full rationale — the ID/CA screens amplify ULPs)
          import graft.functions.ExactSumAgg.exactSum
          def es(c: String) = exactSum(when(isnan(col(c)), lit(null)).otherwise(col(c)))
          val r = frame.groupBy(inst.as("__i")).agg(
            es("k_predict"), es("k_real"), count(lit(1)),
            es("value_predict"), es("value_real"),
            es("cnt_predict"), es("cnt_real")).collect()
          r.map { row =>
            def d(i: Int) = graft.kernels.ExactSum.valueOfBytes(row.getAs[Array[Byte]](i))
            row.getString(0) -> Sums(d(1), d(2), row.getLong(3), d(4), d(5), d(6), d(7))
          }.toMap
        }
      if (sums.isEmpty)
        return (Map.empty, frame.limit(0).withColumn("__after", lit(false))
          .withColumn("__times", lit(0L)), Map.empty, 0L, None)

      // the sums pass just counted every instance's rows
      val frameRows = sums.valuesIterator.map(_.n).sum
      // Driver-mine fast path (round 14, guide §1.2 — the sequential
      // selectExpand note): when the whole round frame fits driverMineCap
      // and no knee thinning can apply, ONE collect of the scored rows
      // serves every per-instance knee input, the weighted modes, the
      // bitmask histograms AND (round 0) the final batched support counts
      // — 2 actions per roundPass instead of 4, and no batchCounts action.
      val driverMine = !parity && opt.idSampleFraction >= 1.0 &&
        frameRows <= opt.driverMineCap &&
        sums.valuesIterator.forall(_.n <= opt.idSampleCap)

      // --- ID / CA columns from broadcast per-instance scalars
      val sumsDf = sums.toSeq.map { case (i, s) =>
        (i, s.kF, s.kV, (s.n - 1).toDouble, s.mF, s.dF, s.dF / s.mF)
      }.toDF("__si", "__kF", "__kV", "__nm1", "__mF", "__dF", "__rate1")
      val scored0 = frame.join(broadcast(sumsDf), inst === col("__si"))
        .withColumn("ID", idColFrom(col("__kF"), col("__kV"), col("__nm1")))
        .withColumn("CA", caColFrom(col("__rate1"), col("__mF"), col("__dF")))
        .drop("__si", "__kF", "__kV", "__nm1", "__mF", "__dF", "__rate1")
      // under driver-mine the single collect below is the only consumer of
      // the scored frame — a persist would only add a cache-build job
      val scored =
        if (driverMine) scored0 else scored0.persist(StorageLevel.MEMORY_AND_DISK)

      val rawByInst: Map[String, Array[(Array[String], Double, Double)]] =
        if (!driverMine) Map.empty
        else {
          val n = attributes.length
          scored.select(inst +: attributes.map(col) :+ col("ID") :+ col("CA"): _*)
            .collect().groupBy(_.getString(0)).map { case (i, rs) =>
            i -> rs.map(r => (Array.tabulate(n)(j => r.getString(1 + j)),
              if (r.isNullAt(n + 1)) Double.NaN else r.getDouble(n + 1),
              if (r.isNullAt(n + 2)) Double.NaN else r.getDouble(n + 2)))
          }
        }

      // --- knee threshold per instance (select_expand.py:39-62)
      val idVecs: Map[String, Array[Double]] =
        if (driverMine) {
          // same per-instance vector the distributed pass collected:
          // NaN/non-positive IDs screened, ascending sort, no thinning
          // (every instance fits idSampleCap under the driver-mine gate)
          rawByInst.map { case (i, raw) =>
            i -> raw.collect { case (_, id, _) if !id.isNaN && id > 0 => id }.sorted
          }
        } else if (parity) {
          scored.groupBy(inst.as("__i")).agg(
            VectorAgg.collectVector(col("__row").cast("double")).as("rowv"),
            VectorAgg.collectVector(coalesce(col("ID"), lit(Double.NaN))).as("idv"))
            .collect().map { r =>
              val order = graft.kernels.NumpyArgsort.argsort(r.getSeq[Double](1).toArray)
              val ids = order.map(r.getSeq[Double](2)).toArray
              r.getString(0) -> graft.kernels.PyListSort.sort(ids).filter(_ > 0)
            }.toMap
        } else {
          // idSampleCap bounds the per-instance knee vector (the collect is
          // O(positive IDs) otherwise — 24M-row instances blow the driver).
          // The fraction is PER INSTANCE, like the sequential path: a
          // small instance batched next to a huge one keeps ALL its IDs
          // (one count action; the collected map is one row per instance)
          val positives = scored.filter(!isnan(col("ID")) && col("ID") > 0)
          // per-instance positive-ID rows ⊆ per-instance rows, already
          // counted by the sums pass — the count action only runs when
          // some instance might actually exceed the cap (round 13, one
          // fewer serialized round-trip per roundPass). A fixed
          // idSampleFraction needs no count either: the fraction applies
          // regardless of n (instances without positives get a fracs row
          // they never join).
          val fracs: Map[String, Double] =
            if (opt.idSampleFraction < 1.0)
              sums.keysIterator.map(_.toString -> opt.idSampleFraction).toMap
            else if (sums.valuesIterator.forall(_.n <= opt.idSampleCap))
              Map.empty // frac 1 everywhere — no thinning, no count action
            else positives.groupBy(inst).count().collect().map { r =>
                val n = r.getLong(1)
                r.get(0).toString -> (
                  if (n > opt.idSampleCap) opt.idSampleCap.toDouble / n
                  else 1.0)
              }.toMap
          val sampled =
            if (fracs.isEmpty || fracs.values.forall(_ >= 1.0)) positives
            else {
              // deterministic leaf-hash thinning (same idiom as the
              // Squeeze/AutoRoot driver-statistic bounds): keep a row iff
              // hash(attrs) mod M < frac·M — reproducible, per-instance
              val M = 1L << 20
              val fracDf = broadcast(fracs.toSeq.toDF("__fi", "__frac"))
              positives.join(fracDf, inst.cast("string") === col("__fi"))
                .filter(pmod(xxhash64(attributes.map(col): _*), lit(M)) <
                  col("__frac") * M)
                .drop("__fi", "__frac")
            }
          sampled.groupBy(inst.as("__i"))
            .agg(VectorAgg.collectVector(col("ID")).as("idv"))
            .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray.sorted).toMap
        }
      val thresholds: Map[String, Double] = sums.keysIterator.map { i =>
        val ids = idVecs.getOrElse(i, Array.empty[Double])
        val t = idThreshold(ids)
        traceFor(i).trace(s"  KNEE: n=${ids.length} knee=$t\n    x=${ids.mkString("[", ", ", "]")}")
        i -> t
      }.toMap

      // --- screening flags + int-truncated expansion weights
      val thrDf = thresholds.toSeq.toDF("__ti", "__thr")
      val afterCond = !isnan(col("ID")) && col("ID") > col("__thr") &&
        col("CA") > lit(effOpt.caThreshold)
      val times =
        if (opt.derived) (col("ID") * col("CA") * opt.lambdaAmplification).cast("long")
        else (col("ID") * opt.lambdaAmplification).cast("long")
      val flagged0 = scored.join(broadcast(thrDf), inst === col("__ti")).drop("__ti")
        .withColumn("__after", afterCond)
        .withColumn("__times", times)
      val flagged =
        if (driverMine) flagged0 else flagged0.persist(StorageLevel.MEMORY_AND_DISK)

      // driver-mined rows per instance: screening flag + expansion weight
      // from the collected ID/CA with the same IEEE ops the Catalyst
      // expressions above use (RobustSpot.mkMineRows)
      val minedRows: Option[Map[String, Array[RobustSpot.MineRow]]] =
        if (!driverMine) None
        else Some(rawByInst.map { case (i, raw) =>
          i -> RobustSpot.mkMineRows(raw, thresholds(i), effOpt)
        })

      // --- weighted per-attribute modes, ties to the smallest value
      // (mining.py:9-13), one pass for every instance and attribute
      // (driver-mine: a scan of the held rows — no action)
      val modes: Map[String, Map[String, String]] = minedRows match {
        case Some(byInst) =>
          byInst.flatMap { case (i, rows) =>
            val expandRows = rows.filter(r => r.after && r.times >= 1)
            if (expandRows.isEmpty) None
            else Some(i -> attributes.indices.map { j =>
              val counts = collection.mutable.Map.empty[String, Long]
              expandRows.foreach { r =>
                counts(r.values(j)) = counts.getOrElse(r.values(j), 0L) + r.times
              }
              attributes(j) -> counts.minBy { case (v, c) => (-c, v) }._1
            }.toMap)
          }
        case None =>
          val av = explode(array(attributes.map(a =>
            struct(lit(a).as("attr"), col(a).as("value"))): _*)).as("av")
          val modeRows = flagged.filter(col("__after") && col("__times") >= 1)
            .select(inst.as("__i"), av, col("__times").as("w"))
            .groupBy(col("__i"), col("av.attr").as("attr"), col("av.value").as("value"))
            .agg(sum("w").as("cnt"))
            .collect()
          modeRows.groupBy(_.getString(0))
            .map { case (i, rows) =>
              i -> rows.groupBy(_.getString(1)).map { case (attr, vs) =>
                attr -> vs.minBy(r => (-r.getLong(3), r.getString(2))).getString(2)
              }
            }
      }

      // --- ONE (instance, bitmask) histogram pass; bit i <=> attributes(i)
      // equals the instance's mode (mining.py:33-52 batched corpus-wide)
      val minedInstances = modes.keys.toSeq.sorted
      val rcOut = collection.mutable.Map.empty[String, Seq[Cause]]
      val totals = collection.mutable.Map.empty[String, (Double, Double)]
      for (i <- sums.keys if !modes.contains(i)) {
        traceFor(i).trace(s"ROUND ${roundFor(i)}: empty expansion")
        rcOut(i) = Seq.empty
      }
      if (minedInstances.nonEmpty) {
        minedRows match {
          case Some(byInst) =>
            // driver-mine: the three per-mask histograms from the held
            // rows (RobustSpot.mineHists — exact long counts, the same
            // numbers the distributed pass produced) — no action
            for (i <- minedInstances) {
              val items: Seq[Item] = attributes.map(a => (a, modes(i)(a)))
              val (beforeHist, afterHist, expandHist) =
                RobustSpot.mineHists(byInst(i), items)
              rcOut(i) = mineFromHists(items, beforeHist, afterHist, expandHist,
                traceFor(i), roundFor(i))
              totals(i) = (beforeHist.values.sum, afterHist.values.sum)
            }
          case None =>
            val modesDf = minedInstances.map(i => (i, modes(i))).toDF("__mi", "__modes")
            val mask = attributes.zipWithIndex.map { case (a, i) =>
              when(col(a) === element_at(col("__modes"), lit(a)), 1 << i).otherwise(0)
            }.reduce(_ + _)
            val hists = flagged.join(broadcast(modesDf), inst === col("__mi"))
              .groupBy(inst.as("__i"), mask.as("mask"))
              .agg(
                count(lit(1)).cast("double").as("n_before"),
                count(when(col("__after"), lit(1))).cast("double").as("n_after"),
                sum(when(col("__after") && col("__times") >= 1, col("__times"))
                  .otherwise(0L)).cast("double").as("n_expand"))
              .collect()
              .groupBy(_.getString(0))
            for (i <- minedInstances) {
              val rows = hists(i)
              val beforeHist = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
              val afterHist = rows.map(r => r.getInt(1) -> r.getDouble(3)).toMap
              val expandHist = rows.map(r => r.getInt(1) -> r.getDouble(4)).toMap
              val items: Seq[Item] = attributes.map(a => (a, modes(i)(a)))
              rcOut(i) = mineFromHists(items, beforeHist, afterHist, expandHist,
                traceFor(i), roundFor(i))
              totals(i) = (beforeHist.values.sum, afterHist.values.sum)
            }
        }
      }
      scored.unpersist() // no-op when the round was driver-mined
      (rcOut.toMap, flagged, totals.toMap, frameRows, minedRows)
    }

    // ---- 7-round drill-down (robustspot.py:56-69), corpus-wide
    val rc = collection.mutable.Map.empty[String, Array[Seq[Cause]]]
    for (i <- allInstances) rc(i) = Array.fill[Seq[Cause]](7)(Seq.empty)

    val (rc0, flagged0, totals0, corpusRows, mined0) = roundPass(_ => 0, adapted)
    for ((i, cs) <- rc0) rc(i)(0) = cs

    // Rounds 1-6: TWO execution shapes, picked by corpus size (round 0's
    // sums pass counted the rows for free; FuseChainsMaxRows has the
    // measured cells). The three two-round chains (1→2, 3→4, 5→6) are
    // independent given round 0.
    //
    // Fused: TWO roundPass invocations over a pseudo-instance frame —
    // every active (instance, chain) pair becomes its own key
    // `<chain digit><instance>` via a broadcast join that applies the
    // pair's dropped cause(s) below every aggregation. The one-character
    // chain prefix makes any instance id round-trip, NUL and `]`
    // included, so every corpus can take this shape.
    //
    // Chains: the three chains run concurrently on driver threads, each
    // with its own instance-sized roundPass per round.
    // Either way the trace stream is chain-major, round-minor.
    def splitKey(k: String): (String, Int) = (k.substring(1), k.charAt(0) - '0')
    // trace router: lines arrive "[<chain><i>] ..." — strip the chain
    // digit and bucket per chain so the flush below replays them
    // chain-major, round-minor (chain 1 rounds 1,2; chain 2 rounds 3,4;
    // chain 3 rounds 5,6)
    def chainSink(bufs: Array[collection.mutable.ArrayBuffer[String]]): String => Unit =
      line => bufs(line.charAt(1) - '1') += "[" + line.substring(2)
    val bufsA = Array.fill(3)(collection.mutable.ArrayBuffer.empty[String])
    val bufsB = Array.fill(3)(collection.mutable.ArrayBuffer.empty[String])

    if (corpusRows <= fuseMaxRows) {
      // rounds 1/3/5: drop round-0's top-chain cause per (instance, chain)
      val slotsA = for {
        chain <- 1 to 3
        i <- allInstances if rc(i)(0).size >= chain
      } yield (s"$chain$i", i, rc(i)(0)(chain - 1).toMap)
      if (slotsA.nonEmpty) {
        val dropsA = slotsA.toDF("__k", "__di", "__c1")
        val frameA = adapted.join(broadcast(dropsA), inst === col("__di"))
          .filter(!matchesCause(col("__c1")))
          .withColumn(instanceCol, col("__k"))
          .drop("__k", "__di", "__c1")
        val (rcA, flA, _, _, _) = roundPass(k => 2 * splitKey(k)._2 - 1, frameA, chainSink(bufsA))
        flA.unpersist()
        for ((k, cs) <- rcA) { val (i, c) = splitKey(k); rc(i)(2 * c - 1) = cs }

        // rounds 2/4/6: additionally drop the A-round's top cause
        val slotsB = for {
          chain <- 1 to 3
          i <- allInstances
          if rc(i)(0).size >= chain && rc(i)(2 * chain - 1).nonEmpty
        } yield (s"$chain$i", i, rc(i)(0)(chain - 1).toMap,
            rc(i)(2 * chain - 1).head.toMap)
        if (slotsB.nonEmpty) {
          val dropsB = slotsB.toDF("__k", "__di", "__c1", "__c2")
          val frameB = adapted.join(broadcast(dropsB), inst === col("__di"))
            .filter(!matchesCause(col("__c1")) && !matchesCause(col("__c2")))
            .withColumn(instanceCol, col("__k"))
            .drop("__k", "__di", "__c1", "__c2")
          val (rcB, flB, _, _, _) = roundPass(k => 2 * splitKey(k)._2, frameB, chainSink(bufsB))
          flB.unpersist()
          for ((k, cs) <- rcB) { val (i, c) = splitKey(k); rc(i)(2 * c) = cs }
        }
      }
      for (c <- 0 until 3) { bufsA(c).foreach(effOpt.trace); bufsB(c).foreach(effOpt.trace) }
    } else {
      // concurrent chains: disjoint rc slots; traces buffered per chain
      // and flushed in chain order (= round order 1..6), the identical
      // stream the fused path routes into bufsA/bufsB. The overlap is
      // worth 1.77x over serial chains at 4 x 9.6M (H_SCALE.md round 14).
      val laterFrames = collection.mutable.ArrayBuffer.empty[DataFrame]
      locally {
        val chains = graft.core.Concurrency.awaitAll(
          (1 to 3).map { dim1 => () => {
            val buf = collection.mutable.ArrayBuffer.empty[String]
            val frames = collection.mutable.ArrayBuffer.empty[DataFrame]
            val i1 = 2 * dim1 - 1
            val active1 = allInstances.filter(i => rc(i)(0).size >= dim1)
            if (active1.nonEmpty) {
              val drops1 = active1.map(i => (i, rc(i)(0)(dim1 - 1).toMap)).toDF("__di", "__c1")
              val frame1 = adapted.join(broadcast(drops1), inst === col("__di"))
                .filter(!matchesCause(col("__c1"))).drop("__di", "__c1")
              val (rc1, fl1, _, _, _) = roundPass(_ => i1, frame1, buf.append(_))
              frames += fl1
              for ((i, cs) <- rc1) rc(i)(i1) = cs

              val active2 = active1.filter(i => rc(i)(i1).nonEmpty)
              if (active2.nonEmpty) {
                val drops2 = active2.map(i =>
                  (i, rc(i)(0)(dim1 - 1).toMap, rc(i)(i1).head.toMap)).toDF("__di", "__c1", "__c2")
                val frame2 = adapted.join(broadcast(drops2), inst === col("__di"))
                  .filter(!matchesCause(col("__c1")) && !matchesCause(col("__c2")))
                  .drop("__di", "__c1", "__c2")
                val (rc2, fl2, _, _, _) = roundPass(_ => i1 + 1, frame2, buf.append(_))
                frames += fl2
                for ((i, cs) <- rc2) rc(i)(i1 + 1) = cs
              }
            }
            (buf, frames)
          } })
        chains.foreach { case (buf, frames) =>
          buf.foreach(effOpt.trace)
          laterFrames ++= frames
        }
      }
      laterFrames.foreach(_.unpersist())
    }

    // ---- merge + collapse + rank per instance; support counts batched
    // over the persisted round-0 frame against broadcast cause tables
    val withResults = allInstances.filter(i => rc(i)(0).nonEmpty)
    val result: Map[String, Seq[Seq[Cause]]] =
      if (withResults.isEmpty) Map.empty
      else {
        val mergeRes0: Map[String, Seq[Seq[Cause]]] =
          withResults.map(i => i -> mergeRounds(rc(i).toIndexedSeq)).toMap
        val keepOf: Map[String, Map[Seq[Cause], Cause]] =
          withResults.map(i => i -> keepCandidates(mergeRes0(i).filter(_.length > 1))).toMap

        /** Batched cause support counts: (instance, causeId) -> (n matching
          * rows, n matching screened rows) via one broadcast-join pass. */
        def batchCounts(causes: Map[String, Seq[Cause]]): Map[(String, Int), (Long, Long)] = {
          val rows = causes.toSeq.flatMap { case (i, cs) =>
            cs.zipWithIndex.map { case (c, idx) => (i, idx, c.toMap) }
          }
          if (rows.isEmpty) Map.empty
          else {
            val causesDf = rows.toDF("__qi", "__qid", "__qc")
            flagged0.join(broadcast(causesDf), inst === col("__qi"))
              .filter(matchesCause(col("__qc")))
              .groupBy(col("__qi"), col("__qid"))
              .agg(count(lit(1)).as("nb"), count(when(col("__after"), lit(1))).as("na"))
              .collect()
              .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
          }
        }

        // ONE batched pass for every support count the collapse AND rank
        // stages can ask for (round 13; previously two batchCounts
        // passes over the persisted round-0 frame). Post-collapse causes
        // are a subset of the pre-collapse entry causes plus the sorted
        // keep candidates (collapseEntries only ever substitutes
        // `keep.sortBy(_._1)`), so the per-instance union covers both
        // lookups.
        val allCauses: Map[String, Seq[Cause]] = withResults.map { i =>
          val keeps = keepOf(i).values.filter(_.nonEmpty).toSeq
          i -> (mergeRes0(i).flatten ++ keeps ++ keeps.map(_.sortBy(_._1))).distinct
        }.toMap
        val allCounts: Map[(String, Int), (Long, Long)] = mined0 match {
          case Some(byInst) =>
            // round 0 was driver-mined: every support count is a scan of
            // the held rows — no batchCounts action (round 14). Cause
            // match = every item's attribute equals its value, like
            // matchesCause (a null attribute value never equals one).
            val attrIdx = attributes.zipWithIndex.toMap
            allCauses.toSeq.flatMap { case (i, cs) =>
              val rows = byInst.getOrElse(i, Array.empty[RobustSpot.MineRow])
              cs.zipWithIndex.map { case (c, idx) =>
                def m(r: RobustSpot.MineRow) =
                  c.forall { case (a, v) => r.values(attrIdx(a)) == v }
                (i, idx) -> (rows.count(m(_)).toLong,
                  rows.count(r => r.after && m(r)).toLong)
              }
            }.toMap
          case None => batchCounts(allCauses)
        }

        val collapsed: Map[String, Seq[Seq[Cause]]] = withResults.map { i =>
          val idxOf = allCauses(i).zipWithIndex.toMap
          def dimCount(c: Cause): Double =
            allCounts.get((i, idxOf(c))).map(_._1.toDouble).getOrElse(0.0)
          val nBefore0 = totals0(i)._1
          i -> dedupeEntries(collapseEntries(mergeRes0(i), keepOf(i), dimCount, nBefore0))
        }.toMap

        withResults.map { i =>
          val idxOf = allCauses(i).zipWithIndex.toMap
          def beforeCount(c: Cause): Double =
            allCounts.get((i, idxOf(c))).map(_._1.toDouble).getOrElse(0.0)
          def afterCount(c: Cause): Double =
            allCounts.get((i, idxOf(c))).map(_._2.toDouble).getOrElse(0.0)
          val (nBefore0, nAfter0) = totals0(i)
          val entries = rankEntries(collapsed(i), beforeCount, afterCount,
            nBefore0, nAfter0, opt.k)
          traceFor(i).trace("FINAL:\n" + entries.map(e =>
            "   " + e.map(_.mkString("&")).mkString(" | ")).mkString("\n"))
          i -> entries
        }.toMap
      }

    flagged0.unpersist()
    adapted.unpersist()
    empty ++ result
  }

  /** Canonical per-instance prediction strings (evaluation.py:46-49). */
  def predictions(results: Map[String, Seq[Seq[Cause]]]): Map[String, Seq[String]] =
    results.view.mapValues(RobustSpot.predictions).toMap
}
