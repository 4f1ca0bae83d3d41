package graft.algorithms

import graft.functions.Scores.numpyDiv
import graft.kernels.{Kernels, NumpyArgsort, PyHash}
import graft.model.Labels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** RobustSpot — influence-degree / contribution-ability screening plus
  * association-rule mining over an oversampled anomaly set, with a 7-round
  * drill-down. Reference behavior: the algorithms/robustspot package.
  *
  * Spark-first redesign:
  *  - ID and CA are pure column algebra over one global-sum pass
  *    (ID_CA.py's python row loops become codegen'd expressions);
  *  - the reference's row EXPANSION (`expand_list.extend([row]*times)`,
  *    select_expand.py:72-81) becomes a `times` WEIGHT column — itemset
  *    supports are weighted counts, so no data blowup ever materializes;
  *  - all itemset/rule supports of a mining round batch into ONE
  *    aggregation: each row gets a bitmask of which mode-items it matches
  *    (≤ 2^#attrs distinct masks), and every support is a driver-side sum
  *    over the collected mask histogram;
  *  - only the sorted positive-ID vector (for the Kneedle threshold — a
  *    distribution-level statistic; sample at extreme scale) and small
  *    per-round summaries reach the driver.
  *
  * Replicated reference quirks (scaladoc'd at each site): the `int()`
  * truncation of expansion times, mode ties resolved to the smallest
  * value, the p2p-discard merge step, ID=NaN rows (0/0) dropping out of
  * the expansion, pandas' NaN-skipping global sums, and — in parity mode
  * (input carries a `__row` CSV-order column) — the reference's
  * sort-with-NaNs quirk: it sorts the influence-degree list with NaNs
  * still inside (select_expand.py:42-44), which under CPython Timsort
  * leaves the list deterministically partially-unsorted and feeds the
  * knee detector scrambled x values. PyListSort replays that scramble
  * bit-for-bit; without `__row` the scale path uses a clean sorted
  * positive-ID vector instead.
  */
object RobustSpot {

  final case class Options(
      k: Int = 3,
      derived: Boolean = true,
      caThreshold: Double = 0.0,
      confidenceThreshold: Double = 0.8,
      lambdaAmplification: Int = 100,
      /** Fraction of positive-ID values fed to the Kneedle threshold.
        * The knee is a distribution statistic, so on 100 TB-scale
        * snapshots a seeded sample (< 1.0) bounds the driver vector
        * without changing the screening materially; 1.0 = bit-exact
        * reference parity. */
      idSampleFraction: Double = 1.0,
      /** Hard cap on the knee-input vector in the scale (non-parity) path:
        * when the positive-ID count exceeds it, a seeded sample of ~this
        * size is taken even at idSampleFraction=1.0. The knee is a
        * distribution statistic; an unbounded collect is O(snapshot rows)
        * and would blow the driver at 24M-row instances (r7 H rehearsal). */
      idSampleCap: Long = 2000000L,
      /** Driver-mine cap (round 14, guide §1.2): when a round's frame fits
        * this many rows (and no knee thinning applies), ONE collect of the
        * scored leaf rows replaces the knee, modes and histogram actions —
        * the mining arithmetic (threshold screen, int-truncated weights,
        * weighted modes, bitmask supports) runs on the driver over the
        * same IEEE doubles the distributed expressions produced, so every
        * count/sum is bit-identical (all integers < 2^53). Above the cap
        * the distributed passes run unchanged — this is a small-frame
        * round-trip eliminator, the same dispatch idea as idSampleCap,
        * not the scale path. 0 disables (measurement A/Bs). */
      driverMineCap: Long = 500000L,
      /** Per-round debug tracing (the reference's --debug analogue):
        * receives screening/mode/top-5/final lines. */
      trace: String => Unit = _ => ())

  type Item = (String, String)
  /** A root cause: items sorted by attribute name (mining.py:102-104). */
  type Cause = Seq[Item]

  // ------------------------------------------------------- data adaptation

  /** robustspot.py:15-20 — fundamental measures: unit value/cnt columns. */
  def adaptFundamental(df: DataFrame): DataFrame =
    df.filter(col("real") > 0 || col("predict") > 0)
      .withColumn("k_real", col("real"))
      .withColumn("k_predict", col("predict"))
      .withColumn("cnt_real", lit(1.0)).withColumn("cnt_predict", lit(1.0))
      .withColumn("value_real", lit(1.0)).withColumn("value_predict", lit(1.0))

  /** robustspot.py:23-36 — derived measures: k becomes 1 - success rate. */
  def adaptDerived(df: DataFrame): DataFrame =
    df.filter(col("real_a") > 0 || col("predict_a") > 0 ||
        col("real_b") > 0 || col("predict_b") > 0)
      .withColumn("value_real", col("real_b") - col("real_a"))
      .withColumn("value_predict", col("predict_b") - col("predict_a"))
      .withColumn("cnt_real", col("real_b"))
      .withColumn("cnt_predict", col("predict_b"))
      .withColumn("k_real", numpyDiv(col("value_real"), col("cnt_real")))
      .withColumn("k_predict", numpyDiv(col("value_predict"), col("cnt_predict")))

  // ------------------------------------------------------------ ID and CA

  /** One pass for all six global sums feeding ID and CA. */
  private[algorithms] final case class Sums(kF: Double, kV: Double, n: Long,
      mF: Double, mV: Double, dF: Double, dV: Double)

  // (pandas `.sum()` skips NaN — skipna=True — while Spark's propagates
  // it, so the global sums below null NaN out before aggregating)

  private def globalSums(df: DataFrame): Sums =
    if (df.columns.contains("__row")) {
      // Parity mode: pandas sums round with numpy's pairwise algorithm
      // over the rows in CSV order — a ULP off a Spark sequential fold,
      // which the CA > 0 / ID > knee screens can amplify into different
      // survivors. Collect the six measure columns ordered by __row and
      // reduce with the exact NumpySum port.
      val cols = Seq("k_predict", "k_real", "value_predict", "value_real",
        "cnt_predict", "cnt_real")
      val rows = df.select((col("__row").cast("long") +: cols.map(col)): _*)
        .collect().sortBy(_.getLong(0))
      def vec(i: Int) = rows.map(r => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
      def s(i: Int) = graft.kernels.NumpySum.nanSum(vec(i))
      Sums(s(1), s(2), rows.length.toLong, s(3), s(4), s(5), s(6))
    } else {
      // exact_sum: the six global sums feed ID/CA whose > screens amplify a
      // ULP into different survivors — a Spark `sum`'s combine order varies
      // with partitioning, so batch and sequential (and two runs of the
      // same mode) could disagree. The superaccumulator result is a
      // function of the value multiset alone (the squeeze tie fix, r9:
      // the 4.8M crossover cell caught robustspot rank swaps from this).
      import graft.functions.ExactSumAgg.exactSum
      def es(c: String) = exactSum(when(isnan(col(c)), lit(null)).otherwise(col(c)))
      val r = df.agg(
        es("k_predict"), es("k_real"), count(lit(1)),
        es("value_predict"), es("value_real"),
        es("cnt_predict"), es("cnt_real")).collect()(0)
      def d(i: Int) = graft.kernels.ExactSum.valueOfBytes(r.getAs[Array[Byte]](i))
      Sums(d(0), d(1), r.getLong(2), d(3), d(4), d(5), d(6))
    }

  /** Influence degree (ID_CA.py:12-26): leave-one-out averages; NaN/Inf
    * propagate exactly as numpy (0/0 rows get ID=NaN and are screened out
    * by the `ID > threshold` filter). Column-parameterized so the scalars
    * can come from `lit`s (one instance) or a joined per-instance column
    * (BatchRobustSpot) with identical IEEE-754 arithmetic. */
  private[algorithms] def idColFrom(kF: Column, kV: Column, nm1: Column): Column = {
    val denom = numpyDiv(kV - col("k_real"), nm1) - numpyDiv(kF - col("k_predict"), nm1)
    lit(1.0) - numpyDiv(lit(1.0), abs(numpyDiv(col("k_real") - col("k_predict"), denom)) + lit(1.0))
  }

  private def idCol(s: Sums): Column =
    idColFrom(lit(s.kF), lit(s.kV), lit((s.n - 1).toDouble))

  /** Contribution ability (ID_CA.py:42-71): NaN -> 0 (the per-row isnan
    * check; the reference's unassigned replace/fillna is a no-op we do not
    * "fix", SURVEY.md §7.3). `rate1` is the driver-computed dF/mF scalar
    * (JVM IEEE-754 division = numpy). */
  private[algorithms] def caColFrom(rate1: Column, mF: Column, dF: Column): Column = {
    // parenthesization matters: the reference computes v + (sum - f)
    // (ID_CA.py:57), not (v + sum) - f — a ULP apart, and CA > 0 is a
    // strict screen
    val rate2 = numpyDiv(col("value_real") + (mF - col("value_predict")),
      col("cnt_real") + (dF - col("cnt_predict")))
    val ca = rate1 * rate2 - lit(1.0)
    when(isnan(ca), 0.0).otherwise(ca)
  }

  private def caCol(s: Sums): Column =
    caColFrom(lit(s.dF / s.mF), lit(s.mF), lit(s.dF))

  /** Kneedle threshold over the positive-ID CDF (select_expand.py:39-62):
    * S=6, degree-7 polynomial fit, default 0.5. The x vector is taken in
    * the order given — in parity mode that is the reference's partially
    * scrambled post-Timsort order, not ascending. */
  private[algorithms] def idThreshold(positiveIds: Array[Double]): Double = {
    if (positiveIds.isEmpty) return 0.5
    val n = positiveIds.length
    val cdf = Array.tabulate(n)(i => (i + 1).toDouble / n)
    Kernels.kneedle(positiveIds, cdf, s = 6.0, polynomialDegree = 7).getOrElse(0.5)
  }

  // --------------------------------------------------------- select/expand

  /** One scored leaf row held on the driver (the driver-mine fast path,
    * Options.driverMineCap): attribute values in `attributes` order plus
    * the distributed-computed ID/CA doubles (null collected as NaN — both
    * fail every strict `>` screen exactly like the SQL NULL did) and the
    * screening flag / int-truncated expansion weight derived from them
    * with the same IEEE-754 ops the Catalyst expressions used. */
  private[algorithms] final case class MineRow(values: Array[String],
      id: Double, ca: Double, after: Boolean, times: Long)

  private[algorithms] def mkMineRows(raw: Array[(Array[String], Double, Double)],
      threshold: Double, opt: Options): Array[MineRow] =
    raw.map { case (vals, id, ca) =>
      // afterCond: !isnan(ID) && ID > knee && CA > caThreshold (NaN fails
      // every >, like SQL NULL/NaN); times: int() truncation toward zero,
      // (ID * CA) * lambda in the same association Catalyst used
      val after = !id.isNaN && id > threshold && ca > opt.caThreshold
      val times =
        if (opt.derived) (id * ca * opt.lambdaAmplification).toLong
        else (id * opt.lambdaAmplification).toLong
      MineRow(vals, id, ca, after, times)
    }

  private final case class RoundState(before: DataFrame,
      scoredWithTimes: DataFrame, cached: DataFrame,
      mined: Option[Array[MineRow]] = None) {
    /** The weighted expansion rows (screened, positive times). */
    def expand: DataFrame = scoredWithTimes
      .filter(col("__after") && col("__times") >= 1)
      .withColumnRenamed("__times", "w")
  }

  /** select_expand.py:21-85 — screen by ID knee + CA threshold, then weight
    * surviving rows by the int-truncated amplification factor. */
  private def selectExpand(before: DataFrame, attrs: Seq[String], opt: Options): RoundState = {
    val s = globalSums(before)
    val scored = before.withColumn("ID", idCol(s)).withColumn("CA", caCol(s))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Knee input. Two modes:
    //  - parity (a `__row` column is present, i.e. an RS parity run): the
    //    reference sorts the FULL ID list — NaNs included — with Python
    //    list.sort() in pandas row order, then filters > 0
    //    (select_expand.py:42-44). `<` is not total over NaN, so the
    //    result is a deterministic partial scramble the knee depends on.
    //    Replay it: collect (row, ID), order by row, CPython-exact
    //    PyListSort, filter. Driver-side, but inherently so — bounded by
    //    the snapshot leaf count.
    //  - scale (no `__row`): NaN/non-positive IDs are screened
    //    distributed-side and the survivors travel as ONE primitive
    //    array<double> per partition (collect_vector), never boxed Rows;
    //    opt.idSampleFraction bounds the driver vector. Note Spark orders
    //    NaN greater than any number, so the isnan guard precedes > 0.
    // Driver-mine fast path (round 14, guide §1.2): when the frame fits
    // Options.driverMineCap (and no knee thinning applies — frac is 1
    // anyway), ONE collect of the scored rows serves the knee input AND
    // the round's mining passes (weighted modes, bitmask histograms) and
    // the final support counts — 1 action instead of 3 per round plus the
    // final count pass.
    val driverRaw: Option[Array[(Array[String], Double, Double)]] =
      if (before.columns.contains("__row") || opt.idSampleFraction < 1.0 ||
        s.n > math.min(opt.idSampleCap, opt.driverMineCap)) None
      else {
        val n = attrs.length
        val collected = scored.select(attrs.map(col) :+ col("ID") :+ col("CA"): _*).collect()
        Some(collected.map { r =>
          (Array.tabulate(n)(i => r.getString(i)),
            if (r.isNullAt(n)) Double.NaN else r.getDouble(n),
            if (r.isNullAt(n + 1)) Double.NaN else r.getDouble(n + 1))
        })
      }
    val ids: Array[Double] =
      if (driverRaw.isDefined) {
        // same vector the distributed path collected: NaN/non-positive IDs
        // screened, ascending sort (no thinning — frac is 1 under the cap)
        driverRaw.get.collect { case (_, id, _) if !id.isNaN && id > 0 => id }.sorted
      } else if (before.columns.contains("__row")) {
        val pairs = scored.select(col("__row").cast("long"), col("ID")).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
          .sortBy(_._1).map(_._2)
        graft.kernels.PyListSort.sort(pairs).filter(_ > 0)
      } else {
        val positives = scored.filter(!isnan(col("ID")) && col("ID") > 0)
        // positive-ID rows ⊆ the frame's rows, and the sums pass already
        // counted those (s.n) — when the whole frame fits the cap no
        // count action is needed at all (round 13, guide §1.2/§2.4: one
        // fewer serialized driver round-trip per screening round)
        val frac =
          if (opt.idSampleFraction < 1.0) opt.idSampleFraction
          else if (s.n <= opt.idSampleCap) 1.0
          else {
            val n = positives.count()
            if (n > opt.idSampleCap) opt.idSampleCap.toDouble / n else 1.0
          }
        // deterministic leaf-hash thinning, the SAME rule BatchRobustSpot
        // applies per instance — a Bernoulli sample() here would pick
        // different survivors per partitioning and diverge from the batch
        // path whenever the cap engages (r9: 4.8M crossover cell).
        // Assumption: positive-ID rows are one row per distinct leaf
        // tuple, which holds for every input this path sees (snapshots
        // are leaf-grained; expansion replication happens downstream of
        // the knee). If rows ever shared attr tuples, hashing on attrs
        // would keep/drop whole tuples together and the effective knee
        // input could deviate from idSampleCap.
        val sampled =
          if (frac >= 1.0) positives
          else {
            val M = 1L << 20
            positives.filter(
              pmod(xxhash64(attrs.map(col): _*), lit(M)) < lit(frac) * M)
          }
        graft.functions.VectorAgg.collectToDriver(sampled, col("ID")).sorted
      }
    val threshold = idThreshold(ids)
    opt.trace(s"  KNEE: n=${ids.length} knee=$threshold\n    x=${ids.mkString("[", ", ", "]")}")

    // pandas: NaN > x is false; Spark orders NaN above every number, so
    // ID=NaN (0/0) rows must be screened out explicitly
    val afterCond = !isnan(col("ID")) && col("ID") > threshold && col("CA") > opt.caThreshold
    // int() truncation toward zero (select_expand.py:76-79); non-positive
    // times = zero replicas = the row never reaches the expansion
    val times =
      if (opt.derived) (col("ID") * col("CA") * opt.lambdaAmplification).cast("long")
      else (col("ID") * opt.lambdaAmplification).cast("long")
    val swt = scored.withColumn("__after", afterCond).withColumn("__times", times)
    RoundState(scored.drop("ID", "CA"), swt, scored,
      mined = driverRaw.map(mkMineRows(_, threshold, opt)))
  }

  // --------------------------------------------------------------- mining

  /** Weighted per-attribute mode, ties to the smallest value (pandas
    * df[col].mode().values[0], mining.py:9-13) — one aggregation pass for
    * every attribute via an attr/value explode. */
  private def weightedModes(expand: DataFrame, attrs: Seq[String]): Map[String, String] = {
    val av = explode(array(attrs.map(a =>
      struct(lit(a).as("attr"), col(a).as("value"))): _*)).as("av")
    expand.select(av, col("w"))
      .groupBy(col("av.attr").as("attr"), col("av.value").as("value"))
      .agg(sum("w").as("cnt"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (attr, rows) =>
        attr -> rows.minBy(r => (-r.getLong(2), r.getString(1))).getString(1)
      }
  }

  private[algorithms] def supp(hist: Map[Int, Double], bits: Int): Double =
    hist.collect { case (m, c) if (m & bits) == bits => c }.sum

  /** The weighted modes + three bitmask histograms of one mining round,
    * computed on the driver over collected [[MineRow]]s — value-identical
    * to the distributed weightedModes + mask-histogram aggregations: every
    * count/weight is exact long arithmetic cast to double at the end
    * (integers < 2^53), the mode tie-break is the same (-count, value)
    * ordering, and a null attribute value can never equal a (non-null)
    * mode value, like the SQL `===`. Shared by the sequential path and
    * BatchRobustSpot's per-instance driver-mine. */
  private[algorithms] def mineDriver(rows: Array[MineRow], attrs: Seq[String],
      opt: Options, round: Int): Seq[Cause] = {
    val expandRows = rows.filter(r => r.after && r.times >= 1)
    if (expandRows.isEmpty) { opt.trace(s"ROUND $round: empty expansion"); return Seq.empty }
    val items: Seq[Item] = attrs.indices.map { i =>
      val counts = collection.mutable.Map.empty[String, Long]
      expandRows.foreach { r =>
        counts(r.values(i)) = counts.getOrElse(r.values(i), 0L) + r.times
      }
      attrs(i) -> counts.minBy { case (v, c) => (-c, v) }._1
    }
    val (beforeHist, afterHist, expandHist) = mineHists(rows, items)
    mineFromHists(items, beforeHist, afterHist, expandHist, opt, round)
  }

  /** The three per-mask support histograms over collected rows (bit i set
    * iff attribute i equals its mode item). */
  private[algorithms] def mineHists(rows: Array[MineRow], items: Seq[Item])
      : (Map[Int, Double], Map[Int, Double], Map[Int, Double]) = {
    val nBefore = collection.mutable.Map.empty[Int, Long]
    val nAfter = collection.mutable.Map.empty[Int, Long]
    val nExpand = collection.mutable.Map.empty[Int, Long]
    rows.foreach { r =>
      var m = 0
      var i = 0
      while (i < items.length) { if (r.values(i) == items(i)._2) m |= 1 << i; i += 1 }
      nBefore(m) = nBefore.getOrElse(m, 0L) + 1L
      if (r.after) {
        nAfter(m) = nAfter.getOrElse(m, 0L) + 1L
        if (r.times >= 1) nExpand(m) = nExpand.getOrElse(m, 0L) + r.times
      }
    }
    // the distributed groupBy(mask) emits one row per PRESENT mask with
    // all three counts (zeros included) — mirror that key set
    val masks = nBefore.keySet
    (masks.iterator.map(m => m -> nBefore(m).toDouble).toMap,
      masks.iterator.map(m => m -> nAfter.getOrElse(m, 0L).toDouble).toMap,
      masks.iterator.map(m => m -> nExpand.getOrElse(m, 0L).toDouble).toMap)
  }

  /** One mining round (mining.py:76-107): association rules over the
    * mode-itemset power set, confidence filter, support-delta top-5.
    * All three support tables (weighted expand, before, after) come from
    * ONE bitmask-histogram pass over the round's scored frame — every
    * itemset/rule support is then a driver-side sum (or, when the round
    * collected its rows under driverMineCap, from the driver-held rows
    * with no action at all). */
  private def mine(state: RoundState, attrs: Seq[String], opt: Options, round: Int = -1): Seq[Cause] = {
    state.mined match {
      case Some(rows) => return mineDriver(rows, attrs, opt, round)
      case None =>
    }
    val modes = weightedModes(state.expand, attrs)
    if (modes.isEmpty) { opt.trace(s"ROUND $round: empty expansion"); return Seq.empty } // mining.py degenerate case
    val items: Seq[Item] = attrs.map(a => (a, modes(a)))

    // one pass: before = all rows, after = screened rows, expand = screened
    // rows weighted by their (positive) expansion times
    val mask = items.zipWithIndex.map { case ((a, v), i) =>
      when(col(a) === lit(v), 1 << i).otherwise(0)
    }.reduce(_ + _)
    val hists = state.scoredWithTimes
      .groupBy(mask.as("mask"))
      .agg(
        count(lit(1)).cast("double").as("n_before"),
        count(when(col("__after"), lit(1))).cast("double").as("n_after"),
        sum(when(col("__after") && col("__times") >= 1, col("__times"))
          .otherwise(0L)).cast("double").as("n_expand"))
      .collect()
    val beforeHist = hists.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val afterHist = hists.map(r => r.getInt(0) -> r.getDouble(2)).toMap
    val expandHist = hists.map(r => r.getInt(0) -> r.getDouble(3)).toMap
    mineFromHists(items, beforeHist, afterHist, expandHist, opt, round)
  }

  /** The driver half of one mining round: association rules over the
    * mode-itemset power set from pre-computed bitmask histograms.
    * Shared verbatim by the sequential path above and BatchRobustSpot
    * (whose histograms come from one instance-keyed pass). */
  private[algorithms] def mineFromHists(items: Seq[Item], beforeHist: Map[Int, Double],
      afterHist: Map[Int, Double], expandHist: Map[Int, Double],
      opt: Options, round: Int): Seq[Cause] = {
    val idxs = items.indices
    val nBefore = beforeHist.values.sum
    val nAfter = afterHist.values.sum

    // rules: itemsets of size 2..3, every lhs/rhs split (mining.py:16-30),
    // then SCRAMBLED by `list(set(rules))` (mining.py:83). The scramble is
    // load-bearing: support deltas are ratios of small integer counts, so
    // exact ties are common, the downstream np.argsort is not stable, and
    // the top-5 cut lands inside tie groups — replicate CPython's set
    // iteration order (PyHash/PySet) and numpy's introsort exactly.
    type Rule = (Seq[Item], Seq[Item])
    val itemHash: Item => Long =
      it => PyHash.tupleHash(Seq(PyHash.strHash(it._1), PyHash.strHash(it._2)))
    val ruleHash: Rule => Long = { r =>
      def side(xs: Seq[Item]) = PyHash.tupleHash(xs.map(itemHash))
      PyHash.tupleHash(Seq(side(r._1), side(r._2)))
    }
    val itemIdx: Map[Item, Int] = items.zipWithIndex.toMap
    val allRules: Seq[Rule] = (2 to 3).flatMap(r => idxs.combinations(r)).flatMap { is =>
      val s = is.map(items)
      val sSet = PyHash.PySet.of[Item](s, itemHash)
      // rhs = tuple(set(s) - set(lhs)): the difference's table order
      (1 until s.length).flatMap(r => is.combinations(r).map { lhsIdx =>
        val lhs = lhsIdx.map(items)
        val rhs = PyHash.PySet.difference(sSet, PyHash.PySet.of[Item](lhs, itemHash), itemHash).toList
        (lhs, rhs): Rule
      })
    }
    val orderedRules = PyHash.PySet.of[Rule](allRules, ruleHash).toList

    val crossCauses = orderedRules.flatMap { case (lhs, rhs) =>
      val lhsBits = lhs.map(it => 1 << itemIdx(it)).sum
      val rhsBits = rhs.map(it => 1 << itemIdx(it)).sum
      val nl = supp(expandHist, lhsBits)
      val conf = if (nl == 0) 0.0 else supp(expandHist, lhsBits | rhsBits) / nl
      if (conf > opt.confidenceThreshold) Some(lhsBits | rhsBits) else None
    }.distinct // dedup by content, first occurrence (mining.py:88-92)

    val causeBits = crossCauses ++ idxs.map(1 << _) // + singletons (size-1 power set)
    val deltas = causeBits.map(b => supp(beforeHist, b) / nBefore - supp(afterHist, b) / nAfter)
    val top5 = NumpyArgsort.argsort(deltas.toArray).take(5).toSeq
      .map(i => idxs.filter(j => (causeBits(i) & (1 << j)) != 0).map(items).sortBy(_._1))
    opt.trace(s"ROUND $round: expand_rows=${expandHist.values.sum.toLong} " +
      s"before_rows=${nBefore.toLong} after_rows=${nAfter.toLong}\n" +
      s"  modes: ${items.sortBy(_._1).mkString(", ")}\n" +
      top5.map(c => s"  top5: ${c.mkString("&")}").mkString("\n"))
    top5
  }

  // -------------------------------------------------------------- merging

  private def sameAttrsPositionally(a: Cause, b: Cause): Boolean =
    a.length == b.length && a.indices.forall(i => a(i)._1 == b(i)._1)

  private def anyValueDiffers(a: Cause, b: Cause): Boolean =
    a.indices.exists(i => a(i)._2 != b(i)._2)

  /** final.py:14-29 — pairs of equal-shape causes differing in a value. */
  private[algorithms] def mergeCauses2(xs: Seq[Cause], ys: Seq[Cause]): Seq[Seq[Cause]] =
    for (c1 <- xs; c2 <- ys
         if sameAttrsPositionally(c1, c2) && anyValueDiffers(c1, c2))
      yield Seq(c1, c2)

  /** final.py:32-49 — triples, all three pairwise differing at a position. */
  private[algorithms] def mergeCause3(xs: Seq[Cause], ys: Seq[Cause], zs: Seq[Cause]): Seq[Seq[Cause]] =
    for (c1 <- xs; c2 <- ys; c3 <- zs
         if sameAttrsPositionally(c1, c2) && sameAttrsPositionally(c2, c3) &&
           c1.indices.exists(i => c1(i)._2 != c2(i)._2 && c1(i)._2 != c3(i)._2 &&
             c2(i)._2 != c3(i)._2))
      yield Seq(c1, c2, c3)

  private[algorithms] def getMergeRes(a: Seq[Cause], b: Seq[Cause], c: Seq[Cause]): Seq[Seq[Cause]] =
    mergeCauses2(a, b) ++ mergeCauses2(a, c) ++ mergeCauses2(b, c) ++ mergeCause3(a, b, c)

  /** The 7-round merge table (robustspot.py:71-79). */
  private[algorithms] def mergeRounds(rc: IndexedSeq[Seq[Cause]]): Seq[Seq[Cause]] =
    getMergeRes(rc(0).take(1), rc(1).take(1), rc(2)) ++
    getMergeRes(rc(0).slice(1, 2), rc(3).take(1), rc(4)) ++
    getMergeRes(rc(0).slice(2, 3), rc(5).take(1), rc(6)) ++
    rc(0).map(Seq(_))

  /** merge_larger_dimension prep (final.py:52-61): for each multi-cause
    * entry, the single-valued attributes it could collapse to. */
  private[algorithms] def keepCandidates(multi: Seq[Seq[Cause]]): Map[Seq[Cause], Cause] =
    multi.map { entry =>
      val byAttr = collection.mutable.LinkedHashMap.empty[String, collection.mutable.ArrayBuffer[String]]
      for (c <- entry; (a, v) <- c)
        if (!byAttr.getOrElseUpdate(a, collection.mutable.ArrayBuffer.empty).contains(v))
          byAttr(a) += v
      entry -> byAttr.collect { case (a, vs) if vs.length == 1 => (a, vs.head) }.toSeq
    }.toMap

  /** merge_larger_dimension (final.py:52-70): collapse multi-cause entries
    * to their single-valued attributes when support is preserved. */
  private[algorithms] def collapseEntries(mergeRes: Seq[Seq[Cause]],
      keepOf: Map[Seq[Cause], Cause], dimCount: Cause => Double,
      nBefore0: Double): Seq[Seq[Cause]] =
    mergeRes.map { entry =>
      if (entry.length > 1) {
        val keep = keepOf(entry)
        if (keep.nonEmpty) {
          val beforeSupport = entry.map(dimCount).sum / nBefore0
          val afterSupport = dimCount(keep) / nBefore0
          if (afterSupport > 0 && beforeSupport / afterSupport >= 0.9)
            Seq(keep.sortBy(_._1))
          else entry
        } else entry
      } else entry
    }

  /** dedupe as sets of causes (robustspot.py:92-97). */
  private[algorithms] def dedupeEntries(entries: Seq[Seq[Cause]]): Seq[Seq[Cause]] = {
    val seen = collection.mutable.Set.empty[Set[Set[Item]]]
    entries.filter { entry =>
      val key = entry.map(_.toSet).toSet
      if (seen.contains(key)) false else { seen += key; true }
    }
  }

  /** Final ranking: most negative support delta over round-0 before/after
    * (robustspot.py:100-106, np.argsort's exact tie permutation). */
  private[algorithms] def rankEntries(mergeRes: Seq[Seq[Cause]],
      beforeCount: Cause => Double, afterCount: Cause => Double,
      nBefore0: Double, nAfter0: Double, k: Int): Seq[Seq[Cause]] = {
    val deltas = mergeRes.map { entry =>
      entry.map(beforeCount).sum / nBefore0 - entry.map(afterCount).sum / nAfter0
    }
    NumpyArgsort.argsort(deltas.toArray).take(k).toSeq.map(mergeRes)
  }

  // ------------------------------------------------------------------ run

  private def dropCause(df: DataFrame, cause: Cause): DataFrame =
    df.filter(!cause.map { case (a, v) => col(a) === lit(v) }.reduce(_ && _))

  def run(df0: DataFrame, attributes: Seq[String], opt: Options = Options()): Seq[Seq[Cause]] = {
    // Fundamental measures: CA is meaningless (constant ~0), threshold -1
    // admits everything (robustspot.py:46-48)
    val effOpt = if (opt.derived) opt else opt.copy(caThreshold = -1.0)
    val adapted = (if (opt.derived) adaptDerived(df0) else adaptFundamental(df0))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 7-round drill-down (robustspot.py:56-69): rounds 1/3/5 drop round-0's
    // top-1/2/3 cause; rounds 2/4/6 drop the previous round's top cause.
    val states = new Array[RoundState](7)
    val rc = Array.fill[Seq[Cause]](7)(Seq.empty)
    states(0) = selectExpand(adapted, attributes, effOpt)
    rc(0) = mine(states(0), attributes, effOpt, 0)

    // Rounds 1-6 form three independent two-round chains hanging off
    // round 0 (1→2, 3→4, 5→6): run the chains on concurrent driver
    // threads. Every chain's arithmetic is unchanged and each writes
    // disjoint rc/states slots, so results are deterministic; the win is
    // that the scheduler interleaves the chains' many small jobs instead
    // of serializing ~24 driver round-trips (VERDICT r6 #2). Each chain
    // traces into a private buffer, flushed in chain order (= round
    // order 1..6) after the join, so the trace stream stays identical to
    // the sequential loop's (RefTrace diffs rely on line order).
    graft.core.Concurrency.awaitAll((1 to 3).map { dim1 => () => {
      val buf = collection.mutable.ArrayBuffer.empty[String]
      val copt = effOpt.copy(trace = buf.append(_))
      val i1 = 2 * dim1 - 1
      if (rc(0).size >= dim1) {
        states(i1) = selectExpand(dropCause(states(0).before, rc(0)(dim1 - 1)), attributes, copt)
        rc(i1) = mine(states(i1), attributes, copt, i1)
        if (rc(i1).nonEmpty) {
          states(i1 + 1) = selectExpand(dropCause(states(i1).before, rc(i1).head), attributes, copt)
          rc(i1 + 1) = mine(states(i1 + 1), attributes, copt, i1 + 1)
        }
      }
      buf
    } }).foreach(_.foreach(effOpt.trace))

    var mergeRes: Seq[Seq[Cause]] = mergeRounds(rc.toIndexedSeq)

    // p2p-discard collapse (robustspot.py:81-90) is a NO-OP in the
    // reference: it discards the INT tuples ('p2p', 1)/('p2p', 0), but the
    // data's values are strings ('1'/'0'), so nothing ever matches and no
    // entry collapses. Replicate the no-op — "fixing" it to strings
    // changes which entries merge and breaks corpus parity (RS_SWEEP.md).

    val multi = mergeRes.filter(_.length > 1)
    val keepOf = keepCandidates(multi)
    val dimCauses = (multi.flatten ++ keepOf.values.filter(_.nonEmpty)).distinct
    // ONE conditional-aggregation pass over round-0's scored frame for
    // every support count the merge/collapse/rank stages can ask for
    // (round 13; previously THREE causeCounts actions: dim counts on
    // before0, then before/after counts on the post-collapse final
    // causes). The post-collapse causes are a subset of the pre-collapse
    // entry causes plus the keep candidates (collapseEntries only ever
    // substitutes `keep.sortBy(_._1)`), so counting the union up front
    // covers all three tables; before0 = all scored rows and after0 =
    // the __after-screened rows, so both counts ride one frame.
    val allCauses = (dimCauses ++ mergeRes.flatten ++
      keepOf.values.filter(_.nonEmpty).map(_.sortBy(_._1))).distinct
    val (nBefore0, nAfter0, beforeCounts, afterCounts) = states(0).mined match {
      case Some(rows) =>
        // round 0 was driver-mined: every support count is a scan of the
        // held rows — the final fused count pass costs no action at all
        // (round 14). A cause matches iff every item's attribute equals
        // its value (a null attribute value never equals a mode value,
        // like the SQL `===`).
        val attrIdx = attributes.zipWithIndex.toMap
        def matches(r: MineRow, cz: Cause): Boolean =
          cz.forall { case (a, v) => r.values(attrIdx(a)) == v }
        (rows.length.toDouble, rows.count(_.after).toDouble,
          allCauses.map(cz => cz -> rows.count(r => matches(r, cz)).toLong).toMap,
          allCauses.map(cz => cz -> rows.count(r => matches(r, cz) && r.after).toLong).toMap)
      case None =>
        val swt0 = states(0).scoredWithTimes
        val countAggs = Seq(count(lit(1)).as("t_b"),
          count(when(col("__after"), lit(1))).as("t_a")) ++
          allCauses.zipWithIndex.flatMap { case (cz, i) =>
            val m = cz.map { case (a, v) => col(a) === lit(v) }.reduce(_ && _)
            Seq(count(when(m, lit(1))).as(s"b_$i"),
              count(when(m && col("__after"), lit(1))).as(s"a_$i"))
          }
        // ADVICE r13: make a potential whole-stage-codegen fallback of this
        // wide single-row aggregate visible in bench evidence
        if (countAggs.length > 2000)
          System.err.println(s"[robustspot] final count agg width ${countAggs.length}" +
            " — check for codegen fallback")
        val cr = swt0.agg(countAggs.head, countAggs.tail: _*).collect()(0)
        val bc: Map[Cause, Long] =
          allCauses.zipWithIndex.map { case (cz, i) => cz -> cr.getLong(2 + 2 * i) }.toMap
        val ac: Map[Cause, Long] =
          allCauses.zipWithIndex.map { case (cz, i) => cz -> cr.getLong(3 + 2 * i) }.toMap
        (cr.getLong(0).toDouble, cr.getLong(1).toDouble, bc, ac)
    }
    mergeRes = collapseEntries(mergeRes, keepOf, c => beforeCounts(c).toDouble, nBefore0)
    mergeRes = dedupeEntries(mergeRes)
    val result = rankEntries(mergeRes, c => beforeCounts(c).toDouble,
      c => afterCounts(c).toDouble, nBefore0, nAfter0, opt.k)

    adapted.unpersist()
    states.foreach(st => if (st != null) st.cached.unpersist())
    opt.trace("FINAL:\n" + result.map(e =>
      "   " + e.map(_.mkString("&")).mkString(" | ")).mkString("\n"))
    result
  }

  /** Canonical prediction strings (evaluation.py:46-49). */
  def predictions(rcs: Seq[Seq[Cause]]): Seq[String] =
    Labels.canonicalPredictions(
      rcs.flatMap(_.map(c => c.map { case (a, v) => s"$a=$v" }.mkString("&"))))
}
