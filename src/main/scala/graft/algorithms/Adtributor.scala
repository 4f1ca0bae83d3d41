package graft.algorithms

import graft.functions.Scores
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Adtributor (Bhagwan et al., NSDI'14) — single-dimension root-cause
  * candidates by explanatory power + surprise, re-expressed Spark-first.
  * Reference behavior: algorithms/adtributor.py.
  *
  * Design: one grouping-sets aggregation computes every dimension's element
  * sums in a single shuffle (replacing the reference's per-dimension
  * `groupby` loop), score columns are window expressions over the merged
  * (small) element frame, and only the per-dimension candidate summaries
  * are collected to the driver.
  */
object Adtributor {

  final case class Options(
      teep: Double = 0.1,
      tep: Double = 0.1,
      k: Int = 3,
      derived: Boolean = false)

  final case class Candidate(
      dimension: String,
      elements: Seq[String],
      explanatoryPower: Double,
      surprise: Double)

  /** All dimensions' element aggregates in one pass: grouping sets
    * ((d1),(d2),...) + `dimension`/`element` labels
    * (reference merge_dimensions, adtributor.py:6-21). */
  def mergeDimensions(df: DataFrame, dims: Seq[String], derived: Boolean): DataFrame = {
    val measures =
      if (derived) Seq("real_a", "predict_a", "real_b", "predict_b") else Seq("real", "predict")
    val aggs = measures.map(m => sum(m).as(m))
    val grouped = df
      .groupingSets(dims.map(d => Seq(col(d))), dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // Exactly one grouping column is non-null per output row (attributes
    // are non-null strings by the data model).
    val dimension = coalesce(dims.map(d => when(col(d).isNotNull, lit(d))): _*)
    val element = coalesce(dims.map(col): _*)
    val base = grouped.select(
      (Seq(dimension.as("dimension"), element.as("element")) ++ measures.map(col)): _*)
    if (derived)
      base
        .withColumn("real", col("real_a") / col("real_b"))
        .withColumn("predict", col("predict_a") / col("predict_b"))
    else base
  }

  /** Scored element frame: merged dimensions + ep + surprise columns.
    * Surprise totals use merged_divide = |dims| since every dimension's
    * elements sum to the instance total (adtributor.py:30). */
  def scoredElements(df: DataFrame, dims: Seq[String], derived: Boolean): DataFrame = {
    val merged = mergeDimensions(df, dims, derived)
    // Global sums from a broadcast 1-row aggregate (not an all-rows window,
    // which would single-partition the frame).
    val n = lit(dims.size.toDouble)
    val measures =
      if (derived) Seq("real_a", "predict_a", "real_b", "predict_b")
      else Seq("real", "predict")
    val totals = merged.agg(
      sum(measures.head).as(s"__t_${measures.head}"),
      measures.tail.map(m => sum(m).as(s"__t_$m")): _*)
    val withTotals = merged.crossJoin(broadcast(totals))
    def t(m: String) = col(s"__t_$m")

    val withEp =
      if (derived) {
        val raw = Scores.explanatoryPowerDerived(
          col("real_a"), col("predict_a"), col("real_b"), col("predict_b"),
          t("predict_a"), t("predict_b"))
        val withRaw = withTotals.withColumn("ep", raw)
        // pandas Series.sum skips NaN terms (rows whose ratio denominator
        // is 0 on a sub-frame); Spark's sum would propagate the NaN into
        // every normalized ep
        val epTotal = withRaw.agg(
          sum(when(!isnan(col("ep")), col("ep"))).as("__t_ep"))
        withRaw.crossJoin(broadcast(epTotal))
          .withColumn("ep", col("ep") / col("__t_ep")).drop("__t_ep")
      } else
        withTotals.withColumn("ep",
          Scores.explanatoryPower(col("real"), col("predict"), t("real"), t("predict")))
    val (sc, pc) = if (derived) (("real_a", "predict_a")) else (("real", "predict"))
    val surpriseCol =
      if (derived)
        Scores.surprise(col("real_a"), col("predict_a"), t("real_a") / n, t("predict_a") / n) +
          Scores.surprise(col("real_b"), col("predict_b"), t("real_b") / n, t("predict_b") / n)
      else
        Scores.surprise(col(sc), col(pc), t(sc) / n, t(pc) / n)
    withEp.withColumn("surprise", surpriseCol)
      .drop(measures.map(m => s"__t_$m"): _*)
  }

  /** Full Adtributor: cumulative-EP candidate per dimension, top-k by
    * surprise (adtributor.py:24-43). */
  def run(df: DataFrame, dims: Seq[String], opt: Options = Options()): Seq[Candidate] = {
    val scored = scoredElements(df, dims, opt.derived)

    // Reference ordering: stable sort by surprise desc over the groupby
    // result (whose index is element-ascending) → tie-break element asc.
    val wDim = Window.partitionBy("dimension").orderBy(desc("surprise"), asc("element"))
    val wCum = wDim.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NaN ep fails `ep > teep` in pandas; Spark orders NaN above all
    // doubles, so the comparison needs the explicit guard
    val passes = !isnan(col("ep")) && col("ep") > opt.teep
    val annotated = scored
      .withColumn("rn", row_number().over(wDim))
      .withColumn("cum_ep", sum(when(passes, col("ep"))).over(wCum))
      .withColumn("hit", passes && col("cum_ep") > opt.tep)
      .withColumn("idx_rn", min(when(col("hit"), col("rn"))).over(Window.partitionBy("dimension")))

    // One small row per dimension: the selected element list (in rank
    // order), its cumulative EP at the hit row, and the surprise total
    // over ALL rows up to the hit row (reference includes non-passing
    // rows in the surprise sum, adtributor.py:37).
    val perDim = annotated
      .filter(col("idx_rn").isNotNull)
      .groupBy("dimension")
      .agg(
        sort_array(collect_list(when(passes && col("rn") <= col("idx_rn"),
          struct(col("rn"), col("element"))))).as("elems"),
        max(when(col("rn") === col("idx_rn"), col("cum_ep"))).as("explanatory_power"),
        sum(when(col("rn") <= col("idx_rn"), col("surprise"))).as("surprise"))
      .collect()

    val byDim = perDim.map { r =>
      val elems = r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(1))
      r.getString(0) -> Candidate(r.getString(0), elems, r.getDouble(2), r.getDouble(3))
    }.toMap

    topKBySurprise(dims, byDim, opt.k)(_.surprise)
  }

  /** Stable top-k by surprise desc, preserving the input dimension order
    * on ties (python sorted() is stable over the dims loop order). */
  private[algorithms] def topKBySurprise[C](dims: Seq[String], byDim: Map[String, C],
      k: Int)(surprise: C => Double): Seq[C] =
    dims.flatMap(byDim.get).sortBy(c => -surprise(c)).take(k)

  /** Canonical prediction strings: one per element, `dim=value`
    * (utils/evaluation.py:36-56). */
  def predictions(candidates: Seq[Candidate]): Seq[String] =
    graft.model.Labels.canonicalPredictions(
      candidates.flatMap(c => c.elements.map(e => s"${c.dimension}=$e")))
}
