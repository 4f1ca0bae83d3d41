package graft.algorithms

import graft.functions.Scores
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adtributor over a UNION of many instance snapshots in ONE Spark DAG
  * (SURVEY §3.1 / §4.2: "instances are the unit of parallelism" — for
  * corpora of small instances, one job per instance wastes the cluster;
  * instead every aggregation/window is keyed by `instance_id` and the
  * whole corpus localizes in a single pass).
  *
  * Semantics per instance are identical to [[Adtributor.run]] with sorted
  * dimension order (ties in the final top-k break by dimension name,
  * which equals the reference's loop order when dims are sorted).
  *
  * Scale shape: 2 shuffles total (grouping-sets aggregate keyed by
  * (instance, dimension, element); per-instance totals join) + windows
  * partitioned by (instance, dimension) — for 1000 instances of the S
  * corpus this is ~50M aggregate rows, trivially partitioned, vs 1000
  * sequential driver loops.
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
object BatchAdtributor {

  /** Input: leaf rows with an `instanceCol` column. Output: one row per
    * (instance, selected dimension) with the element list, cumulative EP
    * and surprise, ranked by surprise within the instance (rank <= k). */
  def run(df: DataFrame, instanceCol: String, dims: Seq[String],
      opt: Adtributor.Options = Adtributor.Options()): DataFrame = {
    val measures =
      if (opt.derived) Seq("real_a", "predict_a", "real_b", "predict_b")
      else Seq("real", "predict")
    val inst = col(instanceCol)

    // every dimension's element sums for every instance: one grouping-sets
    // aggregation keyed by (instance, dim value)
    val aggs = measures.map(m => sum(m).as(m))
    val grouped = df
      .groupingSets(dims.map(d => Seq(inst, col(d))), inst +: dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val dimension = coalesce(dims.map(d => when(col(d).isNotNull, lit(d))): _*)
    val element = coalesce(dims.map(col): _*)
    val merged0 = grouped.select(
      (Seq(inst, dimension.as("dimension"), element.as("element")) ++ measures.map(col)): _*)
    val merged =
      if (opt.derived)
        merged0
          .withColumn("real", col("real_a") / col("real_b"))
          .withColumn("predict", col("predict_a") / col("predict_b"))
      else merged0

    // per-instance totals over the MERGED element frame — |dims| × the
    // instance total, exactly like the reference's add_explanatory_power
    // on the merged frame (the /n in the surprise terms compensates;
    // Adtributor.scoredElements preserves the same quirk)
    val totals = merged.groupBy(inst).agg(
      measures.map(m => sum(m).as(s"__t_$m")).head,
      measures.map(m => sum(m).as(s"__t_$m")).tail: _*)
    val withTotals = merged.join(totals, instanceCol)
    def t(m: String) = col(s"__t_$m")
    val n = lit(dims.size.toDouble)

    val withEp =
      if (opt.derived) {
        val raw = Scores.explanatoryPowerDerived(
          col("real_a"), col("predict_a"), col("real_b"), col("predict_b"),
          t("predict_a"), t("predict_b"))
        val withRaw = withTotals.withColumn("ep_raw", raw)
        val epTotals = withRaw.groupBy(inst).agg(sum("ep_raw").as("__t_ep"))
        withRaw.join(epTotals, instanceCol)
          .withColumn("ep", col("ep_raw") / col("__t_ep")).drop("ep_raw", "__t_ep")
      } else
        withTotals.withColumn("ep",
          Scores.explanatoryPower(col("real"), col("predict"), t("real"), t("predict")))
    val surpriseCol =
      if (opt.derived)
        Scores.surprise(col("real_a"), col("predict_a"), t("real_a") / n, t("predict_a") / n) +
          Scores.surprise(col("real_b"), col("predict_b"), t("real_b") / n, t("predict_b") / n)
      else
        Scores.surprise(col("real"), col("predict"), t("real") / n, t("predict") / n)
    val scored = withEp.withColumn("surprise", surpriseCol)

    // candidate scan per (instance, dimension)
    val wDim = Window.partitionBy(inst, col("dimension"))
      .orderBy(desc("surprise"), asc("element"))
    val wCum = wDim.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val passes = col("ep") > opt.teep
    val annotated = scored
      .withColumn("rn", row_number().over(wDim))
      .withColumn("cum_ep", sum(when(passes, col("ep"))).over(wCum))
      .withColumn("hit", passes && col("cum_ep") > opt.tep)
      .withColumn("idx_rn", min(when(col("hit"), col("rn")))
        .over(Window.partitionBy(inst, col("dimension"))))
      .withColumn("n_total", count(lit(1)).over(Window.partitionBy(inst, col("dimension"))))

    val perDim = annotated
      .filter(col("idx_rn").isNotNull)
      .groupBy(inst, col("dimension"))
      .agg(
        sort_array(collect_list(when(passes && col("rn") <= col("idx_rn"),
          struct(col("rn"), col("element"))))).getField("element").as("elements"),
        max(when(col("rn") === col("idx_rn"), col("cum_ep"))).as("ep"),
        sum(when(col("rn") <= col("idx_rn"), col("surprise"))).as("surprise"))

    // top-k per instance by surprise (ties: dimension asc = sorted-dims
    // reference order)
    perDim
      .withColumn("rank", row_number().over(
        Window.partitionBy(inst).orderBy(desc("surprise"), asc("dimension"))))
      .filter(col("rank") <= opt.k)
  }

  /** Canonical per-instance prediction strings from [[run]]'s collected
    * rows: each instance's dimensions in rank order, `dim=element`. */
  def predictions(rows: Array[Row]): Map[String, Seq[String]] =
    rows.groupBy(_.getString(0)).view.mapValues { rs =>
      graft.model.Labels.canonicalPredictions(
        rs.sortBy(_.getAs[Int]("rank")).toSeq.flatMap { r =>
          val dim = r.getAs[String]("dimension")
          r.getSeq[String](r.fieldIndex("elements")).map(e => s"$dim=$e")
        })
    }.toMap
}
