package graft.runner

import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Residual / anomaly-significance analysis of a localization corpus —
  * the reference's utils/dataset_statistics.py:24-204 as a Spark job.
  *
  * Per instance, leaves matching any ground-truth label element are
  * "abnormal"; the rest are "normal" (set_label, :8-21). The analysis is
  * ONE conditional aggregation per instance (no per-label masks
  * materialized):
  *   residual     = sum(|real-predict| over normal) / sum(predict over normal)
  *   significance = sum(|real-predict| over abnormal) / sum(predict)
  * Corpus totals sum the normal amounts/errors across instances and mean
  * the significances (dataset_statistics.py:189-204).
  */
object DatasetStatistics {

  final case class InstanceStats(file: String, normalPredictAmount: Double,
      normalPredictError: Double, significance: Double)

  final case class CorpusStats(residualPct: Double, meanSignificance: Double, numFiles: Int)

  /** True for leaves matching any `;`-separated label element. */
  def labelMask(label: String): Column =
    label.split(';').filter(_.nonEmpty).map { el =>
      el.split('&').map { pair =>
        val Array(k, v) = pair.split("=", 2)
        col(k) === lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  def analyzeInstance(df: DataFrame, label: String): InstanceStats = {
    val mask = labelMask(label)
    val r = df.agg(
      sum(when(!mask, col("predict")).otherwise(0.0)),
      sum(when(!mask, abs(col("real") - col("predict"))).otherwise(0.0)),
      sum(when(mask, abs(col("real") - col("predict"))).otherwise(0.0)),
      sum(col("predict"))).collect()(0)
    InstanceStats("", r.getDouble(0), r.getDouble(1), r.getDouble(2) / r.getDouble(3))
  }

  /** Analyze every instance under `dataRoot/runPath` (any dataset layout
    * the runner understands, incl. RS raw series). */
  def analyze(spark: SparkSession, dataRoot: String, runPath: String,
      derivedFlag: Option[Boolean] = None): (Seq[InstanceStats], CorpusStats) = {
    val refs = InstanceSource.instances(dataRoot, runPath)
    require(refs.nonEmpty, s"no instances under $dataRoot/$runPath")
    val stats = refs.map { ref =>
      val rsData = ref.dataset == "RS"
      val derived = derivedFlag.getOrElse(ref.dataset == "D" || rsData)
      val dir = ref.dir(dataRoot)
      val (df, label) =
        if (rsData) {
          val anomaly = RsLabels.labelFor(dir, ref.file)
          val raw = RsSource.readRaw(spark, s"$dir/${ref.file}.csv")
          (RsSource.snapshot(raw, anomaly.timestamp), anomaly.label)
        } else if (derived)
          (InstanceSource.readDerived(spark, dir, ref.file),
            InstanceSource.injectionLabel(dir, ref.file))
        else
          (InstanceSource.readFundamental(spark, dir, ref.file),
            InstanceSource.injectionLabel(dir, ref.file))
      analyzeInstance(df, label).copy(file = ref.file)
    }
    val corpus = CorpusStats(
      residualPct = stats.map(_.normalPredictError).sum / stats.map(_.normalPredictAmount).sum * 100,
      meanSignificance = stats.map(_.significance).sum / stats.length,
      numFiles = stats.length)
    (stats, corpus)
  }

  /** Usage: DatasetStatistics [--data-root d] [--run-path p] [--derived b] */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = graft.core.Sessions.local("graft-dataset-statistics")
    spark.sparkContext.setLogLevel("WARN")
    val (stats, corpus) = analyze(spark,
      opts.getOrElse("data-root", "data"), opts.getOrElse("run-path", ""),
      opts.get("derived").map(_.toBoolean))
    stats.foreach(s => println(f"${s.file}%-24s residual=${
      s.normalPredictError / s.normalPredictAmount * 100}%.3f%% significance=${s.significance}%.4f"))
    println(f"total residual: ${corpus.residualPct}%.4f%%")
    println(f"total significance: ${corpus.meanSignificance}%.4f")
    println(s"num_files: ${corpus.numFiles}")
    spark.stop()
  }
}
