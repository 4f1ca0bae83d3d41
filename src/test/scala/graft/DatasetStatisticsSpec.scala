package graft

import graft.runner.DatasetStatistics
import graft.sources.InstanceSource
import org.scalatest.funsuite.AnyFunSuite

/** dataset_statistics.py parity: the analyzer's per-file
  * significance/amount/error recomputed from the leaf tables must agree
  * with the injection_info.csv metadata the generator wrote for the same
  * files (generate_dataset.py:203-229 records exactly these quantities,
  * rounded to 2dp). Closing the loop generator -> files -> analyzer. */
class DatasetStatisticsSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  test("per-file analysis agrees with the generator's injection_info metadata") {
    val info = scala.io.Source.fromFile(s"$corpusDir/injection_info.csv", "UTF-8")
      .getLines().toSeq
    val header = info.head.split(",", -1)
    val col = header.zipWithIndex.toMap
    // injection_info rows: label field is quoted and may contain commas? no
    // — labels use ';' and '&' only, so a plain split is safe
    val rows = info.tail.map(_.split(",", -1))
    assert(rows.nonEmpty)
    for (r <- rows) {
      val file = r(col("timestamp"))
      val df = InstanceSource.readFundamental(spark, corpusDir, file)
      val label = InstanceSource.injectionLabel(corpusDir, file)
      val s = DatasetStatistics.analyzeInstance(df, label)
      def d(name: String) = r(col(name)).toDouble
      assert(math.abs(s.normalPredictAmount - d("normal_predict_amount")) <= 0.005 + 1e-9, s"$file amount")
      assert(math.abs(s.normalPredictError - d("normal_predict_error")) <= 0.005 + 1e-9, s"$file error")
      assert(math.abs(s.significance - d("anomaly_significance")) <= 0.005 + 1e-9, s"$file significance")
    }
  }

  test("corpus aggregate runs end to end") {
    val (stats, corpus) = DatasetStatistics.analyze(spark, corpusDir, "", Some(false))
    assert(corpus.numFiles == stats.length && stats.length == 10)
    assert(corpus.residualPct > 0 && corpus.meanSignificance > 0)
  }
}
