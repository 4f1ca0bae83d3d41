package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.InstanceSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchRiskLoc: the whole generated corpus unioned into one
  * instance-keyed frame must localize every instance EXACTLY like the
  * sequential per-instance RiskLoc.run — same causes, same discovery
  * order — while running a bounded number of Spark jobs per global
  * iteration instead of per instance. */
class BatchRiskLocSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  test("batch localization equals sequential RiskLoc per instance") {
    val attrs = Seq("a", "b", "c", "d")
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchRiskLoc.run(union, "instance_id", attrs)

    for (f <- files) {
      val seq = RiskLoc.run(InstanceSource.readFundamental(spark, corpusDir, f), attrs)
      val got = batch.getOrElse(f, Seq.empty)
      assert(got.map(_.labels) == seq.map(_.labels), s"file $f")
      // scores equal too (same aggregation formulas, instance-keyed)
      got.zip(seq).foreach { case (g, s) =>
        assert(math.abs(g.scores("risk") - s.scores("risk")) < 1e-9, s"file $f risk")
      }
    }
  }
}
