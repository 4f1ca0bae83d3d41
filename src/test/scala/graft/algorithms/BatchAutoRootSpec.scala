package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.InstanceSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchAutoRoot: the whole generated corpus unioned into one
  * instance-keyed frame must localize every instance EXACTLY like the
  * sequential per-instance AutoRoot.run — same merged causes, same
  * scores — while running three aggregation passes per layer for the
  * entire corpus instead of per instance. */
class BatchAutoRootSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  test("batch localization equals sequential AutoRoot per instance") {
    val attrs = Seq("a", "b", "c", "d")
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchAutoRoot.run(union, "instance_id", attrs)

    for (f <- files) {
      val seq = AutoRoot.run(InstanceSource.readFundamental(spark, corpusDir, f), attrs)
      val got = batch.getOrElse(f, Seq.empty)
      assert(got.map(_.labels) == seq.map(_.labels), s"file $f")
      got.zip(seq).foreach { case (g, s) =>
        assert(math.abs(g.scores("avg") - s.scores("avg")) < 1e-9, s"file $f avg")
      }
    }
  }
}
