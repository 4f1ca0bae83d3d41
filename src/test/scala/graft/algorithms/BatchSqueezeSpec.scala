package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.InstanceSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchSqueeze: the whole generated corpus unioned into one
  * instance-keyed frame must produce EXACTLY the per-instance
  * Squeeze.run prediction strings, while running two Spark
  * aggregation passes per layer for the entire corpus instead of per
  * instance. */
class BatchSqueezeSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  test("batch localization equals sequential Squeeze per instance") {
    val attrs = Seq("a", "b", "c", "d")
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchSqueeze.run(union, "instance_id", attrs)

    for (f <- files) {
      val seq = Squeeze.run(InstanceSource.readFundamental(spark, corpusDir, f), attrs)
      assert(batch.getOrElse(f, Seq.empty) == seq, s"file $f")
    }
  }
}
