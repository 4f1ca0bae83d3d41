package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.InstanceSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchHotSpot: the whole generated corpus unioned into one
  * instance-keyed frame must produce EXACTLY the per-instance
  * HotSpot.run candidate (per-instance seeded RNG consumed in the
  * sequential order), while running two aggregation passes per layer
  * for the entire corpus instead of per instance. Covers both scoring
  * functions — 'ps' also exercises hierarchical pruning. */
class BatchHotSpotSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  private def union = files.map { f =>
    InstanceSource.readFundamental(spark, corpusDir, f)
      .withColumn("instance_id", lit(f))
  }.reduce(_ unionByName _)

  for (scoring <- Seq("gps", "ps"))
    test(s"batch equals sequential HotSpot per instance ($scoring)") {
      val attrs = Seq("a", "b", "c", "d")
      val opt = HotSpot.Options(scoring = scoring)
      val batch = BatchHotSpot.run(union, "instance_id", attrs, opt)
      for (f <- files) {
        val seq = HotSpot.run(InstanceSource.readFundamental(spark, corpusDir, f), attrs, opt)
        assert(batch.get(f).contains(seq), s"file $f")
      }
    }
}
