package graft.operators

import graft.{TestSpark, TestTimeLimit}
import graft.core.Tables
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r5 #3: the IVF scale path claims that a corpus written
  * partitioned by `cell` turns probing into a partition-pruned read
  * (Similarity scaladoc). This spec makes that claim mechanical: write
  * the assignment with [[Similarity.writeAssigned]], probe with
  * [[Similarity.ivfTopKPartitioned]], and assert on the physical plan
  * that the assigned-corpus scan (a) carries a partition filter on
  * `cell` and (b) selects exactly the probed cells' directories, fewer
  * than the total cell count. Also pins result parity with the
  * recompute-assignment [[Similarity.ivfTopK]] path.
  */
class IvfPruningSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val e = Tables.embeddings(spark, dir)
  private lazy val centroids =
    Similarity.trainCentroids(e, "vec_id", "embedding", nlist = 8, iters = 3)

  private lazy val assignedDir = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeAssigned(e, "vec_id", "embedding", centroids, s"$tmp/assigned")
    s"$tmp/assigned"
  }

  test("probing a cell-partitioned corpus reads only the probed partitions") {
    val assigned = spark.read.parquet(assignedDir)
    val nCells = assigned.select("cell").distinct().count()
    val queries = e.filter(col("vec_id") < 5)
    // nprobe=1: the probed set is exactly the queries' own nearest cells
    val expectedCells = queries
      .select(Similarity.cellAssignment(col("embedding"), centroids).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(expectedCells.size < nCells,
      s"test premise: ${expectedCells.size} probed of $nCells cells")

    val out = Similarity.ivfTopKPartitioned(assigned, queries, "vec_id",
      "embedding", k = 3, centroids, nprobe = 1)
    assert(out.count() > 0)

    // the assigned-corpus scan: the only partitioned scan in the plan
    val scans = out.queryExecution.sparkPlan.collect {
      case f: FileSourceScanLike if f.relation.partitionSchema.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partitioned scan in plan")
    for (scan <- scans) {
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"no cell partition filter: ${scan.partitionFilters}")
      assert(scan.selectedPartitions.partitionCount == expectedCells.size,
        s"scan selected ${scan.selectedPartitions.partitionCount} partitions, " +
          s"probed ${expectedCells.size} of $nCells cells")
    }
  }

  test("partitioned probe results equal the recompute-assignment path") {
    val assigned = spark.read.parquet(assignedDir)
    val queries = e.filter(col("vec_id") < 10)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 9), col("rank"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val part = Similarity.ivfTopKPartitioned(assigned, queries, "vec_id",
      "embedding", k = 3, centroids, nprobe = 3)
    val ref = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 3, centroids, nprobe = 3)
    assert(canon(part).sameElements(canon(ref)))
  }
}
