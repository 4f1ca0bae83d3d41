package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.gen.DatasetGenerator
import graft.model.Element
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchAdtributor (all instances in one DAG) must reproduce the
  * per-instance Adtributor exactly — per-instance semantics do not change
  * because the corpus shares one plan. */
class BatchAdtributorSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  private val dims = Seq(("a", 5), ("b", 4), ("c", 3))
  private val attrs = Seq("a", "b", "c")

  private def instance(seed: Long, dim: String) =
    DatasetGenerator.generate(spark, DatasetGenerator.Config(
      dims = dims, seed = seed,
      anomalies = Seq(DatasetGenerator.Anomaly(
        Element(Seq(dim -> s"${dim}1")), severity = 0.85))))

  test("batched corpus localization equals per-instance runs") {
    val instances = Seq(
      101L -> instance(101, "a"),
      102L -> instance(102, "b"),
      103L -> instance(103, "c"))

    val corpus = instances.map { case (id, df) =>
      df.withColumn("instance_id", lit(id))
    }.reduce(_ unionByName _)

    val opt = Adtributor.Options(teep = 0.05, tep = 0.1, k = 3)
    val batched = BatchAdtributor.run(corpus, "instance_id", attrs, opt)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(rows.head.fieldIndex("rank"))).map { r =>
          (r.getString(1), r.getSeq[String](2),
            r.getDouble(3), r.getDouble(4))
        }.toSeq
      }

    for ((id, df) <- instances) {
      val single = Adtributor.run(df, attrs, opt)
        .map(c => (c.dimension, c.elements, c.explanatoryPower, c.surprise))
      val b = batched(id)
      assert(b.map(_._1) == single.map(_._1), s"instance $id dims")
      assert(b.map(_._2) == single.map(_._2), s"instance $id elements")
      b.zip(single).foreach { case ((_, _, ep1, s1), (_, _, ep2, s2)) =>
        assert(math.abs(ep1 - ep2) < 1e-9 && math.abs(s1 - s2) < 1e-9, s"instance $id scores")
      }
    }
  }

  test("the batched plan runs the corpus in a bounded number of shuffles") {
    val corpus = instance(7, "a").withColumn("instance_id", lit(1L))
      .unionByName(instance(8, "b").withColumn("instance_id", lit(2L)))
    val plan = BatchAdtributor.run(corpus, "instance_id", attrs)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 6, s"expected a bounded shuffle count, got $exchanges")
  }
}
