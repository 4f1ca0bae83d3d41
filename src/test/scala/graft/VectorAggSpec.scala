package graft

import graft.functions.VectorAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** collect_vector TypedImperativeAggregate: content parity with
  * collect_list, null skipping, grouped use, and serialization across
  * partial-aggregation shuffles. */
class VectorAggSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("global vector matches collect_list content") {
    val df = (1 to 1000).map(i => i.toDouble).toDF("x").repartition(7)
    val v = VectorAgg.collectToDriver(df, col("x"))
    assert(v.sorted.toSeq == (1 to 1000).map(_.toDouble))
  }

  test("nulls are skipped, NaNs kept") {
    val df = Seq[java.lang.Double](1.0, null, Double.NaN, 4.0).toDF("x")
    val v = VectorAgg.collectToDriver(df, col("x"))
    assert(v.length == 3)
    assert(v.count(_.isNaN) == 1)
  }

  test("grouped vectors partition correctly") {
    val df = (1 to 100).map(i => (i % 3, i.toDouble)).toDF("g", "x").repartition(5)
    val rows = df.groupBy("g").agg(VectorAgg.collectVector(col("x")).as("v"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(rows(0).sorted == (3 to 99 by 3).map(_.toDouble))
    assert(rows.values.map(_.size).sum == 100)
  }

  test("buffer serialization round-trips") {
    val buf = new graft.functions.DoubleVectorBuffer(2)
    Seq(1.5, -2.5, Double.NaN, 0.0).foreach(buf.add)
    val back = graft.functions.DoubleVectorBuffer.deserialize(buf.serialize())
    assert(back.toArray.take(2).toSeq == Seq(1.5, -2.5))
    assert(back.size == 4)
  }

  test("capped vector below cap returns count and full content") {
    val df = (1 to 500).map(_.toDouble).toDF("x").repartition(7)
    val r = df.agg(VectorAgg.collectVectorCapped(col("x"), 1000L).as("cv"))
      .collect()(0).getStruct(0)
    assert(r.getLong(0) == 500L)
    assert(r.getSeq[Double](1).sorted == (1 to 500).map(_.toDouble))
  }

  test("capped vector above cap keeps the exact count and drops the data") {
    val df = (1 to 2000).map(_.toDouble).toDF("x").repartition(13)
    val r = df.agg(VectorAgg.collectVectorCapped(col("x"), 100L).as("cv"))
      .collect()(0).getStruct(0)
    assert(r.getLong(0) == 2000L)
    assert(r.isNullAt(1))
  }

  test("capped vector skips nulls in the count too") {
    val df = Seq[java.lang.Double](1.0, null, 3.0).toDF("x")
    val r = df.agg(VectorAgg.collectVectorCapped(col("x"), 10L).as("cv"))
      .collect()(0).getStruct(0)
    assert(r.getLong(0) == 2L)
    assert(r.getSeq[Double](1).sorted == Seq(1.0, 3.0))
  }

  test("capped buffer overflow survives serialization and merge") {
    val a = new graft.functions.CappedDoubleVectorBuffer(3)
    Seq(1.0, 2.0).foreach(a.add)
    val b = new graft.functions.CappedDoubleVectorBuffer(3)
    Seq(3.0, 4.0).foreach(b.add)
    a.merge(graft.functions.CappedDoubleVectorBuffer.deserialize(b.serialize(), 3))
    assert(a.count == 4L && a.overflowed)
    val back = graft.functions.CappedDoubleVectorBuffer.deserialize(a.serialize(), 3)
    assert(back.count == 4L && back.overflowed)
    // merging an overflowed buffer into a small one overflows it too
    val c = new graft.functions.CappedDoubleVectorBuffer(3)
    c.add(9.0)
    c.merge(back)
    assert(c.count == 5L && c.overflowed)
  }
}
