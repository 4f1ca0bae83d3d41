package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-14 driver-mine fast path (Options.driverMineCap): when a
  * round frame fits the cap, ONE collect of the scored rows replaces the
  * knee / modes / histogram / final-count actions. This spec pins the
  * fast path against the distributed path it replaces — results AND the
  * full trace stream (knee vectors, modes, per-round top-5, final
  * entries) must be identical, sequentially and batched, since the
  * mining arithmetic is exact integer/IEEE work either way. */
class RobustSpotDriverMineSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  private val attrs = Seq("a", "b", "c", "d")

  test("sequential driver-mine equals the distributed path (results + trace)") {
    for (f <- files) {
      val df = InstanceSource.readFundamental(spark, corpusDir, f)
      val fastTrace = collection.mutable.ArrayBuffer.empty[String]
      val slowTrace = collection.mutable.ArrayBuffer.empty[String]
      val fast = RobustSpot.run(df, attrs,
        RobustSpot.Options(k = 3, derived = false, trace = fastTrace.append(_)))
      val slow = RobustSpot.run(df, attrs,
        RobustSpot.Options(k = 3, derived = false, driverMineCap = 0L,
          trace = slowTrace.append(_)))
      assert(fast == slow, s"file $f results")
      assert(fastTrace.toSeq == slowTrace.toSeq, s"file $f trace")
    }
  }

  test("batch driver-mine equals the distributed path (results + trace)") {
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)
    val fastTrace = collection.mutable.ArrayBuffer.empty[String]
    val slowTrace = collection.mutable.ArrayBuffer.empty[String]
    val fast = BatchRobustSpot.run(union, "instance_id", attrs,
      RobustSpot.Options(k = 3, derived = false, trace = fastTrace.append(_)))
    val slow = BatchRobustSpot.run(union, "instance_id", attrs,
      RobustSpot.Options(k = 3, derived = false, driverMineCap = 0L,
        trace = slowTrace.append(_)))
    assert(fast == slow)
    assert(fastTrace.toSeq == slowTrace.toSeq)
  }

  test("derived-measure driver-mine equals the distributed path (results + trace)") {
    // the rs_synth cases as derived-measure snapshots WITHOUT `__row`:
    // the scale path, where driver-mine applies to derived measures too
    val fixtureDir = "src/test/resources/rs_synth"
    val cases = Seq("case1_synth", "case2_synth", "case3_synth")
    val raws = cases.map(f => f -> RsSource.readRaw(spark, s"$fixtureDir/$f.csv"))
    val rsAttrs = RsSource.attributesOf(raws.head._2)
    val snaps = raws.map { case (f, raw) =>
      assert(RsSource.attributesOf(raw) == rsAttrs, s"case $f attributes")
      f -> RsSource.snapshot(raw, RsLabels.labelFor(fixtureDir, f).timestamp)
    }
    def opts(cap: Long, trace: String => Unit) = RobustSpot.Options(
      k = 3, derived = true, driverMineCap = cap, trace = trace)
    val fastCap = RobustSpot.Options().driverMineCap

    val seqResults = for ((f, snap) <- snaps) yield {
      val fastTrace = collection.mutable.ArrayBuffer.empty[String]
      val slowTrace = collection.mutable.ArrayBuffer.empty[String]
      val fast = RobustSpot.run(snap, rsAttrs, opts(fastCap, fastTrace.append(_)))
      val slow = RobustSpot.run(snap, rsAttrs, opts(0L, slowTrace.append(_)))
      assert(fast == slow, s"case $f results")
      assert(fastTrace.toSeq == slowTrace.toSeq, s"case $f trace")
      fast
    }
    assert(seqResults.exists(_.nonEmpty), "every case has an empty result")

    val union = snaps.map { case (f, snap) => snap.withColumn("instance_id", lit(f)) }
      .reduce(_ unionByName _)
    val fastTrace = collection.mutable.ArrayBuffer.empty[String]
    val slowTrace = collection.mutable.ArrayBuffer.empty[String]
    val fast = BatchRobustSpot.run(union, "instance_id", rsAttrs, opts(fastCap, fastTrace.append(_)))
    val slow = BatchRobustSpot.run(union, "instance_id", rsAttrs, opts(0L, slowTrace.append(_)))
    assert(fast == slow)
    assert(fastTrace.toSeq == slowTrace.toSeq)
  }
}
