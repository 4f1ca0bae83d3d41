package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BatchRevRecAdtributor: the whole corpus unioned into one instance-keyed
  * frame must reproduce the sequential per-instance RevRecAdtributor.run
  * exactly — same candidates, same recursion/abandon/dedup outcomes —
  * while each recursion LEVEL costs a fixed number of corpus-wide passes
  * instead of one grouping-sets job per recursion node.
  *
  * Derived-measure checks (r_adtributor, and HotSpot in `__row` parity
  * mode) run on the committed RS-format fixture `rs_synth/`
  * (tools/make_rs_synth.py, FIXTURES.md §8), and again on the reference's
  * real RS cases wherever that tree is mounted. */
class BatchRevRecAdtributorSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"
  private val fixtureDir = "src/test/resources/rs_synth"
  private val rsDir = "/root/reference/data/RS"
  private val fixtureCases = Seq("case1_synth", "case2_synth", "case3_synth")

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  test("batch equals sequential r_adtributor per instance (fundamental)") {
    val attrs = Seq("a", "b", "c", "d")
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchRevRecAdtributor.run(union, "instance_id", attrs,
      RevRecAdtributor.Options(teep = 0.2, k = 3, derived = false))

    for (f <- files) {
      val seq = RevRecAdtributor.run(
        InstanceSource.readFundamental(spark, corpusDir, f), attrs,
        RevRecAdtributor.Options(teep = 0.2, k = 3, derived = false))
      assert(RevRecAdtributor.predictions(batch.getOrElse(f, Seq.empty)).sorted ==
        RevRecAdtributor.predictions(seq).sorted, s"file $f")
    }
  }

  /** r_adtributor over the derived snapshots of the raw cases `cases` in
    * `dir` (sharing one attribute sequence): the batch run on their union
    * must equal RevRecAdtributor.run per case. Returns the per-case
    * predictions. */
  private def assertDerivedBatchEqualsSequential(dir: String, cases: Seq[String])
      : Seq[Seq[String]] = {
    val raws = cases.map(f => f -> RsSource.readRaw(spark, s"$dir/$f.csv"))
    val attrs = RsSource.attributesOf(raws.head._2)
    assert(raws.forall { case (_, r) => RsSource.attributesOf(r) == attrs })

    val union = raws.map { case (f, raw) =>
      RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchRevRecAdtributor.run(union, "instance_id", attrs,
      RevRecAdtributor.Options(teep = 0.2, k = 3, derived = true))

    for ((f, raw) <- raws) yield {
      val seq = RevRecAdtributor.run(
        RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp), attrs,
        RevRecAdtributor.Options(teep = 0.2, k = 3, derived = true))
      val preds = RevRecAdtributor.predictions(seq).sorted
      assert(RevRecAdtributor.predictions(batch.getOrElse(f, Seq.empty)).sorted ==
        preds, s"case $f")
      preds
    }
  }

  /** HotSpot in `__row` parity mode over the raw cases `cases` in `dir`:
    * BatchHotSpot.runParity on their union must equal HotSpotParity.run
    * per case. Returns the per-case predictions. */
  private def assertParityHotSpotEqualsSequential(dir: String, cases: Seq[String])
      : Seq[Seq[String]] = {
    val raws = cases.map(f => f -> RsSource.readRaw(spark, s"$dir/$f.csv"))
    val attrs = RsSource.attributesOf(raws.head._2)
    assert(raws.forall { case (_, r) => RsSource.attributesOf(r) == attrs })

    val union = raws.map { case (f, raw) =>
      RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp, withRowIndex = true)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val seedOf = (f: String) => BigInt(graft.runner.RsSweep.crc32Seed(f))
    val batch = BatchHotSpot.runParity(union, "instance_id", attrs,
      HotSpot.Options(), seedOf)

    for ((f, raw) <- raws) yield {
      val snap = RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp,
        withRowIndex = true)
      val seq = HotSpotParity.run(snap, attrs, HotSpot.Options(), seedOf(f))
      assert(batch(f) == seq, s"case $f")
      HotSpot.predictions(seq)
    }
  }

  test("batch equals sequential r_adtributor per instance (RS derived)") {
    val preds = assertDerivedBatchEqualsSequential(fixtureDir, fixtureCases)
    // the fixture must drive a real search, not agree on empty results
    assert(preds.exists(_.nonEmpty), "no case has r_adtributor predictions")
  }

  test("batch equals sequential r_adtributor per instance (RS derived, reference cases)") {
    assume(new java.io.File(s"$rsDir/anomaly.yaml").exists(), "reference corpus not mounted")
    // tie-heavy derived cases sharing one attribute sequence
    assertDerivedBatchEqualsSequential(rsDir,
      Seq("case50_0215_367138632", "case52_0215_367138632"))
  }

  test("parity-mode batch hotspot equals sequential HotSpotParity per instance") {
    val preds = assertParityHotSpotEqualsSequential(fixtureDir, fixtureCases)
    assert(preds.exists(_.nonEmpty), "no case has a hotspot prediction")
  }

  test("parity-mode batch hotspot equals sequential HotSpotParity per instance (reference cases)") {
    assume(new java.io.File(s"$rsDir/anomaly.yaml").exists(), "reference corpus not mounted")
    assertParityHotSpotEqualsSequential(rsDir,
      Seq("case1_0821_1741394221", "case2_0824_392202648"))
  }
}
