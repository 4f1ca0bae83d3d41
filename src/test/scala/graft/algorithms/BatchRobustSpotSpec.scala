package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** BatchRobustSpot: a union of instance snapshots keyed by instance_id
  * must produce EXACTLY the per-instance RobustSpot.run results, while
  * running ~4 aggregation passes per drill-down round for the entire
  * corpus instead of per instance.
  *
  * Covers both modes: fundamental measures over the generated corpus,
  * and derived-measure PARITY mode (with `__row`) over the committed
  * RS-format fixture `rs_synth/` (tools/make_rs_synth.py, FIXTURES.md §8)
  * — the latter pins the batched NumpySum/PyListSort replication against
  * the sequential path that RS_SWEEP.md proved bit-equal to the
  * reference. The fixture test also asserts that its input exercises
  * that replication (non-empty causes, NaN-k leaves, a scrambled knee
  * input), so the equality can never hold vacuously. The same check on
  * the reference's real RS cases runs wherever that tree is mounted.
  * Four generated files also run under hostile instance ids, through
  * both rounds-1-6 shapes (fused and concurrent chains). */
class BatchRobustSpotSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val corpusDir = "src/test/resources/gen_corpus"
  private val fixtureDir = "src/test/resources/rs_synth"
  private val rsDir = "/root/reference/data/RS"

  private lazy val files: Seq[String] =
    new java.io.File(corpusDir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".csv") && n != "injection_info.csv")
      .map(_.stripSuffix(".csv")).sorted.toSeq

  test("batch equals sequential RobustSpot per instance (fundamental)") {
    val attrs = Seq("a", "b", "c", "d")
    val union = files.map { f =>
      InstanceSource.readFundamental(spark, corpusDir, f)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchRobustSpot.run(union, "instance_id", attrs,
      RobustSpot.Options(k = 3, derived = false))

    for (f <- files) {
      val seq = RobustSpot.run(InstanceSource.readFundamental(spark, corpusDir, f),
        attrs, RobustSpot.Options(k = 3, derived = false))
      assert(batch.getOrElse(f, Seq.empty) == seq, s"file $f")
    }
  }

  // four gen-corpus files under plain ids (their file names) and under
  // ids with NUL, brackets and a leading digit: none may leak into the
  // fused pass's (chain, instance) pseudo-key or its trace routing
  private lazy val plainIds: Seq[String] = files.take(4)
  private val hostileIds = Seq("1\u0000a]", "[b", "2]]", "\u0000[x]")

  /** BatchRobustSpot over the four files keyed by `ids`: results and trace. */
  private def runFour(ids: Seq[String], fuseMaxRows: Long = BatchRobustSpot.FuseChainsMaxRows)
      : (Map[String, Seq[Seq[RobustSpot.Cause]]], Seq[String]) = {
    val union = plainIds.zip(ids).map { case (f, id) =>
      InstanceSource.readFundamental(spark, corpusDir, f).withColumn("instance_id", lit(id))
    }.reduce(_ unionByName _)
    val trace = ArrayBuffer.empty[String]
    val res = BatchRobustSpot.run(union, "instance_id", Seq("a", "b", "c", "d"),
      RobustSpot.Options(k = 3, derived = false, trace = trace.append(_)), fuseMaxRows)
    (res, trace.toSeq)
  }

  private lazy val plainRun = runFour(plainIds)

  /** Per-instance results, and each instance's own trace lines in order
    * with their `[id] ` prefix stripped, equal to the plain-id run's. */
  private def assertSameAsPlain(run: (Map[String, Seq[Seq[RobustSpot.Cause]]], Seq[String]))
      : Unit = {
    val (plainRes, plainTrace) = plainRun
    val (res, trace) = run
    def linesOf(t: Seq[String], id: String): Seq[String] =
      t.filter(_.startsWith(s"[$id] ")).map(_.drop(id.length + 3))
    assert(res.keySet == hostileIds.toSet)
    assert(plainIds.exists(f => plainRes(f).nonEmpty), "every instance has an empty result")
    for ((f, h) <- plainIds.zip(hostileIds)) {
      assert(res(h) == plainRes(f), s"file $f results")
      val lines = linesOf(plainTrace, f)
      assert(lines.exists(_.startsWith("FINAL:")), s"file $f: no FINAL trace line")
      assert(linesOf(trace, h) == lines, s"file $f trace")
    }
  }

  test("hostile instance ids take the same path as plain ids") {
    assertSameAsPlain(runFour(hostileIds))
  }

  test("the concurrent-chains shape equals the fused shape") {
    // the corpus is far below FuseChainsMaxRows: plainRun is fused
    assertSameAsPlain(runFour(hostileIds, fuseMaxRows = 0L))
  }

  /** RS parity mode over the raw cases `cases` in `dir` (sharing one
    * attribute sequence): BatchRobustSpot on the union of their `__row`
    * snapshots must equal RobustSpot.run per case. Returns each case's
    * snapshot, sequential result and sequential trace. */
  private def assertParityBatchEqualsSequential(dir: String, cases: Seq[String])
      : Seq[(String, DataFrame, Seq[Seq[RobustSpot.Cause]], Seq[String])] = {
    val raws = cases.map(f => f -> RsSource.readRaw(spark, s"$dir/$f.csv"))
    val attrs = RsSource.attributesOf(raws.head._2)
    assert(raws.forall { case (_, r) => RsSource.attributesOf(r) == attrs })

    val union = raws.map { case (f, raw) =>
      RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp, withRowIndex = true)
        .withColumn("instance_id", lit(f))
    }.reduce(_ unionByName _)

    val batch = BatchRobustSpot.run(union, "instance_id", attrs,
      RobustSpot.Options(k = 3, derived = true))

    for ((f, raw) <- raws) yield {
      val snap = RsSource.snapshot(raw, RsLabels.labelFor(dir, f).timestamp,
        withRowIndex = true)
      val trace = ArrayBuffer.empty[String]
      val seq = RobustSpot.run(snap, attrs,
        RobustSpot.Options(k = 3, derived = true, trace = trace.append(_)))
      assert(batch.getOrElse(f, Seq.empty) == seq, s"case $f")
      (f, snap, seq, trace.toSeq)
    }
  }

  /** The knee x-vectors of a RobustSpot trace, one per screening round. */
  private def kneeInputs(trace: Seq[String]): Seq[Array[Double]] = {
    val x = """(?s).*KNEE:.*\n\s*x=\[(.*)\]""".r
    trace.collect { case x(body) =>
      if (body.isEmpty) Array.empty[Double] else body.split(", ").map(_.toDouble)
    }
  }

  test("batch equals sequential RobustSpot per instance (RS parity mode)") {
    // three synthetic RS-format cases sharing one attribute sequence
    val cases = Seq("case1_synth", "case2_synth", "case3_synth")
    val runs = assertParityBatchEqualsSequential(fixtureDir, cases)

    // the fixture must exercise the parity path, not just agree on []
    for ((f, snap, seq, trace) <- runs) {
      assert(seq.nonEmpty, s"case $f: empty result")
      val nanK = snap.filter(col("real_b") === 0.0 &&
        (col("real_a") > 0.0 || col("predict_a") > 0.0 || col("predict_b") > 0.0)).count()
      assert(nanK > 0, s"case $f: no leaf with real_b = 0 and another measure > 0")
      val knees = kneeInputs(trace)
      assert(knees.nonEmpty, s"case $f: no KNEE line in the trace")
      assert(knees.exists(x => x.indices.drop(1).exists(i => x(i - 1) > x(i))),
        s"case $f: every knee input is ascending")
    }
  }

  test("batch equals sequential RobustSpot per instance (RS parity mode, reference cases)") {
    assume(new java.io.File(s"$rsDir/anomaly.yaml").exists(), "reference corpus not mounted")
    // three real production cases sharing one attribute sequence
    val cases = Seq("case1_0821_1741394221", "case2_0824_392202648", "case3_0824_2231886096")
    assertParityBatchEqualsSequential(rsDir, cases)
  }
}
