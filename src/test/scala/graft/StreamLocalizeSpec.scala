package graft

import graft.runner.StreamLocalize
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming-localization contract (runner.StreamLocalize /
  * STREAM_LOCALIZE.md) at test size on every run: for every completed
  * window the stream localizes inside `foreachBatch`, the predictions
  * equal the batch engine's on the batch-computed snapshot of the same
  * minute, and the injected rotating anomaly is actually found in the
  * spike windows (the leg is exercised, not vacuously green).
  *
  * The full-size run (250k leaves x 96 minutes = the reference H
  * dataset's 24M rows) runs out-of-band via `runMain
  * graft.runner.StreamLocalize` and its committed STREAM_LOCALIZE.md.
  */
class StreamLocalizeSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  test("per-window stream localization matches batch engine") {
    val (windows, _, _) = StreamLocalize.run(spark,
      dims = Seq("a" -> 4, "b" -> 3), minutes = 16, spikeEvery = 4,
      filesPerMinute = 2)
    assert(windows.nonEmpty)
    val bad = windows.filterNot(_.ok)
    assert(bad.isEmpty, s"stream != batch on minutes ${bad.map(_.minute)}")
    // the rotating layer-1 spike must be localized in at least one window
    assert(windows.exists(_.streamPreds.nonEmpty), "no window found any cause")
  }

  test("per-window stream localization with iterative riskloc matches batch engine") {
    val (windows, _, _) = StreamLocalize.run(spark,
      dims = Seq("a" -> 4, "b" -> 3), minutes = 16, spikeEvery = 4,
      filesPerMinute = 2, algo = "riskloc")
    assert(windows.nonEmpty)
    val bad = windows.filterNot(_.ok)
    assert(bad.isEmpty, s"stream != batch on minutes ${bad.map(_.minute)}")
    assert(windows.exists(_.streamPreds.nonEmpty), "no window found any cause")
  }
}
