package graft

import graft.runner.StreamScale
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming-at-scale contracts (runner.StreamScale /
  * STREAM_SCALE.md) at test size on every run:
  *
  *  - exact parity: the snapshot rows the stream emits (row count +
  *    real_a/predict_a checksum) equal the batch run of the SAME
  *    `anomalySnapshots` function on the same static frame restricted to
  *    the watermark-closed minutes;
  *  - bounded state: the state store never holds more than
  *    leaves x (periods+1 live windows + watermark-delay grace) rows —
  *    eviction, not accumulation, no matter how many minutes stream.
  *
  * The full-size run (250k leaves x 96 minutes = the reference H
  * dataset's 24M rows) runs out-of-band via `runMain
  * graft.runner.StreamScale` and its committed STREAM_SCALE.md.
  */
class StreamScaleSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  test("streamed snapshots match batch and state stays bounded") {
    val r = StreamScale.run(spark,
      dims = Seq("a" -> 4, "b" -> 3), minutes = 12, filesPerMinute = 2)
    assert(r.parityOk,
      s"stream emitted ${r.emittedRows} rows vs batch ${r.expectedRows}")
    assert(r.emittedRows > 0)
    assert(r.maxStateRows <= r.stateBoundRows,
      s"state rows ${r.maxStateRows} exceed bound ${r.stateBoundRows}")
  }
}
