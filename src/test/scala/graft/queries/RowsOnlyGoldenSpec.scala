package graft.queries

import graft.{TestSpark, TestTimeLimit}
import org.scalatest.funsuite.AnyFunSuite

/** Every rows-only gate query (no DuckDB oracle) is pinned to a committed
  * result digest at sf0.001 — the driver's correctness gate only checks
  * `rows > 0` for these, so this spec is what catches behavioral
  * regressions in the end-to-end RCA / LSH / ANN / multimodal queries.
  * Regenerate the fixture with `runMain graft.queries.RowGoldenGen` after
  * an intended behavior change.
  *
  * The fixture also commits sf0.01 digests (bench scale). Completeness at
  * sf0.01 is asserted on every run; the sf0.01 re-execution belt is
  * env-gated (`GRAFT_GOLDEN_SFS=sf0.01 sbt test`) so the default suite
  * stays fast — run it before shipping a change to any gate query. */
class RowsOnlyGoldenSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val sf = "sf0.001"
  private lazy val golden =
    RowGoldens.read("src/test/resources/fixtures/rows_only_golden.tsv")

  for (pinSf <- Seq("sf0.001", "sf0.01"))
    test(s"fixture covers every rows-only gate query at $pinSf") {
      val names = RowGoldens.rowsOnly.map(_.name).toSet
      val pinned = golden.keys.collect { case (n, `pinSf`) => n }.toSet
      assert(names == pinned,
        s"missing=${names -- pinned} stale=${pinned -- names}")
    }

  private val checkSfs =
    sf +: sys.env.get("GRAFT_GOLDEN_SFS").map(_.split(',').toSeq).getOrElse(Seq.empty)

  for (checkSf <- checkSfs.distinct; q <- RowGoldens.rowsOnly.sortBy(_.name)) {
    test(s"${q.name} matches its committed digest at $checkSf") {
      val g = golden((q.name, checkSf))
      val (rows, md5) = RowGoldens.digest(q.fn(spark, s"/root/testdata/$checkSf"))
      assert(rows == g.rows, s"${q.name} row count")
      assert(md5 == g.md5, s"${q.name} digest")
    }
  }

  // Second belt (ADVICE r10): oracle-backed queries whose DuckDB oracle
  // only runs at the harness SF keep SF-pinned digests here, so a
  // regression visible only at sf0.001 row counts still fails a spec.
  private lazy val oracleGolden =
    RowGoldens.read("src/test/resources/fixtures/oracle_backed_golden.tsv")

  for (pinSf <- Seq("sf0.001", "sf0.01"))
    test(s"oracle-backed fixture covers its pin set at $pinSf") {
      val names = RowGoldens.oracleBacked.map(_.name).toSet
      val pinned = oracleGolden.keys.collect { case (n, `pinSf`) => n }.toSet
      assert(names == RowGoldens.OracleBackedPins && names == pinned,
        s"missing=${names -- pinned} stale=${pinned -- names}")
    }

  for (checkSf <- checkSfs.distinct; q <- RowGoldens.oracleBacked.sortBy(_.name)) {
    test(s"${q.name} matches its committed oracle-backed digest at $checkSf") {
      val g = oracleGolden((q.name, checkSf))
      val (rows, md5) = RowGoldens.digest(q.fn(spark, s"/root/testdata/$checkSf"))
      assert(rows == g.rows, s"${q.name} row count")
      assert(md5 == g.md5, s"${q.name} digest")
    }
  }
}
