package graft.queries

import org.apache.spark.sql.DataFrame
import java.security.MessageDigest

/** Committed result goldens for the rows-only gate queries (the ones the
  * driver's DuckDB oracle cannot express — end-to-end RCA runs, LSH/ANN
  * approximations, the multimodal stub). The driver's CORRECTNESS check
  * records only `rows > 0` for these; this digest pins the full result
  * set so any behavioral regression in q40-q49/q57-q62/q64-q66 fails a
  * committed spec (RowsOnlyGoldenSpec) instead of passing silently.
  *
  * Digest canonicalization: schema line (name:type per column) plus every
  * row rendered cell-by-cell (exact `Double.toString`, arrays bracketed,
  * null as NUL U+0000), cells joined by SOH U+0001, rows sorted, md5 over the
  * newline-joined block. Gate queries already end in a deterministic
  * ORDER BY and floor/round their floating outputs (GateQuery doc), so
  * the digest is stable run-to-run; the sort here additionally makes it
  * independent of output partition order.
  */
object RowGoldens {

  def rowsOnly: Seq[GateQuery] =
    (RelationalQueries.defs ++ ScoreQueries.defs ++ AlgorithmQueries.defs ++
      PipelineQueries.defs).filter(_.oracle.isEmpty)

  /** Oracle-backed queries that ALSO keep a committed digest pin
    * (ADVICE r10): the DuckDB oracle verifies them only at the SF the
    * round harness runs (sf0.01), so these five — whose rows-only pins
    * were retired when their oracles landed — stay digest-pinned at
    * sf0.001 AND sf0.01 to catch SF-specific regressions (e.g. a
    * banding/thinning change that only shifts candidates at small row
    * counts) between oracle runs. */
  val OracleBackedPins: Set[String] =
    Set("q40_riskloc", "q41_adtributor", "q42_revrec_adtributor",
      "q43_autoroot", "q44_squeeze", "q47_batch_riskloc",
      "q48_batch_squeeze", "q49_batch_autoroot", "q57_minhash_lsh",
      "q58_simhash", "q60_lsh_ann", "q61_ivf_ann", "q64_multimodal",
      "q67_batch_revrec")

  def oracleBacked: Seq[GateQuery] =
    (RelationalQueries.defs ++ ScoreQueries.defs ++ AlgorithmQueries.defs ++
      PipelineQueries.defs).filter(q => OracleBackedPins(q.name))

  // Control-char sentinels built from numeric char codes so the source file
  // carries no Java/Scala unicode-escape forms (a pre-lexer that expands
  // them everywhere, comments included, would otherwise see raw control
  // bytes and flag the file binary).
  private val NullCell: String = 0.toChar.toString // NUL U+0000
  private val CellSep: String = 1.toChar.toString  // SOH U+0001

  def digest(df: DataFrame): (Long, String) = {
    val header = df.schema.map(f => f.name + ":" + f.dataType.simpleString).mkString(CellSep)
    val rows = df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => NullCell
          case a: scala.collection.Seq[_] => a.map(String.valueOf).mkString("[", ",", "]")
          case x => String.valueOf(x)
        }
      }.mkString(CellSep)
    }.sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(header.getBytes("UTF-8"))
    rows.foreach { s => md.update('\n'.toByte); md.update(s.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  final case class Golden(name: String, sf: String, rows: Long, md5: String)

  def read(path: String): Map[(String, String), Golden] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, sf, rows, md5) = line.split('\t')
      (name, sf) -> Golden(name, sf, rows.toLong, md5)
    }.toMap
    finally src.close()
  }
}

/** Regenerates the committed golden fixtures. Run after any INTENDED
  * behavior change to a pinned gate query:
  * `sbt 'runMain graft.queries.RowGoldenGen'` (writes
  * src/test/resources/fixtures/rows_only_golden.tsv and
  * oracle_backed_golden.tsv for sf0.001+sf0.01).
  */
object RowGoldenGen {
  def main(args: Array[String]): Unit = {
    // The first argument changed meaning in round 11 (output .tsv path ->
    // output DIRECTORY, now that two fixture files are written). Reject the
    // old form loudly rather than silently writing <path>.tsv/<file>.tsv.
    args.lift(0).filter(_.endsWith(".tsv")).foreach { p =>
      sys.error(s"RowGoldenGen now takes an output DIRECTORY (got '$p'); " +
        "it writes rows_only_golden.tsv AND oracle_backed_golden.tsv there. " +
        s"Pass '${new java.io.File(p).getParent}' instead.")
    }
    val dir = args.lift(0).getOrElse("src/test/resources/fixtures")
    val sfs = args.lift(1).map(_.split(',').toSeq).getOrElse(Seq("sf0.001", "sf0.01"))
    val spark = graft.core.Sessions.local("graft-row-goldens")
    spark.sparkContext.setLogLevel("WARN")
    for ((file, queries) <- Seq(
        "rows_only_golden.tsv" -> RowGoldens.rowsOnly,
        "oracle_backed_golden.tsv" -> RowGoldens.oracleBacked)) {
      val sb = new StringBuilder
      for (sf <- sfs; q <- queries.sortBy(_.name)) {
        val (rows, md5) = RowGoldens.digest(q.fn(spark, s"/root/testdata/$sf"))
        println(s"${q.name}\t$sf\t$rows\t$md5")
        sb ++= s"${q.name}\t$sf\t$rows\t$md5\n"
        spark.catalog.clearCache()
      }
      val out = s"$dir/$file"
      java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
      println(s"wrote $out")
    }
    spark.stop()
  }
}
