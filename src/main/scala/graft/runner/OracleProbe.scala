package graft.runner

import graft.algorithms.{AutoRoot, BatchAutoRoot, BatchRiskLoc, BatchSqueeze, RiskLoc, Squeeze}
import graft.queries.ScoreQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Oracle cross-check beyond the gate input: runs RiskLoc, AutoRoot and
  * Squeeze (and their Batch* DAGs) on variant anomaly injections of the
  * q40 snapshot, one JVM for the whole scenario matrix. The checkers
  * (tools/check_*_probe.py, driven by tools/run_probes.sh) substitute the
  * same injection into the generated oracle SQL and diff.
  *
  * A single-instance scenario scales the Brand#19/R slice by m1, plus an
  * optional second (brand2, rf2) slice by m2, where `*` matches any value:
  * m1 < 1 flips the anomaly direction, a dual anomaly exercises the
  * removal loop and multi-cluster merges, a weak one the empty result.
  * Squeeze also prints its internal trace as `TR` lines. A batch scenario
  * builds the three-instance corpus of q47-q49 (i1=Brand#19/R,
  * i2=Brand#25/A, i3=Brand#31/N) with a different multiplier per
  * instance; mi=1.0 leaves instance i without an anomaly.
  *
  * Each scenario prints a `=== ... ===` header, its RC/PRED lines and a
  * `PROBE_DONE` sentinel, which proves it ran to completion even when the
  * injection legitimately yields no result line (ADVICE r12).
  *
  * Usage: OracleProbe <sfDir> <scenario> [-- <scenario>]...
  *   scenario: <riskloc|autoroot|squeeze> <m1> [brand2 rf2 m2]
  *           | batch <riskloc|autoroot|squeeze> <m1> <m2> <m3>
  */
object OracleProbe {
  private val Families = Set("riskloc", "autoroot", "squeeze")
  private val Attrs = Seq("brand", "ls", "rf")
  private val BatchSlices = Seq(("Brand#19", "R"), ("Brand#25", "A"), ("Brand#31", "N"))

  /** `slices` are (brand, rf, multiplier): the injections of one instance,
    * or one per instance i1, i2, i3 in a batch scenario. */
  private final case class Scenario(header: String, batch: Boolean, family: String,
      slices: Seq[(String, String, Double)])

  private def parse(words: List[String]): Scenario = {
    def bad = sys.error(s"bad scenario: ${words.mkString(" ")}")
    def m(s: String) = s.toDoubleOption.getOrElse(bad)
    val (batch, family, rest) = words match {
      case "batch" :: f :: rest => (true, f, rest)
      case f :: rest => (false, f, rest)
      case Nil => bad
    }
    require(Families(family), s"unknown family: $family")
    val slices = (batch, rest) match {
      case (true, ms @ List(_, _, _)) =>
        BatchSlices.zip(ms).map { case ((b, r), x) => (b, r, m(x)) }
      case (false, List(m1)) => Seq(("Brand#19", "R", m(m1)))
      case (false, List(m1, b2, r2, m2)) => Seq(("Brand#19", "R", m(m1)), (b2, r2, m(m2)))
      case _ => bad
    }
    Scenario(s"=== ${if (batch) "batch " else ""}$family: ${rest.mkString(" ")} ===",
      batch, family, slices)
  }

  /** The snapshot with `vreal` scaled by the first matching (brand, rf, m)
    * slice as `real`, and a seeded ±2.5% forecast error as `predict` — the
    * injection the oracle SQL carries. */
  private def inject(base: DataFrame, slices: Seq[(String, String, Double)],
      lead: Column*): DataFrame = {
    def is(c: String, v: String) = if (v == "*") lit(true) else col(c) === v
    def hit(s: (String, String, Double)) = is("brand", s._1) && is("rf", s._2)
    val scale = slices.tail.foldLeft(when(hit(slices.head), slices.head._3))(
      (w, s) => w.when(hit(s), s._3)).otherwise(1.0)
    base.select(lead ++ Seq(col("rf"), col("ls"), col("brand"),
      (col("vreal") * scale).as("real"),
      (col("vreal") * (lit(1.0) +
        (pmod(hash(col("rf"), col("ls"), col("brand")), lit(1000)) / 1000.0 - 0.5) * 0.05))
        .as("predict")): _*)
  }

  private def emit(fields: Any*): Unit = println(fields.mkString("\t"))

  private def floor6(x: Double): Double = math.floor(x * 1e6) / 1e6

  private def run(base: DataFrame, sc: Scenario): Unit =
    if (!sc.batch) {
      val snap = inject(base, sc.slices)
      sc.family match {
        case "riskloc" => RiskLoc.run(snap, Attrs).foreach(rc =>
          emit("RC", rc.labels.mkString(";"), rc.layer, floor6(rc.scores("risk"))))
        case "autoroot" =>
          AutoRoot.run(snap, Attrs, AutoRoot.Options(deltaThreshold = 0.1)).foreach(rc =>
            emit("RC", rc.labels.mkString(";"), rc.layer, floor6(rc.scores("avg"))))
        case "squeeze" =>
          Squeeze.run(snap, Attrs, Squeeze.Options(trace = s => emit("TR", s)))
            .foreach(emit("PRED", _))
      }
    } else {
      val corpus = sc.slices.zipWithIndex.map { case (slice, i) =>
        inject(base, Seq(slice), lit(s"i${i + 1}").as("instance_id"))
      }.reduce(_ unionByName _).persist()
      sc.family match {
        case "riskloc" => BatchRiskLoc.run(corpus, "instance_id", Attrs).toSeq.sortBy(_._1)
          .foreach { case (inst, rcs) => rcs.foreach(rc =>
            emit("RC", inst, rc.labels.mkString(";"), floor6(rc.scores("risk")))) }
        case "squeeze" => BatchSqueeze.run(corpus, "instance_id", Attrs).toSeq.sortBy(_._1)
          .foreach { case (inst, preds) => preds.foreach(emit("PRED", inst, _)) }
        case "autoroot" => BatchAutoRoot.run(corpus, "instance_id", Attrs,
            AutoRoot.Options(deltaThreshold = 0.1)).toSeq.sortBy(_._1)
          .foreach { case (inst, rcs) => rcs.foreach(rc =>
            emit("RC", inst, rc.labels.mkString(";"), floor6(rc.scores("avg")))) }
      }
      corpus.unpersist()
    }

  private def split(words: List[String]): List[List[String]] = words.span(_ != "--") match {
    case (h, Nil) => List(h)
    case (h, _ :: t) => h :: split(t)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OracleProbe <sfDir> <scenario> [-- <scenario>]...")
    // validate the whole matrix before paying for a session
    val scenarios = split(args.toList.tail).map(parse)
    val spark = graft.core.Sessions.local("graft-oracle-probe")
    val base = ScoreQueries.snapshot(spark, args(0))
    scenarios.foreach { sc =>
      println(sc.header)
      run(base, sc)
      println("PROBE_DONE")
    }
    spark.stop()
  }
}
