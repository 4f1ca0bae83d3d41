package graft.runner

import graft.algorithms.{BatchRevRecAdtributor, RevRecAdtributor, RiskLoc, RobustSpot, Squeeze}
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Debug main: one algorithm on one instance with its internal trace on
  * stdout, in the shape the reference's debug output takes
  * (tools/riskloc_trace_ref.py, riskloc_trace_ref_fund.py, rs_trace_ref.py,
  * sq_trace_ref.py, sq_trace_gen.py), so the two pipelines can be diffed
  * iteration by iteration. The input is an RS case (derived measures; the
  * reference's data/RS directory, or src/test/resources/rs_synth) or a
  * fundamental-measure CSV such as a generated corpus file.
  * rev_rec_adtributor prints the sequential and the batch run one after
  * the other.
  *
  * Usage: RefTrace <riskloc|robustspot|squeeze|rev_rec_adtributor> <case> <rsDir>
  *        RefTrace <riskloc|squeeze> --gen <dir> <file>
  */
object RefTrace {
  private def hex(d: Double): String = java.lang.Double.toHexString(d)

  def main(args: Array[String]): Unit = {
    val usage = "usage: RefTrace <riskloc|robustspot|squeeze|rev_rec_adtributor> <case> <rsDir>" +
      " | RefTrace <riskloc|squeeze> --gen <dir> <file>"
    require(args.length >= 3, usage)
    val algo = args(0)
    val gen = args(1) == "--gen"
    require(Set("riskloc", "squeeze")(algo) || !gen && Set("robustspot",
      "rev_rec_adtributor")(algo), usage)
    require(!gen || args.length >= 4, usage)
    val spark = graft.core.Sessions.local("graft-ref-trace")
    // snapshot (with or without a row index), attributes, label; RS is derived
    val (snapshot, attrs, label): (Boolean => DataFrame, Seq[String], Option[String]) =
      if (gen) {
        val df = InstanceSource.readFundamental(spark, args(2), args(3))
        (_ => df, df.columns.filterNot(Set("real", "predict")).sorted.toSeq, None)
      } else {
        val (file, rsDir) = (args(1), args(2))
        val anomaly = RsLabels.labelFor(rsDir, file)
        val raw = RsSource.readRaw(spark, s"$rsDir/$file.csv")
        (ix => RsSource.snapshot(raw, anomaly.timestamp, withRowIndex = ix),
          RsSource.attributesOf(raw),
          Some(anomaly.label))
      }
    val derived = !gen
    algo match {
      case "riskloc" =>
        val rcs = RiskLoc.run(snapshot(false), attrs,
          RiskLoc.Options(derived = derived, trace = println))
        val scores = Seq("ep" -> "ep") ++
          (if (gen) Seq("high" -> "high_risk", "low" -> "low_risk") else Nil) :+ ("risk" -> "risk")
        rcs.foreach { rc =>
          println(s"CAUSE ${rc.cuboid} ${rc.elements.head.pairs.map(_._2)} " +
            scores.map { case (k, s) => s"$k=${hex(rc.scores(s))}" }.mkString(" "))
        }
        println("preds: " + RiskLoc.predictions(rcs).sorted.mkString("|"))
      case "robustspot" =>
        val rcs = RobustSpot.run(snapshot(true), attrs,
          RobustSpot.Options(k = 3, derived = true, trace = println))
        println("preds: " + RobustSpot.predictions(rcs).sorted.mkString("|"))
      case "squeeze" =>
        val preds = Squeeze.run(snapshot(false), attrs.sorted,
          Squeeze.Options(derived = derived, trace = println))
        println("preds: " + preds.sorted.mkString("|"))
      case "rev_rec_adtributor" =>
        val snap = snapshot(false)
        val opt = RevRecAdtributor.Options(teep = 0.2, k = 3, derived = true, trace = println)
        println("==== SEQUENTIAL")
        val seq = RevRecAdtributor.run(snap, attrs, opt)
        println("seq preds: " + RevRecAdtributor.predictions(seq).sorted.mkString("|"))
        println("==== BATCH")
        val batch = BatchRevRecAdtributor.run(snap.withColumn("instance_id", lit(args(1))),
          "instance_id", attrs, opt)
        println("batch preds: " +
          BatchRevRecAdtributor.predictions(batch)(args(1)).sorted.mkString("|"))
    }
    if (algo != "rev_rec_adtributor") label.foreach(l => println("label: " + l))
    spark.stop()
  }
}
