package graft

import graft.algorithms.{Adtributor, RevRecAdtributor, RiskLoc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference implementation's outputs (goldens produced by
  * tools/make_fixtures.py running /root/reference code on seeded synthetic
  * snapshots) against the Spark engine. */
class FixtureSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val fixturesDir = getClass.getResource("/fixtures").getPath

  private val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType), StructField("c", StringType),
    StructField("real", DoubleType), StructField("predict", DoubleType)))

  private def fixture(name: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(s"$fixturesDir/$name.csv").cache()

  private val golden: Map[(String, String), Seq[String]] =
    scala.io.Source.fromFile(s"$fixturesDir/golden.tsv").getLines().map { line =>
      val Array(fix, algo, preds) = line.split("\t", 3)
      (fix, algo) -> preds.split(";").toSeq.sorted
    }.toMap

  private val attrs = Seq("a", "b", "c")

  private def check(fix: String, algo: String, preds: Seq[String]): Unit =
    assert(preds.sorted == golden((fix, algo)), s"$fix/$algo")

  test("riskloc default matches reference on fixture1") {
    check("fixture1", "riskloc_default",
      RiskLoc.predictions(RiskLoc.run(fixture("fixture1"), attrs)))
  }

  test("riskloc rt=0.3 matches reference on fixture1") {
    check("fixture1", "riskloc_rt03",
      RiskLoc.predictions(RiskLoc.run(fixture("fixture1"), attrs,
        RiskLoc.Options(riskThreshold = 0.3))))
  }

  test("riskloc default matches reference on fixture2 (layer-2 composite)") {
    check("fixture2", "riskloc_default",
      RiskLoc.predictions(RiskLoc.run(fixture("fixture2"), attrs)))
  }

  test("adtributor default matches reference on fixture1") {
    check("fixture1", "adtributor_default",
      Adtributor.predictions(Adtributor.run(fixture("fixture1"), attrs)))
  }

  test("adtributor low thresholds matches reference on fixture2") {
    check("fixture2", "adtributor_low",
      Adtributor.predictions(Adtributor.run(fixture("fixture2"), attrs,
        Adtributor.Options(teep = 0.05, tep = 0.1))))
  }

  test("rev-rec adtributor matches reference on fixture1") {
    check("fixture1", "rev_rec_default",
      RevRecAdtributor.predictions(RevRecAdtributor.run(fixture("fixture1"), attrs,
        RevRecAdtributor.Options(teep = 0.1))))
  }

  test("autoroot matches reference on fixture1") {
    check("fixture1", "autoroot_default",
      graft.algorithms.AutoRoot.predictions(
        graft.algorithms.AutoRoot.run(fixture("fixture1"), attrs,
          graft.algorithms.AutoRoot.Options(deltaThreshold = 0.25))))
  }

  test("autoroot matches reference on fixture2") {
    check("fixture2", "autoroot_default",
      graft.algorithms.AutoRoot.predictions(
        graft.algorithms.AutoRoot.run(fixture("fixture2"), attrs,
          graft.algorithms.AutoRoot.Options(deltaThreshold = 0.25))))
  }

  test("squeeze matches reference on fixture1") {
    check("fixture1", "squeeze_default",
      graft.algorithms.Squeeze.run(fixture("fixture1"), attrs))
  }

  test("squeeze matches reference on fixture2") {
    check("fixture2", "squeeze_default",
      graft.algorithms.Squeeze.run(fixture("fixture2"), attrs))
  }

  test("rev-rec adtributor matches reference on fixture2") {
    check("fixture2", "rev_rec_default",
      RevRecAdtributor.predictions(RevRecAdtributor.run(fixture("fixture2"), attrs,
        RevRecAdtributor.Options(teep = 0.1))))
  }

  // ---- fixture4: derived measures (a/b pair merged via J1)

  private lazy val derived4: DataFrame = graft.operators.Snapshots.mergeDerived(
    fixture("fixture4.a"), fixture("fixture4.b")).cache()

  test("riskloc derived matches reference on fixture4") {
    check("fixture4", "riskloc_derived",
      RiskLoc.predictions(RiskLoc.run(derived4, attrs,
        RiskLoc.Options(derived = true))))
  }

  test("adtributor derived matches reference on fixture4") {
    check("fixture4", "adtributor_derived",
      Adtributor.predictions(Adtributor.run(derived4, attrs,
        Adtributor.Options(derived = true))))
  }

  test("rev-rec adtributor derived matches reference on fixture4") {
    check("fixture4", "rev_rec_derived",
      RevRecAdtributor.predictions(RevRecAdtributor.run(derived4, attrs,
        RevRecAdtributor.Options(teep = 0.1, derived = true))))
  }

  test("squeeze derived matches reference on fixture4") {
    check("fixture4", "squeeze_derived",
      graft.algorithms.Squeeze.run(derived4, attrs,
        graft.algorithms.Squeeze.Options(derived = true)))
  }
}
