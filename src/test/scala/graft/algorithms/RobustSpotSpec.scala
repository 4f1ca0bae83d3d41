package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.sources.RsSource
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** RobustSpot vs the reference golden (tools/make_fixtures.py, fixture3 —
  * derived failure-rate KPI with a composite anomaly), plus the RS raw
  * time-series ingest (utils/robustspot_data_utils.py semantics). */
class RobustSpotSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType), StructField("c", StringType),
    StructField("real_b", DoubleType), StructField("predict_b", DoubleType),
    StructField("real_a", DoubleType), StructField("predict_a", DoubleType),
    StructField("real", DoubleType), StructField("predict", DoubleType)))

  private lazy val fixture3 = spark.read.schema(schema).option("header", "true")
    .csv(getClass.getResource("/fixtures").getPath + "/fixture3.csv").cache()

  private lazy val golden: Map[(String, String), Seq[String]] =
    scala.io.Source.fromFile(getClass.getResource("/fixtures").getPath + "/golden.tsv")
      .getLines().map { line =>
        val Array(fix, algo, preds) = line.split("\t", 3)
        (fix, algo) -> preds.split(";").toSeq.sorted
      }.toMap

  test("robustspot fundamental matches reference on fixture1") {
    val schema1 = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType), StructField("c", StringType),
      StructField("real", DoubleType), StructField("predict", DoubleType)))
    val fixture1 = spark.read.schema(schema1).option("header", "true")
      .csv(getClass.getResource("/fixtures").getPath + "/fixture1.csv")
    val preds = RobustSpot.predictions(
      RobustSpot.run(fixture1, Seq("a", "b", "c"), RobustSpot.Options(k = 3, derived = false)))
    assert(preds.sorted == golden(("fixture1", "robustspot_fundamental")))
  }

  test("robustspot derived matches reference on fixture3") {
    val preds = RobustSpot.predictions(
      RobustSpot.run(fixture3, Seq("a", "b", "c"), RobustSpot.Options(k = 3, derived = true)))
    assert(preds.sorted == golden(("fixture3", "robustspot_default")))
  }

  test("idThreshold knee falls inside the ID range and defaults to 0.5 when empty") {
    assert(RobustSpot.idThreshold(Array.empty) == 0.5)
    // a sharp knee: slow ramp then plateau
    val ids = (1 to 50).map(_ * 0.004) ++ (1 to 50).map(i => 0.2 + i * 0.012)
    val t = RobustSpot.idThreshold(ids.toArray.sorted)
    assert(t > 0.0 && t <= ids.max)
  }

  test("rs raw snapshot: trailing-4-minute mean forecast per leaf") {
    import spark.implicits._
    val ts = 1000L * 60
    // leaf (x1): history failures 2,4 over cnt 10 -> predict_a=3, k mean;
    // leaf (x2): no history -> zeros
    val raw = Seq(
      (ts - 60, "x1", 8.0, 10.0),  // value=cnt-value=2, k=0.2
      (ts - 120, "x1", 6.0, 10.0), // value=4, k=0.4
      (ts - 600, "x1", 0.0, 10.0), // outside window
      (ts, "x1", 5.0, 10.0),       // current: value=5, k=0.5
      (ts, "x2", 9.0, 10.0)        // current, no history
    ).toDF("min", "attr_x", "value", "cnt")

    val snap = RsSource.snapshot(raw, ts).collect().map(r =>
      r.getString(0) -> r).toMap

    val x1 = snap("x1")
    assert(x1.getDouble(x1.fieldIndex("real")) == 0.5)
    assert(x1.getDouble(x1.fieldIndex("real_a")) == 5.0)
    assert(x1.getDouble(x1.fieldIndex("predict_a")) == 3.0)
    assert(x1.getDouble(x1.fieldIndex("predict_b")) == 10.0)
    assert(math.abs(x1.getDouble(x1.fieldIndex("predict")) - 0.3) < 1e-12)

    val x2 = snap("x2")
    assert(x2.getDouble(x2.fieldIndex("real_a")) == 1.0)
    assert(x2.getDouble(x2.fieldIndex("predict")) == 0.0)
    assert(x2.getDouble(x2.fieldIndex("predict_a")) == 0.0)
  }

  test("rs snapshot feeds robustspot end-to-end") {
    import spark.implicits._
    // Scenario verified against the reference (robustspot.py on the same
    // snapshot -> ['dev=dev2']). Note the RS path double-flips value
    // (ingest: failures; adapt_derived: back to successes), so the
    // CA-positive direction is a success-count INCREASE.
    val ts = 60000L
    val rows = for {
      m <- 0 to 4
      d1 <- 0 until 4; d2 <- 0 until 3
    } yield {
      val cnt = 100.0
      val bad = d1 == 2 && m == 4 // anomaly at current minute in dev=2
      val failures = if (bad) 1.0 else 30.0 + (d1 + d2 + m) % 3
      (ts - (4 - m) * 60L, s"dev$d1", s"isp$d2", cnt - failures, cnt)
    }
    val raw = rows.toDF("min", "dev", "isp", "value", "cnt")
    val snap = RsSource.snapshot(raw, ts)
    val rcs = RobustSpot.run(snap, Seq("dev", "isp"),
      RobustSpot.Options(k = 1, derived = true))
    val preds = RobustSpot.predictions(rcs)
    assert(preds == Seq("dev=dev2"), preds.toString)
  }
}
