package graft.algorithms

import graft.{TestSpark, TestTimeLimit}
import graft.eval.Evaluation
import graft.model.Labels
import graft.runner.Runner
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The in-process tier (RiskLocKernel, AdtributorKernel): on collected
  * leaves the kernels reproduce the committed goldens, and they equal the
  * Spark path on predictions AND on the full trace stream, including
  * multi-character dimension names, derived measures, several input
  * partitions and zero, NaN and ±Inf measures. Through
  * `Runner.runAlgorithm` a kernel call costs one Spark job. */
class InProcessKernelSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val fixturesDir = getClass.getResource("/fixtures").getPath
  private val corpusDir = "src/test/resources/gen_corpus"
  private val rsDir = "src/test/resources/rs_synth"

  private def snapshotOf(df: DataFrame, attrs: Seq[String], measures: Seq[String]) =
    LeafSnapshot.of(LeafSnapshot.probe(df, attrs, measures, 1000000), attrs, measures, spark)

  private def traced[T](run: (String => Unit) => T): (T, Seq[String]) = {
    val lines = collection.mutable.ArrayBuffer.empty[String]
    (run(lines.append(_)), lines.toSeq)
  }

  /** Kernel vs Spark path, predictions and traces: one check per
    * algorithm in `algos`. */
  private def parity(df: DataFrame, attrs: Seq[String], derived: Boolean,
      what: String, algos: Seq[String] = Seq("riskloc", "adtributor", "rev_rec"))
      : Seq[() => Unit] = algos.map {
    case "riskloc" => () => {
      val s = snapshotOf(df, attrs, LeafSnapshot.measureColumns(derived, withRatios = true))
      val (k, kt) = traced(t => RiskLocKernel.run(s, RiskLoc.Options(derived = derived, trace = t)))
      val (sp, st) = traced(t => RiskLoc.run(df, attrs, RiskLoc.Options(derived = derived, trace = t)))
      assert(kt == st, s"$what riskloc trace")
      assert(k == sp, s"$what riskloc")
      assert(kt.nonEmpty)
    }
    case "adtributor" => () => {
      val s = snapshotOf(df, attrs, LeafSnapshot.measureColumns(derived, withRatios = false))
      val o = Adtributor.Options(derived = derived)
      assert(AdtributorKernel.adtributor(s, o) == Adtributor.run(df, attrs, o), s"$what adtributor")
    }
    case "rev_rec" => () => {
      val s = snapshotOf(df, attrs, LeafSnapshot.measureColumns(derived, withRatios = false))
      val (k, kt) = traced(t => AdtributorKernel.revRec(s,
        RevRecAdtributor.Options(derived = derived, trace = t)))
      val (sp, st) = traced(t => RevRecAdtributor.run(df, attrs,
        RevRecAdtributor.Options(derived = derived, trace = t)))
      assert(kt == st, s"$what rev_rec trace")
      assert(k == sp, s"$what rev_rec")
    }
  }

  /** Independent checks on concurrent driver threads (each Spark job is
    * tiny, so the spec's wall is driver round-trips). */
  private def runChecks(checks: Seq[() => Unit]): Unit =
    graft.core.Concurrency.awaitAll(checks, maxConcurrent = 8)

  // ---- goldens

  test("kernels reproduce the gen-corpus goldens (riskloc, adtributor)") {
    val golden = scala.io.Source.fromFile(s"$fixturesDir/gen_corpus_golden.tsv", "UTF-8")
      .getLines().map(_.split("\t", -1)).filter(f => f(0) == "riskloc" || f(0) == "adtributor")
      .toSeq
    assert(golden.size == 20)
    runChecks(golden.groupBy(_(1)).toSeq.map { case (file, rows) => () => {
      val df = InstanceSource.readFundamental(spark, corpusDir, file)
      val attrs = df.columns.filterNot(Set("real", "predict")).toSeq
      val s = snapshotOf(df, attrs, Seq("real", "predict"))
      for (f <- rows) {
        val preds =
          if (f(0) == "riskloc") RiskLoc.predictions(RiskLocKernel.run(s))
          else Adtributor.predictions(AdtributorKernel.adtributor(s))
        val want = if (f(3).isEmpty) Seq.empty[String] else f(3).split('|').toSeq
        assert(Labels.canonicalPredictions(preds).sorted == want.sorted, s"${f(0)}/$file")
        val sc = Evaluation.score(preds, f(2))
        assert((sc.tp, sc.fp, sc.fn) == ((f(4).toInt, f(5).toInt, f(6).toInt)))
      }
    }})
  }

  private val fixtureSchema = StructType(Seq("a", "b", "c").map(StructField(_, StringType)) ++
    Seq("real", "predict").map(StructField(_, DoubleType)))
  private def fixture(name: String): DataFrame = spark.read.schema(fixtureSchema)
    .option("header", "true").csv(s"$fixturesDir/$name.csv").cache()
  private lazy val derived4 = graft.operators.Snapshots.mergeDerived(
    fixture("fixture4.a"), fixture("fixture4.b")).cache()
  private val abc = Seq("a", "b", "c")

  test("kernels reproduce the fixture goldens (riskloc, adtributor, rev-rec)") {
    val golden = scala.io.Source.fromFile(s"$fixturesDir/golden.tsv").getLines().map { l =>
      val Array(fix, algo, preds) = l.split("\t", 3)
      (fix, algo) -> preds.split(";").toSeq.sorted
    }.toMap
    def fund(name: String) = snapshotOf(fixture(name), abc, Seq("real", "predict"))
    val d4 = snapshotOf(derived4, abc, LeafSnapshot.measureColumns(derived = true, withRatios = true))
    val cases: Seq[((String, String), Seq[String])] = Seq(
      ("fixture1", "riskloc_default") -> RiskLoc.predictions(RiskLocKernel.run(fund("fixture1"))),
      ("fixture1", "riskloc_rt03") -> RiskLoc.predictions(
        RiskLocKernel.run(fund("fixture1"), RiskLoc.Options(riskThreshold = 0.3))),
      ("fixture2", "riskloc_default") -> RiskLoc.predictions(RiskLocKernel.run(fund("fixture2"))),
      ("fixture4", "riskloc_derived") -> RiskLoc.predictions(
        RiskLocKernel.run(d4, RiskLoc.Options(derived = true))),
      ("fixture1", "adtributor_default") -> Adtributor.predictions(
        AdtributorKernel.adtributor(fund("fixture1"))),
      ("fixture2", "adtributor_low") -> Adtributor.predictions(AdtributorKernel.adtributor(
        fund("fixture2"), Adtributor.Options(teep = 0.05, tep = 0.1))),
      ("fixture4", "adtributor_derived") -> Adtributor.predictions(
        AdtributorKernel.adtributor(d4, Adtributor.Options(derived = true))),
      ("fixture1", "rev_rec_default") -> RevRecAdtributor.predictions(AdtributorKernel.revRec(
        fund("fixture1"), RevRecAdtributor.Options(teep = 0.1))),
      ("fixture2", "rev_rec_default") -> RevRecAdtributor.predictions(AdtributorKernel.revRec(
        fund("fixture2"), RevRecAdtributor.Options(teep = 0.1))),
      ("fixture4", "rev_rec_derived") -> RevRecAdtributor.predictions(AdtributorKernel.revRec(
        d4, RevRecAdtributor.Options(teep = 0.1, derived = true))))
    for ((key, preds) <- cases) assert(preds.sorted == golden(key), key.toString)
  }

  // ---- kernel == Spark path

  test("kernels equal the Spark path on the rs_synth cases (derived, long dimension names)") {
    runChecks(Seq("case1_synth", "case2_synth", "case3_synth").flatMap { c =>
      val raw = RsSource.readRaw(spark, s"$rsDir/$c.csv")
      val df = RsSource.snapshot(raw, RsLabels.labelFor(rsDir, c).timestamp).cache()
      parity(df, RsSource.attributesOf(raw), derived = true, c)
    })
  }

  test("rev-rec kernel equals the Spark path on the gen corpus") {
    val files = new java.io.File(corpusDir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".csv") && n != "injection_info.csv").map(_.stripSuffix(".csv")).sorted
    assert(files.length == 10)
    runChecks(files.toSeq.flatMap(f =>
      parity(InstanceSource.readFundamental(spark, corpusDir, f), Seq("a", "b", "c", "d"),
        derived = false, f, algos = Seq("rev_rec"))))
  }

  test("kernels equal the Spark path on zero, NaN and ±Inf measures over several partitions") {
    // 60 leaves over a4 x b3 x c5 in 4 input partitions: an anomaly on
    // a=a1, zero predict_b / real_a leaves, and NaN and ±Inf ratio measures
    val rnd = new scala.util.Random(7)
    val rows = for (a <- 0 until 4; b <- 0 until 3; c <- 0 until 5) yield {
      val pa = 50.0 + rnd.nextInt(50)
      val pb = if (b == 2 && c == 4) 0.0 else 20.0 + rnd.nextInt(10)
      val ra = if (a == 1) pa * 0.4 else if (c == 3 && b == 0) 0.0 else pa * (0.95 + 0.1 * rnd.nextDouble())
      val rb = pb * (0.97 + 0.06 * rnd.nextDouble())
      val (r, p) = (a, b, c) match {
        case (2, 1, 1) => (Double.NaN, 1.0)
        case (3, 2, 2) => (Double.PositiveInfinity, 1.5)
        case (0, 0, 4) => (0.7, Double.NegativeInfinity)
        case _ => (if (rb == 0.0) 0.0 else ra / rb, if (pb == 0.0) 0.0 else pa / pb)
      }
      Row(s"a$a", s"b$b", s"c$c", r, p, ra, pa, rb, pb)
    }
    val schema = StructType(abc.map(StructField(_, StringType)) ++
      Seq("real", "predict", "real_a", "predict_a", "real_b", "predict_b")
        .map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    assert(df.rdd.getNumPartitions == 4)
    runChecks(parity(df, abc, derived = true, "constructed") ++
      parity(df.drop("real_a", "predict_a", "real_b", "predict_b"), abc, derived = false,
        "constructed fundamental", algos = Seq("riskloc", "adtributor")))
  }

  test("a kernel call through runAlgorithm runs one Spark job; cap 0 takes the Spark path") {
    val df = fixture("fixture1")
    df.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf[T](f: => T): (T, Int) = {
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      jobs.set(0)
      val r = f
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      (r, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (algo <- Seq("riskloc", "adtributor", "rev_rec_adtributor")) {
        val (local, n) = jobsOf(Runner.runAlgorithm(df, abc, algo, derived = false, Map.empty))
        assert(n == 1, s"$algo ran $n jobs")
        val (onSpark, m) = jobsOf(Runner.runAlgorithm(df, abc, algo, derived = false, Map.empty,
          inProcessCap = 0))
        assert(m > 1, s"$algo with cap 0 ran $m jobs")
        assert(local == onSpark, algo)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
