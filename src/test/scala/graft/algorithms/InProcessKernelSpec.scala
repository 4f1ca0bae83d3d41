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

/** The in-process tier (RiskLocKernel, AdtributorKernel, SqueezeKernel,
  * AutoRootKernel): on collected
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
    case "squeeze" => () => {
      val s = snapshotOf(df, attrs, LeafSnapshot.measureColumns(derived, withRatios = false))
      val (k, kt) = traced(t => SqueezeKernel.run(s, Squeeze.Options(derived = derived, trace = t)))
      val (sp, st) = traced(t => Squeeze.run(df, attrs, Squeeze.Options(derived = derived, trace = t)))
      assert(kt == st, s"$what squeeze trace")
      assert(k == sp, s"$what squeeze")
    }
    case "autoroot" => () => {
      val s = snapshotOf(df, attrs, Seq("real", "predict"))
      val o = AutoRoot.Options(deltaThreshold = 0.25)
      assert(AutoRootKernel.run(s, o) == AutoRoot.run(df, attrs, o), s"$what autoroot")
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

  test("squeeze and autoroot kernels reproduce the gen-corpus and fixture goldens") {
    val golden = scala.io.Source.fromFile(s"$fixturesDir/gen_corpus_golden.tsv", "UTF-8")
      .getLines().map(_.split("\t", -1)).filter(f => f(0) == "squeeze" || f(0) == "autoroot")
      .toSeq
    assert(golden.size == 20)
    runChecks(golden.groupBy(_(1)).toSeq.map { case (file, rows) => () => {
      val df = InstanceSource.readFundamental(spark, corpusDir, file)
      val attrs = df.columns.filterNot(Set("real", "predict")).toSeq.sorted
      val s = snapshotOf(df, attrs, Seq("real", "predict"))
      for (f <- rows) {
        val preds =
          if (f(0) == "squeeze") SqueezeKernel.run(s)
          else AutoRoot.predictions(AutoRootKernel.run(s, AutoRoot.Options(deltaThreshold = 0.25)))
        val want = if (f(3).isEmpty) Seq.empty[String] else f(3).split('|').toSeq
        assert(Labels.canonicalPredictions(preds).sorted == want.sorted, s"${f(0)}/$file")
        val sc = Evaluation.score(preds, f(2))
        assert((sc.tp, sc.fp, sc.fn) == ((f(4).toInt, f(5).toInt, f(6).toInt)))
      }
    }})
    val fixtureGolden = scala.io.Source.fromFile(s"$fixturesDir/golden.tsv").getLines().map { l =>
      val Array(fix, algo, preds) = l.split("\t", 3)
      (fix, algo) -> preds.split(";").toSeq.sorted
    }.toMap
    def fund(name: String) = snapshotOf(fixture(name), abc, Seq("real", "predict"))
    val d4 = snapshotOf(derived4, abc, LeafSnapshot.measureColumns(derived = true, withRatios = false))
    val ar = AutoRoot.Options(deltaThreshold = 0.25)
    val cases: Seq[((String, String), Seq[String])] = Seq(
      ("fixture1", "autoroot_default") -> AutoRoot.predictions(AutoRootKernel.run(fund("fixture1"), ar)),
      ("fixture2", "autoroot_default") -> AutoRoot.predictions(AutoRootKernel.run(fund("fixture2"), ar)),
      ("fixture1", "squeeze_default") -> SqueezeKernel.run(fund("fixture1")),
      ("fixture2", "squeeze_default") -> SqueezeKernel.run(fund("fixture2")),
      ("fixture4", "squeeze_derived") -> SqueezeKernel.run(d4, Squeeze.Options(derived = true)))
    for ((key, preds) <- cases) assert(preds.sorted == fixtureGolden(key), key.toString)
  }

  // ---- kernel == Spark path

  test("kernels equal the Spark path on the rs_synth cases (derived, long dimension names)") {
    runChecks(Seq("case1_synth", "case2_synth", "case3_synth").flatMap { c =>
      val raw = RsSource.readRaw(spark, s"$rsDir/$c.csv")
      val df = RsSource.snapshot(raw, RsLabels.labelFor(rsDir, c).timestamp).cache()
      parity(df, RsSource.attributesOf(raw), derived = true, c,
        algos = Seq("riskloc", "adtributor", "rev_rec", "squeeze"))
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
        case (1, 2, 3) => (-2.5, 1.0) // a negative real: Squeeze's min-real shift
        case _ => (if (rb == 0.0) 0.0 else ra / rb, if (pb == 0.0) 0.0 else pa / pb)
      }
      Row(s"a$a", s"b$b", s"c$c", r, p, ra, pa, rb, pb)
    }
    val schema = StructType(abc.map(StructField(_, StringType)) ++
      Seq("real", "predict", "real_a", "predict_a", "real_b", "predict_b")
        .map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    assert(df.rdd.getNumPartitions == 4)
    runChecks(parity(df, abc, derived = true, "constructed",
        algos = Seq("riskloc", "adtributor", "rev_rec", "squeeze")) ++
      parity(df.drop("real_a", "predict_a", "real_b", "predict_b"), abc, derived = false,
        "constructed fundamental", algos = Seq("riskloc", "adtributor", "squeeze", "autoroot")))
  }

  test("autoroot kernel replays Spark's per-partition sums where they decide the winner") {
    // a1 and a2 hold the same four leaves in the same order: two anomalies
    // (term_b 0.7) and term_b 0.2 and 0.1. a1's leaves sit in partition 0;
    // a2's first leaf sits in partition 1 and the other three in partition
    // 2. One sequential sum gives a1 and a2 bit-equal NPS, and the tie goes
    // to a1; summed per partition, a2's sum(term_b) differs in its last
    // bit and a2 wins. The b values keep every b element at 1 of 4
    // anomalous leaves, below the 0.25 split thresholds.
    def leaf(a: String, b: String, kind: Char): Row = kind match {
      case 'x' => Row(a, b, 10.0, 17.0)
      case '2' => Row(a, b, 10.0, 12.0)
      case '1' => Row(a, b, 10.0, 11.0)
      case '0' => Row(a, b, 10.0, 10.0)
    }
    val a1 = Seq(leaf("a1", "b1", 'x'), leaf("a1", "b2", '2'), leaf("a1", "b3", '1'), leaf("a1", "b4", 'x'))
    val a2 = Seq(leaf("a2", "b2", 'x'), leaf("a2", "b1", '2'), leaf("a2", "b4", '1'), leaf("a2", "b3", 'x'))
    val normal = for (a <- Seq("a3", "a4"); b <- Seq("b1", "b2", "b3", "b4")) yield leaf(a, b, '0')
    val rows = a1 ++ a2.take(1) ++ normal.take(3) ++ a2.drop(1) ++ normal.drop(3)
    val schema = StructType(Seq("a", "b").map(StructField(_, StringType)) ++
      Seq("real", "predict").map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    assert(df.rdd.glom().collect().map(_.length).toSeq == Seq(4, 4, 4, 4))
    val o = AutoRoot.Options(deltaThreshold = 0.25)
    val s = snapshotOf(df, Seq("a", "b"), Seq("real", "predict"))
    val kernel = AutoRootKernel.run(s, o)
    assert(kernel == AutoRoot.run(df, Seq("a", "b"), o))
    assert(kernel.map(_.elements.map(_.label)) == Seq(Seq("a=a2")))
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
      for (algo <- Seq("riskloc", "adtributor", "rev_rec_adtributor", "squeeze", "autoroot")) {
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
