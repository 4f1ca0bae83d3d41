package graft

import graft.gen.DatasetGenerator
import graft.model.Element
import graft.runner.Runner
import graft.sources.{InstanceSource, RsLabels}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end runner lifecycle: generator → CSV corpus on disk → walker →
  * per-instance algorithm run → F1 evaluation → summary (the reference's
  * run.py flow). */
class RunnerSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark

  private lazy val corpusRoot: String = {
    val root = Files.createTempDirectory("graft-corpus").toString
    val dir = Paths.get(root, "S", "n_elements_1_layers_1")
    Files.createDirectories(dir)
    val labels = new StringBuilder("timestamp,set\n")
    for ((ts, anomalyDim) <- Seq((1001L, "a"), (1002L, "b"))) {
      val element = Element(Seq(anomalyDim -> s"${anomalyDim}1"))
      val cfg = DatasetGenerator.Config(
        dims = Seq(("a", 5), ("b", 4), ("c", 3)),
        seed = ts,
        anomalies = Seq(DatasetGenerator.Anomaly(element, severity = 0.9)))
      val df = DatasetGenerator.generate(spark, cfg)
      // one headered CSV named <timestamp>.csv, as the reference expects
      val tmp = Files.createTempDirectory("graft-gen").toString
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".csv")).get
      Files.copy(part.toPath, dir.resolve(s"$ts.csv"))
      labels.append(s"$ts,${DatasetGenerator.label(cfg)}\n")
    }
    Files.writeString(dir.resolve("injection_info.csv"), labels.toString)
    root
  }

  test("walker enumerates instances and skips label files") {
    val refs = InstanceSource.instances(corpusRoot, "")
    assert(refs.map(_.file).sorted == Seq("1001", "1002"))
    assert(refs.forall(_.dataset == "S"))
    assert(refs.forall(_.folder == "n_elements_1_layers_1"))
  }

  test("runner scores perfect F1 on generated single-element anomalies") {
    val refs = InstanceSource.instances(corpusRoot, "")
    val results = refs.map(r =>
      Runner.runInstance(spark, corpusRoot, r, "riskloc", derivedFlag = Some(false)))
    assert(results.forall(_.f1 == 1.0), results.toString)
    val summary = Runner.summarize(spark, results).collect()
    assert(summary.length == 1)
    assert(summary(0).getDouble(summary(0).fieldIndex("f1")) == 1.0)
  }

  test("adtributor through the runner also localizes the anomalies") {
    val refs = InstanceSource.instances(corpusRoot, "")
    val results = refs.map(r =>
      Runner.runInstance(spark, corpusRoot, r, "adtributor", derivedFlag = Some(false)))
    // adtributor returns up to k=3 candidates; the true element must be
    // among them (tp = 1 per instance)
    assert(results.forall(_.tp == 1), results.toString)
  }

  test("per-algorithm CLI flags reach the algorithm options") {
    val refs = InstanceSource.instances(corpusRoot, "")
    // adtributor with a teep high enough that no element passes -> no
    // predictions (F1 0), proving the flag was honored, vs the default run
    val strict = refs.map(r => Runner.runInstance(spark, corpusRoot, r, "adtributor",
      derivedFlag = Some(false), opts = Map("teep" -> "0.99", "tep" -> "0.99")))
    assert(strict.forall(_.tp == 0), strict.toString)
    val dflt = refs.map(r => Runner.runInstance(spark, corpusRoot, r, "adtributor",
      derivedFlag = Some(false)))
    assert(dflt.exists(_.tp > 0))
    // riskloc with an impossible risk threshold -> nothing accepted
    val noRisk = refs.map(r => Runner.runInstance(spark, corpusRoot, r, "riskloc",
      derivedFlag = Some(false), opts = Map("risk-threshold" -> "1000")))
    assert(noRisk.forall(_.tp == 0), noRisk.toString)
  }

  test("--debug tracing emits per-round lines") {
    val refs = InstanceSource.instances(corpusRoot, "")
    val lines = collection.mutable.ArrayBuffer.empty[String]
    Console.withErr(new java.io.PrintStream(new java.io.OutputStream {
      val buf = new StringBuilder
      override def write(b: Int): Unit = {
        if (b == '\n') { lines += buf.toString; buf.clear() } else buf.append(b.toChar)
      }
    })) {
      Runner.runInstance(spark, corpusRoot, refs.head, "squeeze",
        derivedFlag = Some(false), opts = Map("debug" -> "true"))
    }
    assert(lines.exists(_.contains("KPIFILTER")), lines.take(5).toString)
  }

  test("--batch whole-corpus mode matches per-instance results") {
    val refs = InstanceSource.instances(corpusRoot, "")
    // the defaults, then non-default flags: both paths must read the same ones
    val nonDefault = Map("risk-threshold" -> "0.3", "tep" -> "0.2", "k" -> "2",
      "delta-threshold" -> "0.1", "pt" -> "0.7")
    for (opts <- Seq(Map.empty[String, String], nonDefault);
        algo <- Seq("riskloc", "adtributor", "squeeze", "autoroot", "hotspot",
          "rev_rec_adtributor", "robustspot")) {
      val seq = refs.map(r =>
          Runner.runInstance(spark, corpusRoot, r, algo, derivedFlag = Some(false), opts))
        .map(r => (r.file, r.tp, r.fp, r.fn)).sortBy(_._1)
      val batch = Runner.runBatch(spark, corpusRoot, refs, algo, derivedFlag = Some(false), opts)
        .map(r => (r.file, r.tp, r.fp, r.fn)).sortBy(_._1)
      assert(batch == seq, s"$algo $opts")
    }
  }

  test("concurrent runAll matches sequential results") {
    val refs = InstanceSource.instances(corpusRoot, "")
    val sequential = refs.map(r =>
      Runner.runInstance(spark, corpusRoot, r, "riskloc", derivedFlag = Some(false)))
      .map(r => (r.file, r.f1, r.tp)).toSet
    val concurrent = Runner.runAll(spark, corpusRoot, refs, "riskloc",
        derivedFlag = Some(false), nThreads = 2)
      .map(r => (r.file, r.f1, r.tp)).toSet
    assert(concurrent == sequential)
  }

  test("rs labels parse the reference's flow-style yaml") {
    val yaml =
      """- data: case1_0821_1741394221
        |  timestamp: 1566397800
        |  cause: {'bitrate':2000,'p2p':1}
        |- data: case5_0824_1500728851
        |  timestamp: 1566658020
        |  cause: {'bitrate':2000}
        |""".stripMargin
    val parsed = RsLabels.parse(yaml)
    assert(parsed.length == 2)
    assert(parsed(0).timestamp == 1566397800L)
    assert(parsed(0).label == "bitrate=2000&p2p=1")
    assert(parsed(1).label == "bitrate=2000")
  }

  test("injection label lookup") {
    val dir = s"$corpusRoot/S/n_elements_1_layers_1"
    assert(InstanceSource.injectionLabel(dir, "1001") == "a=a1")
    assert(InstanceSource.injectionLabel(dir, "1002") == "b=b1")
  }
}
