package graft.runner

import graft.algorithms._
import graft.eval.Evaluation
import graft.operators.Snapshots
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Batch-evaluation runner — the engine's `run.py` (reference run.py +
  * utils/run_utils.py): enumerate instance files under a directory, run
  * one localization algorithm per instance, score set-match F1 against
  * ground truth, and write per-instance + per-(dataset, folder) summary
  * CSVs.
  *
  * Execution modes (`--mode auto|batch|sequential`, default auto):
  *  - `sequential`: one driver-coordinated run per instance, instances
  *    submitted concurrently against one SparkSession (the reference
  *    forks 10 OS processes; concurrent job submission is the shape that
  *    scales past one machine).
  *  - `batch`: every instance becomes one key of a single instance-keyed
  *    frame and the corpus runs as one Batch* DAG — a fixed number of
  *    corpus-wide aggregation passes per layer/round.
  *  - `auto`: dispatch by measured crossover — see [[chooseMode]].
  *
  * Usage: Runner <algorithm> --run-path <dir> [--data-root data]
  *   [--n-threads 10] [--derived true|false] [--out results]
  *   [--mode auto|batch|sequential] [--batch]
  *   [--corpus <parquetDir>]   (instance_id-keyed parquet + _labels.tsv
  *                              sidecar instead of per-instance CSVs)
  * Algorithms: riskloc | adtributor | rev_rec_adtributor | autoroot |
  *   squeeze | hotspot | robustspot
  */
object Runner {

  final case class InstanceResult(dataset: String, folder: String, file: String,
      f1: Double, tp: Int, fp: Int, fn: Int, seconds: Double)

  /** Rows-per-instance above which the sequential path beats the batch
    * DAGs, measured on the round-8 crossover sweep (CROSSOVER.md: H-shaped
    * corpora, both modes timed exactly as this runner executes them, with
    * prior endpoints RS_SWEEP_BATCH.md — batch wins 4-9x at 0.1-11k
    * rows/instance — and H_SCALE.md — sequential wins at 24M).
    * The mechanism: batch amortizes driver round-trips across instances
    * but pays its corpus-wide multi-cuboid passes over every instance's
    * rows in one frame; sequential pays per-instance round-trips but its
    * per-pass frames stay instance-sized. Rows/instance is the dominant
    * variable; instance count mostly rescales both sides equally (the
    * sequential path runs instances concurrently).
    *
    * Per-algorithm thresholds — every one traceable to measured
    * CROSSOVER.md round-9 cells (48k/480k/4.8M rows/instance at 4 and 16
    * instances, both modes timed as this runner executes them, prediction
    * equality asserted per cell) plus the round-9 quiet H_SCALE.md 24M
    * endpoints:
    *  - riskloc: no crossover — the layer-capped batch DAG wins every
    *    measured multi-instance shape (2.2-13x at 48k, 1.4-3.5x at 480k,
    *    2.8x at 4.8M, 4.2x at 24M), so it always batches for n > 1;
    *  - autoroot: 4.8M — the r9 fused four-pass DAG wins 1.6-6.6x through
    *    480k, is par at 4.8M, loses ~1.3x at 24M;
    *  - robustspot: 1.5M — batch 1.2-7.2x through 480k, sequential 2.2x
    *    at 4.8M (geometric midpoint of the bracketing cells);
    *  - adtributor, hotspot: 10M — batch or par at every cell through
    *    4.8M (4.8x and 1.4x there), sequential at the 24M endpoint;
    *  - squeeze: the 400k default — sequential from 480k up and ~3x at
    *    24M (the lone batch-favoring 4.8M cell is an anomaly both
    *    neighbors contradict; CROSSOVER.md discusses);
    *  - rev_rec_adtributor: 0, always sequential — sequential wins every
    *    4-instance cell (48k, 480k, 4.8M; CROSSOVER.md revrec rows), and
    *    only `--mode batch` runs BatchRevRecAdtributor. */
  val BatchCrossoverRows: Long = 400000L
  val BatchCrossoverByAlgo: Map[String, Long] = Map(
    "rev_rec_adtributor" -> 0L,
    "riskloc" -> Long.MaxValue,
    "autoroot" -> 4800000L,
    "robustspot" -> 1500000L,
    "adtributor" -> 10000000L,
    "hotspot" -> 10000000L)

  /** Auto-dispatch rule (see [[BatchCrossoverRows]]). Uses the LARGEST
    * instance, not the average: the batch DAG's corpus-wide passes are
    * driven by the big instances riding along in the unioned frame.
    *
    * Granularity: the non-corpus path resolves the mode ONCE for the whole
    * ref set, even though runBatch executes per (dataset, folder, attrs)
    * group — one oversized instance in a mixed run forces every group
    * sequential. Deliberate: the shipped corpora are homogeneous per run,
    * and a per-group resolution would pay one count job per group before
    * any work starts. Revisit if mixed-size ref sets become a real path. */
  def chooseMode(algorithm: String, maxRowsPerInstance: Long, nInstances: Int): String = {
    val threshold = BatchCrossoverByAlgo.getOrElse(algorithm, BatchCrossoverRows)
    if (nInstances <= 1 || maxRowsPerInstance >= threshold) "sequential"
    else "batch"
  }

  /** Load one instance's snapshot frame + ground-truth label. */
  def loadInstance(spark: SparkSession, dataRoot: String,
      ref: InstanceSource.InstanceRef,
      derivedFlag: Option[Boolean]): (DataFrame, String, Boolean) = {
    val rsData = ref.dataset == "RS"
    val derived = derivedFlag.getOrElse(ref.dataset == "D" || rsData)
    val dir = ref.dir(dataRoot)
    if (rsData) {
      val anomaly = RsLabels.labelFor(dir, ref.file)
      val raw = RsSource.readRaw(spark, s"$dir/${ref.file}.csv")
      (RsSource.snapshot(raw, anomaly.timestamp), anomaly.label, derived)
    } else if (derived)
      (InstanceSource.readDerived(spark, dir, ref.file),
        InstanceSource.injectionLabel(dir, ref.file), derived)
    else
      (InstanceSource.readFundamental(spark, dir, ref.file),
        InstanceSource.injectionLabel(dir, ref.file), derived)
  }

  /** On-disk bytes of an instance's source file(s) — the cheap proxy used
    * to pick the largest instance for the auto-dispatch row count. Caveat:
    * the proxy assumes instances share a storage format — a ref set mixing
    * compressed and uncompressed sources could mis-rank (all shipped CSV
    * ref sets are uniform; the parquet `--corpus` path counts real rows
    * per instance instead and never uses this). */
  private def instanceBytes(dataRoot: String,
      ref: InstanceSource.InstanceRef): Long = {
    val dir = ref.dir(dataRoot)
    Seq(s"$dir/${ref.file}.csv", s"$dir/${ref.file}.a.csv", s"$dir/${ref.file}.b.csv")
      .map(p => new java.io.File(p)).filter(_.isFile).map(_.length).sum
  }

  /** Auto-dispatch estimate: snapshot row count of the largest instance
    * (largest by on-disk bytes), one count job. */
  def estimateMaxRowsPerInstance(spark: SparkSession, dataRoot: String,
      refs: Seq[InstanceSource.InstanceRef],
      derivedFlag: Option[Boolean]): Long = {
    val biggest = refs.maxBy(instanceBytes(dataRoot, _))
    loadInstance(spark, dataRoot, biggest, derivedFlag)._1.count()
  }

  /** Leaf count up to which `runAlgorithm` runs riskloc, adtributor and
    * rev_rec_adtributor in-process: one bounded collect, then the
    * algorithm's kernel over the collected rows (RiskLocKernel,
    * AdtributorKernel) instead of its Spark jobs. The largest measured
    * size at which none of the three kernels was slower than its Spark
    * path (CROSSOVER.md, "In-process tier"). */
  val InProcessMaxLeaves: Int = 48000

  /** One algorithm over one instance snapshot → canonical predictions.
    * `opts`: the reference CLI's per-algorithm flags
    * (utils/argument_parser.py:18-69) by their kebab-case names, e.g.
    * "risk-threshold" -> "0.4", "teep" -> "0.05", "debug" -> "true".
    *
    * riskloc, adtributor and rev_rec_adtributor first collect at most
    * `inProcessCap + 1` leaves; an instance of at most `inProcessCap`
    * leaves runs in-process (see [[InProcessMaxLeaves]]) with the same
    * predictions and trace lines, and a larger one takes the Spark path.
    * An instance without leaf rows is an IllegalArgumentException. */
  def runAlgorithm(df: DataFrame, attributes: Seq[String], algorithm: String,
      derived: Boolean, opts: Map[String, String],
      trace: String => Unit = _ => (),
      inProcessCap: Int = InProcessMaxLeaves): Seq[String] = {
    def d(key: String, dflt: Double) = opts.get(key).map(_.toDouble).getOrElse(dflt)
    def i(key: String, dflt: Int) = opts.get(key).map(_.toInt).getOrElse(dflt)
    def b(key: String, dflt: Boolean) = opts.get(key).map(_.toBoolean).getOrElse(dflt)
    type Kernel = (LeafSnapshot, String => Unit) => Seq[String]
    // the Spark path, and the in-process kernel with the measures it reads
    val (onSpark, inProcess): (() => Seq[String], Option[(Seq[String], Kernel)]) =
      algorithm match {
        case "riskloc" =>
          val o = RiskLoc.Options(
            riskThreshold = d("risk-threshold", 0.5),
            pepThreshold = d("pep-threshold", 0.02),
            nRemove = i("n-remove", 5),
            removeRelative = b("remove-relative", dflt = false),
            pruneElements = b("prune-elements", dflt = true),
            derived = derived, trace = trace)
          (() => RiskLoc.predictions(RiskLoc.run(df, attributes, o)),
            Some((LeafSnapshot.measureColumns(derived, withRatios = true),
              (s, t) => RiskLoc.predictions(RiskLocKernel.run(s, o.copy(trace = t))))))
        case "adtributor" =>
          val o = Adtributor.Options(
            tep = d("tep", 0.1), teep = d("teep", 0.1), k = i("k", 3), derived = derived)
          (() => Adtributor.predictions(Adtributor.run(df, attributes, o)),
            Some((LeafSnapshot.measureColumns(derived, withRatios = false),
              (s, _) => Adtributor.predictions(AdtributorKernel.adtributor(s, o)))))
        case "rev_rec_adtributor" =>
          val o = RevRecAdtributor.Options(teep = d("teep", 0.2), k = i("k", 3), derived = derived)
          (() => RevRecAdtributor.predictions(RevRecAdtributor.run(df, attributes, o)),
            Some((LeafSnapshot.measureColumns(derived, withRatios = false),
              (s, t) => RevRecAdtributor.predictions(AdtributorKernel.revRec(s, o.copy(trace = t))))))
        case "autoroot" =>
          (() => AutoRoot.predictions(AutoRoot.run(df, attributes,
            AutoRoot.Options(deltaThreshold = d("delta-threshold", 0.25)))), None)
        case "squeeze" =>
          (() => Squeeze.run(df, attributes, Squeeze.Options(
            psUpperBound = d("ps-upper-bound", 0.9),
            maxNumElements = i("max-num-elements-single-cluster", 12),
            derived = derived, trace = trace)), None)
        case "hotspot" =>
          (() => HotSpot.predictions(HotSpot.run(df, attributes, HotSpot.Options(
            pt = d("pt", 0.8), m = i("m", 200),
            scoring = opts.getOrElse("scoring", "gps")))), None)
        case "robustspot" =>
          (() => RobustSpot.predictions(RobustSpot.run(df, attributes, RobustSpot.Options(
            k = i("k", 3),
            lambdaAmplification = i("lambda-amplification", 100),
            caThreshold = d("contribution-ability-threshold", 0.0),
            confidenceThreshold = d("confidence-threshold", 0.8),
            derived = derived, trace = trace))), None)
        case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
      }
    def noRows() = throw new IllegalArgumentException("instance has no leaf rows")

    val snapshot: Option[(LeafSnapshot, Kernel)] = inProcess match {
      case Some((measures, kernel)) if LeafSnapshot.kernelSchema(df, attributes, measures) =>
        val rows = LeafSnapshot.probe(df, attributes, measures, inProcessCap)
        if (rows.isEmpty) noRows()
        if (rows.length > inProcessCap) None
        else try Some((LeafSnapshot.of(rows, attributes, measures, df.sparkSession), kernel))
        catch { case _: LeafSnapshot.Unsupported => None }
      case _ =>
        if (df.isEmpty) noRows()
        None
    }
    // the kernel's trace is held back until it succeeds: an input it
    // cannot reproduce falls back to the Spark path with a clean stream
    snapshot.flatMap { case (s, kernel) =>
      val lines = collection.mutable.ArrayBuffer.empty[String]
      try { val preds = kernel(s, lines.append(_)); lines.foreach(trace); Some(preds) }
      catch { case _: LeafSnapshot.Unsupported => None }
    }.getOrElse(onSpark())
  }

  /** One whole-corpus Batch* DAG over an instance-keyed frame →
    * per-instance canonical predictions. */
  def runBatchAlgorithm(union: DataFrame, attrs: Seq[String], algorithm: String,
      derived: Boolean, opts: Map[String, String]): Map[String, Seq[String]] = {
    def d(key: String, dflt: Double) = opts.get(key).map(_.toDouble).getOrElse(dflt)
    def i(key: String, dflt: Int) = opts.get(key).map(_.toInt).getOrElse(dflt)
    def b(key: String, dflt: Boolean) = opts.get(key).map(_.toBoolean).getOrElse(dflt)
    algorithm match {
      case "riskloc" =>
        BatchRiskLoc.run(union, "instance_id", attrs, RiskLoc.Options(
          riskThreshold = d("risk-threshold", 0.5),
          pepThreshold = d("pep-threshold", 0.02),
          nRemove = i("n-remove", 5),
          removeRelative = b("remove-relative", dflt = false),
          pruneElements = b("prune-elements", dflt = true),
          derived = derived))
          .view.mapValues(RiskLoc.predictions).toMap
      case "adtributor" =>
        val rows = BatchAdtributor.run(union, "instance_id", attrs,
          Adtributor.Options(tep = d("tep", 0.1), teep = d("teep", 0.1),
            k = i("k", 3), derived = derived)).collect()
        rows.groupBy(r => r.getString(r.fieldIndex("instance_id")))
          .view.mapValues { rs =>
            graft.model.Labels.canonicalPredictions(
              rs.sortBy(_.getInt(rs.head.fieldIndex("rank"))).toSeq.flatMap { r =>
                val dim = r.getString(r.fieldIndex("dimension"))
                r.getSeq[String](r.fieldIndex("elements")).map(e => s"$dim=$e")
              })
          }.toMap
      case "autoroot" =>
        BatchAutoRoot.run(union, "instance_id", attrs,
            AutoRoot.Options(deltaThreshold = d("delta-threshold", 0.25)))
          .view.mapValues(AutoRoot.predictions).toMap
      case "squeeze" =>
        BatchSqueeze.run(union, "instance_id", attrs, Squeeze.Options(
          psUpperBound = d("ps-upper-bound", 0.9),
          maxNumElements = i("max-num-elements-single-cluster", 12),
          derived = derived))
      case "hotspot" =>
        BatchHotSpot.predictions(BatchHotSpot.run(union, "instance_id", attrs,
          HotSpot.Options(pt = d("pt", 0.8), m = i("m", 200),
            scoring = opts.getOrElse("scoring", "gps"))))
      case "rev_rec_adtributor" =>
        BatchRevRecAdtributor.run(union, "instance_id", attrs,
            RevRecAdtributor.Options(teep = d("teep", 0.2), k = i("k", 3), derived = derived))
          .view.mapValues(RevRecAdtributor.predictions).toMap
      case "robustspot" =>
        BatchRobustSpot.predictions(BatchRobustSpot.run(union, "instance_id", attrs,
          RobustSpot.Options(k = i("k", 3),
            lambdaAmplification = i("lambda-amplification", 100),
            caThreshold = d("contribution-ability-threshold", 0.0),
            confidenceThreshold = d("confidence-threshold", 0.8),
            derived = derived)))
      case other => throw new IllegalArgumentException(
        s"algorithm has no batch variant: $other")
    }
  }

  def runInstance(spark: SparkSession, dataRoot: String,
      ref: InstanceSource.InstanceRef, algorithm: String,
      derivedFlag: Option[Boolean]): InstanceResult =
    runInstance(spark, dataRoot, ref, algorithm, derivedFlag, Map.empty)

  def runInstance(spark: SparkSession, dataRoot: String,
      ref: InstanceSource.InstanceRef, algorithm: String,
      derivedFlag: Option[Boolean], opts: Map[String, String]): InstanceResult = {
    val (df, label, derived) = loadInstance(spark, dataRoot, ref, derivedFlag)
    val attributes = Snapshots.attributes(df)
    val trace: String => Unit =
      if (opts.get("debug").exists(_.toBoolean))
        line => Console.err.println(s"[${ref.file}] $line")
      else _ => ()
    val t0 = System.nanoTime()
    val predictions = runAlgorithm(df, attributes, algorithm, derived, opts, trace)
    val seconds = (System.nanoTime() - t0) / 1e9

    val s = Evaluation.score(predictions, label)
    InstanceResult(ref.dataset, ref.folder, ref.file, s.f1, s.tp, s.fp, s.fn, seconds)
  }

  /** Per-(dataset, folder) aggregate with recomputed F1
    * (run_utils.py:142-165). */
  def summarize(spark: SparkSession, results: Seq[InstanceResult]): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    results.toDF()
      .groupBy("dataset", "folder")
      .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"),
        sum("seconds").as("seconds"))
      .withColumn("f1",
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, 0.0)
          .otherwise(lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn"))))
      .orderBy("dataset", "folder")
  }

  /** Run every instance concurrently (the reference's process pool becomes
    * concurrent job submission against one session). */
  def runAll(spark: SparkSession, dataRoot: String, refs: Seq[InstanceSource.InstanceRef],
      algorithm: String, derivedFlag: Option[Boolean], nThreads: Int,
      opts: Map[String, String] = Map.empty): Seq[InstanceResult] = {
    val pool = Executors.newFixedThreadPool(nThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = refs.map(ref => Future(runInstance(spark, dataRoot, ref, algorithm, derivedFlag, opts)))
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Whole-corpus batch mode: instead of one driver-coordinated run per
    * instance, every instance becomes one key of a single instance-keyed
    * frame and the corpus runs as one Batch* DAG per (dataset, folder,
    * attribute-sequence) group — a fixed number of corpus-wide aggregation
    * passes per layer/round. This is the winning execution shape for
    * MANY SMALL instances (RS_SWEEP_BATCH.md: 4-9x over sequential at
    * 0.1-11k rows/instance); above [[BatchCrossoverRows]] rows/instance
    * the concurrent sequential path wins instead (H_SCALE.md: 1.7-6x at
    * 24M rows/instance) — `--mode auto` picks per corpus. Predictions per
    * instance are pinned equal to the sequential path by the Batch*Specs. */
  def runBatch(spark: SparkSession, dataRoot: String, refs: Seq[InstanceSource.InstanceRef],
      algorithm: String, derivedFlag: Option[Boolean],
      opts: Map[String, String] = Map.empty): Seq[InstanceResult] = {
    import org.apache.spark.sql.functions.lit

    final case class Loaded(ref: InstanceSource.InstanceRef, key: String,
        df: DataFrame, label: String, attrs: Seq[String], derived: Boolean)
    val loaded = refs.map { ref =>
      val (df, label, derived) = loadInstance(spark, dataRoot, ref, derivedFlag)
      Loaded(ref, s"${ref.dataset}/${ref.folder}/${ref.file}", df, label,
        Snapshots.attributes(df), derived)
    }

    loaded.groupBy(l => (l.ref.dataset, l.ref.folder, l.attrs, l.derived)).toSeq
      .flatMap { case ((_, _, attrs, derived), group) =>
        val t0 = System.nanoTime()
        // one materialization: Batch* runs many passes over the corpus, and
        // the per-file scan/join lineage should not ride along in each
        val union = group.map(l => l.df.withColumn("instance_id", lit(l.key)))
          .reduce(_ unionByName _).localCheckpoint(true)
        val preds = runBatchAlgorithm(union, attrs, algorithm, derived, opts)
        val perCase = (System.nanoTime() - t0) / 1e9 / group.size
        group.map { l =>
          val s = Evaluation.score(preds.getOrElse(l.key, Seq.empty), l.label)
          InstanceResult(l.ref.dataset, l.ref.folder, l.ref.file,
            s.f1, s.tp, s.fp, s.fn, perCase)
        }
      }
  }

  /** Instance-keyed parquet corpus mode (`--corpus`): the 100 TB input
    * shape — one partitioned columnar table carrying every instance,
    * ground truth in a `_labels.tsv` sidecar (instance_id TAB label).
    * Sequential mode filters per instance off the shared scan; batch mode
    * feeds the frame to the Batch* DAG as-is. */
  def runCorpus(spark: SparkSession, corpusDir: String, algorithm: String,
      mode: String, nThreads: Int,
      opts: Map[String, String] = Map.empty): Seq[InstanceResult] = {
    import org.apache.spark.sql.functions.col
    val corpus = spark.read.parquet(corpusDir)
    val labels: Map[String, String] = {
      val f = new java.io.File(corpusDir, "_labels.tsv")
      if (!f.isFile) Map.empty
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).map { line =>
          // split("\t", 2): Java split drops trailing empty fields, so an
          // empty label (or one containing a tab) must not crash the run
          val f = line.split("\t", 2)
          require(f.length == 2, s"malformed _labels.tsv line (no tab): '$line'")
          f(0) -> f(1)
        }.toMap
        finally src.close()
      }
    }
    val attrs = Snapshots.attributes(corpus.drop("instance_id"))
    val derived = opts.get("derived").exists(_.toBoolean)

    val resolvedMode =
      if (mode != "auto") mode
      else {
        val perInst = corpus.groupBy(col("instance_id")).count()
          .agg(org.apache.spark.sql.functions.max("count"),
            org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
          .head()
        require(!perInst.isNullAt(0), s"empty corpus at $corpusDir")
        val (maxRows, n) = (perInst.getLong(0), perInst.getLong(1).toInt)
        val m = chooseMode(algorithm, maxRows, n)
        println(s"[runner] auto dispatch: maxRows/instance=$maxRows instances=$n -> $m " +
          s"(crossover ${BatchCrossoverByAlgo.getOrElse(algorithm, BatchCrossoverRows)})")
        m
      }

    if (resolvedMode == "batch") {
      val t0 = System.nanoTime()
      val preds = runBatchAlgorithm(corpus, attrs, algorithm, derived, opts)
      val n = math.max(preds.size, labels.size)
      val perCase = (System.nanoTime() - t0) / 1e9 / math.max(n, 1)
      (preds.keySet ++ labels.keySet).toSeq.sorted.map { id =>
        val s = Evaluation.score(preds.getOrElse(id, Seq.empty),
          labels.getOrElse(id, ""))
        InstanceResult("corpus", corpusDir, id, s.f1, s.tp, s.fp, s.fn, perCase)
      }
    } else {
      val ids = corpus.select(col("instance_id").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      graft.core.Concurrency.awaitAll(
        ids.map { id => () =>
          val df = corpus.filter(col("instance_id") === id).drop("instance_id")
          val t0 = System.nanoTime()
          val predictions = runAlgorithm(df, attrs, algorithm, derived, opts)
          val seconds = (System.nanoTime() - t0) / 1e9
          val s = Evaluation.score(predictions, labels.getOrElse(id, ""))
          InstanceResult("corpus", corpusDir, id, s.f1, s.tp, s.fp, s.fn, seconds)
        }, maxConcurrent = nThreads)
    }
  }

  /** The reference's CLI name for the recursive variant is accepted too. */
  private def canonicalAlgorithm(name: String): String =
    if (name == "r_adtributor") "rev_rec_adtributor" else name

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Runner <algorithm> --run-path <dir> [...]")
    val algorithm = canonicalAlgorithm(args(0))
    // --flag value pairs; a bare --flag (e.g. --debug) reads as "true"
    val opts = {
      val m = collection.mutable.Map.empty[String, String]
      var i = 1
      while (i < args.length) {
        require(args(i).startsWith("--"), s"expected --flag, got ${args(i)}")
        val k = args(i).drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(k) = args(i + 1); i += 2
        } else { m(k) = "true"; i += 1 }
      }
      m.toMap
    }
    val dataRoot = opts.getOrElse("data-root", "data")
    val runPath = opts.getOrElse("run-path", "")
    val nThreads = opts.getOrElse("n-threads", "10").toInt
    val derivedFlag = opts.get("derived").map(_.toBoolean)
    val out = opts.getOrElse("out", "results")
    // --mode wins; legacy --batch [true|false] maps to batch/sequential
    val mode = opts.get("mode").getOrElse(
      opts.get("batch") match {
        case Some(v) => if (v.toBoolean) "batch" else "sequential"
        case None => "auto"
      })
    require(Set("auto", "batch", "sequential")(mode), s"bad --mode $mode")

    val spark = graft.core.Sessions.local(s"graft-run-$algorithm")
    spark.sparkContext.setLocalProperty("spark.scheduler.mode", "FAIR")

    val results = opts.get("corpus") match {
      case Some(corpusDir) =>
        runCorpus(spark, corpusDir, algorithm, mode, nThreads, opts)
      case None =>
        val refs = InstanceSource.instances(dataRoot, runPath)
        require(refs.nonEmpty, s"no instances under $dataRoot/$runPath")
        val resolvedMode =
          if (mode != "auto") mode
          // short-circuit the largest-instance count job when the decision
          // cannot depend on it: a single instance or a 0 threshold
          // (rev_rec_adtributor) is always sequential; a Long.MaxValue
          // threshold (riskloc) always batches for n > 1
          else if (refs.size <= 1 || BatchCrossoverByAlgo.get(algorithm).contains(0L))
            "sequential"
          else if (BatchCrossoverByAlgo.getOrElse(algorithm,
              BatchCrossoverRows) == Long.MaxValue) {
            println(s"[runner] auto dispatch: instances=${refs.size} -> batch " +
              "(crossover MaxValue — no count job needed)")
            "batch"
          } else {
            val maxRows = estimateMaxRowsPerInstance(spark, dataRoot, refs, derivedFlag)
            val m = chooseMode(algorithm, maxRows, refs.size)
            println(s"[runner] auto dispatch: maxRows/instance=$maxRows " +
              s"instances=${refs.size} -> $m " +
              s"(crossover ${BatchCrossoverByAlgo.getOrElse(algorithm, BatchCrossoverRows)})")
            m
          }
        if (resolvedMode == "batch")
          runBatch(spark, dataRoot, refs, algorithm, derivedFlag, opts)
        else runAll(spark, dataRoot, refs, algorithm, derivedFlag, nThreads, opts)
    }

    import spark.implicits._
    val all = results.toDF().orderBy("dataset", "folder", "file")
    val summary = summarize(spark, results)
    summary.show(1000, truncate = false)
    InstanceSource.writeCsv(all, s"$out/$algorithm-all")
    InstanceSource.writeCsv(summary, s"$out/$algorithm-summary")
    spark.stop()
  }
}
