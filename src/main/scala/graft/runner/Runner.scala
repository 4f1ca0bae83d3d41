package graft.runner

import graft.algorithms._
import graft.eval.Evaluation
import graft.operators.Snapshots
import graft.sources.{InstanceSource, RsLabels, RsSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *   [--mode auto|batch|sequential]
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
    *  - squeeze: 400k — sequential from 480k up and ~3x at 24M (the
    *    lone batch-favoring 4.8M cell is an anomaly both neighbors
    *    contradict; CROSSOVER.md discusses);
    *  - rev_rec_adtributor: 0, always sequential — sequential wins every
    *    4-instance cell (48k, 480k, 4.8M; CROSSOVER.md revrec rows), and
    *    only `--mode batch` runs BatchRevRecAdtributor. */
  val BatchCrossoverByAlgo: Map[String, Long] = Map(
    "rev_rec_adtributor" -> 0L,
    "riskloc" -> Long.MaxValue,
    "autoroot" -> 4800000L,
    "robustspot" -> 1500000L,
    "adtributor" -> 10000000L,
    "hotspot" -> 10000000L,
    "squeeze" -> 400000L)

  /** Auto-dispatch rule (see [[BatchCrossoverByAlgo]]), printed as one
    * `[runner] auto dispatch: …` line. Uses the LARGEST instance, not the
    * average: the batch DAG's corpus-wide passes are driven by the big
    * instances riding along in the unioned frame. The row count is only
    * evaluated when the decision depends on it: a single instance or a 0
    * threshold is sequential and a Long.MaxValue threshold is batch
    * without it.
    *
    * Granularity: the non-corpus path resolves the mode ONCE for the whole
    * ref set, even though runBatch executes per (dataset, folder, attrs)
    * group — one oversized instance in a mixed run forces every group
    * sequential. Deliberate: the shipped corpora are homogeneous per run,
    * and a per-group resolution would pay one count job per group before
    * any work starts. Revisit if mixed-size ref sets become a real path. */
  def chooseMode(algorithm: String, maxRowsPerInstance: => Long, nInstances: Int): String = {
    val threshold = BatchCrossoverByAlgo.getOrElse(algorithm,
      throw new IllegalArgumentException(s"unknown algorithm: $algorithm"))
    val (mode, why) =
      if (nInstances <= 1) ("sequential", "single instance")
      else if (threshold == 0L) ("sequential", "crossover 0")
      else if (threshold == Long.MaxValue) ("batch", "crossover MaxValue")
      else {
        val rows = maxRowsPerInstance
        (if (rows >= threshold) "sequential" else "batch",
          s"maxRows/instance=$rows, crossover $threshold")
      }
    println(s"[runner] auto dispatch: $algorithm instances=$nInstances -> $mode ($why)")
    mode
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

  /** Leaf count up to which `runAlgorithm` runs riskloc, adtributor,
    * rev_rec_adtributor, squeeze and autoroot in-process: one bounded
    * collect, then the algorithm's kernel over the collected rows
    * (RiskLocKernel, AdtributorKernel, SqueezeKernel, AutoRootKernel)
    * instead of its Spark jobs. The largest measured size at which none of
    * the five kernels was slower than its Spark path; at 480k the
    * Adtributor and RevRec kernels lose (CROSSOVER.md, "In-process
    * tier"). */
  val InProcessMaxLeaves: Int = 48000

  private type Kernel = (LeafSnapshot, String => Unit) => Seq[String]

  /** One algorithm with its flags parsed: the single-instance Spark run
    * (frame, attributes, trace), the in-process kernel with the measures
    * it reads, if the algorithm has one, and the whole-corpus Batch* run
    * over an `instance_id`-keyed frame (no trace). */
  private final case class Algorithm(
      onSpark: (DataFrame, Seq[String], String => Unit) => Seq[String],
      inProcess: Option[(Seq[String], Kernel)],
      batch: (DataFrame, Seq[String]) => Map[String, Seq[String]])

  /** The per-algorithm table. `opts`: the reference CLI's per-algorithm
    * flags (utils/argument_parser.py:18-69) by their kebab-case names,
    * e.g. "risk-threshold" -> "0.4", "teep" -> "0.05". */
  private def algorithmFor(algorithm: String, derived: Boolean,
      opts: Map[String, String]): Algorithm = {
    def d(key: String, dflt: Double) = opts.get(key).map(_.toDouble).getOrElse(dflt)
    def i(key: String, dflt: Int) = opts.get(key).map(_.toInt).getOrElse(dflt)
    def b(key: String, dflt: Boolean) = opts.get(key).map(_.toBoolean).getOrElse(dflt)
    val id = "instance_id"
    algorithm match {
      case "riskloc" =>
        val o = RiskLoc.Options(
          riskThreshold = d("risk-threshold", 0.5),
          pepThreshold = d("pep-threshold", 0.02),
          nRemove = i("n-remove", 5),
          removeRelative = b("remove-relative", dflt = false),
          pruneElements = b("prune-elements", dflt = true),
          derived = derived)
        Algorithm(
          (df, attrs, t) => RiskLoc.predictions(RiskLoc.run(df, attrs, o.copy(trace = t))),
          Some((LeafSnapshot.measureColumns(derived, withRatios = true),
            (s, t) => RiskLoc.predictions(RiskLocKernel.run(s, o.copy(trace = t))))),
          (u, attrs) => BatchRiskLoc.run(u, id, attrs, o).view.mapValues(RiskLoc.predictions).toMap)
      case "adtributor" =>
        val o = Adtributor.Options(
          tep = d("tep", 0.1), teep = d("teep", 0.1), k = i("k", 3), derived = derived)
        Algorithm(
          (df, attrs, _) => Adtributor.predictions(Adtributor.run(df, attrs, o)),
          Some((LeafSnapshot.measureColumns(derived, withRatios = false),
            (s, _) => Adtributor.predictions(AdtributorKernel.adtributor(s, o)))),
          (u, attrs) => BatchAdtributor.predictions(BatchAdtributor.run(u, id, attrs, o).collect()))
      case "rev_rec_adtributor" =>
        val o = RevRecAdtributor.Options(teep = d("teep", 0.2), k = i("k", 3), derived = derived)
        Algorithm(
          (df, attrs, t) =>
            RevRecAdtributor.predictions(RevRecAdtributor.run(df, attrs, o.copy(trace = t))),
          Some((LeafSnapshot.measureColumns(derived, withRatios = false),
            (s, t) => RevRecAdtributor.predictions(AdtributorKernel.revRec(s, o.copy(trace = t))))),
          (u, attrs) => BatchRevRecAdtributor.predictions(BatchRevRecAdtributor.run(u, id, attrs, o)))
      case "autoroot" =>
        val o = AutoRoot.Options(deltaThreshold = d("delta-threshold", 0.25))
        Algorithm(
          (df, attrs, _) => AutoRoot.predictions(AutoRoot.run(df, attrs, o)),
          Some((Seq("real", "predict"), (s, _) => AutoRoot.predictions(AutoRootKernel.run(s, o)))),
          (u, attrs) => BatchAutoRoot.run(u, id, attrs, o).view.mapValues(AutoRoot.predictions).toMap)
      case "squeeze" =>
        val o = Squeeze.Options(
          psUpperBound = d("ps-upper-bound", 0.9),
          maxNumElements = i("max-num-elements-single-cluster", 12),
          derived = derived)
        Algorithm(
          (df, attrs, t) => Squeeze.run(df, attrs, o.copy(trace = t)),
          Some((LeafSnapshot.measureColumns(derived, withRatios = false),
            (s, t) => SqueezeKernel.run(s, o.copy(trace = t)))),
          (u, attrs) => BatchSqueeze.run(u, id, attrs, o))
      case "hotspot" =>
        val o = HotSpot.Options(
          pt = d("pt", 0.8), m = i("m", 200), scoring = opts.getOrElse("scoring", "gps"))
        Algorithm(
          (df, attrs, _) => HotSpot.predictions(HotSpot.run(df, attrs, o)),
          None,
          (u, attrs) => BatchHotSpot.predictions(BatchHotSpot.run(u, id, attrs, o)))
      case "robustspot" =>
        val o = RobustSpot.Options(
          k = i("k", 3),
          lambdaAmplification = i("lambda-amplification", 100),
          caThreshold = d("contribution-ability-threshold", 0.0),
          confidenceThreshold = d("confidence-threshold", 0.8),
          derived = derived)
        Algorithm(
          (df, attrs, t) => RobustSpot.predictions(RobustSpot.run(df, attrs, o.copy(trace = t))),
          None,
          (u, attrs) => BatchRobustSpot.predictions(BatchRobustSpot.run(u, id, attrs, o)))
      case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
    }
  }

  /** One algorithm over one instance snapshot → canonical predictions.
    * `opts`: the per-algorithm flags (see [[algorithmFor]]).
    *
    * riskloc, adtributor, rev_rec_adtributor, squeeze and autoroot first
    * collect at most `inProcessCap + 1` leaves; an instance of at most
    * `inProcessCap` leaves runs in-process (see [[InProcessMaxLeaves]])
    * with the same predictions and trace lines, and a larger one takes the
    * Spark path. hotspot and robustspot always run on Spark.
    * An instance without leaf rows is an IllegalArgumentException. */
  def runAlgorithm(df: DataFrame, attributes: Seq[String], algorithm: String,
      derived: Boolean, opts: Map[String, String],
      trace: String => Unit = _ => (),
      inProcessCap: Int = InProcessMaxLeaves): Seq[String] = {
    val algo = algorithmFor(algorithm, derived, opts)
    def noRows() = throw new IllegalArgumentException("instance has no leaf rows")

    val snapshot: Option[(LeafSnapshot, Kernel)] = algo.inProcess match {
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
    }.getOrElse(algo.onSpark(df, attributes, trace))
  }

  /** One whole-corpus Batch* DAG over an `instance_id`-keyed frame →
    * per-instance canonical predictions. */
  def runBatchAlgorithm(union: DataFrame, attrs: Seq[String], algorithm: String,
      derived: Boolean, opts: Map[String, String]): Map[String, Seq[String]] =
    algorithmFor(algorithm, derived, opts).batch(union, attrs)

  def runInstance(spark: SparkSession, dataRoot: String,
      ref: InstanceSource.InstanceRef, algorithm: String,
      derivedFlag: Option[Boolean], opts: Map[String, String] = Map.empty): InstanceResult = {
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
      opts: Map[String, String] = Map.empty): Seq[InstanceResult] =
    graft.core.Concurrency.awaitAll(
      refs.map(ref => () => runInstance(spark, dataRoot, ref, algorithm, derivedFlag, opts)),
      maxConcurrent = nThreads)

  /** Whole-corpus batch mode: instead of one driver-coordinated run per
    * instance, every instance becomes one key of a single instance-keyed
    * frame and the corpus runs as one Batch* DAG per (dataset, folder,
    * attribute-sequence) group — a fixed number of corpus-wide aggregation
    * passes per layer/round. This is the winning execution shape for
    * MANY SMALL instances (RS_SWEEP_BATCH.md: 4-9x over sequential at
    * 0.1-11k rows/instance); above [[BatchCrossoverByAlgo]] rows/instance
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
    * ground truth in a `_labels.tsv` sidecar (instance_id TAB label, one
    * line per id; a repeated id is an error). */
  def runCorpus(spark: SparkSession, corpusDir: String, algorithm: String,
      mode: String, nThreads: Int,
      opts: Map[String, String] = Map.empty): Seq[InstanceResult] = {
    val corpus = spark.read.parquet(corpusDir)
    val labels: Map[String, String] = {
      val f = new java.io.File(corpusDir, "_labels.tsv")
      if (!f.isFile) Map.empty
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).foldLeft(Map.empty[String, String]) { (m, line) =>
          // split("\t", 2): Java split drops trailing empty fields, so an
          // empty label (or one containing a tab) must not crash the run
          val f = line.split("\t", 2)
          require(f.length == 2, s"malformed _labels.tsv line (no tab): '$line'")
          require(!m.contains(f(0)), s"duplicate instance id in _labels.tsv: '${f(0)}'")
          m.updated(f(0), f(1))
        }
        finally src.close()
      }
    }
    val preds = runKeyed(corpus, algorithm, mode, nThreads, opts)
    (preds.keySet ++ labels.keySet).toSeq.sorted.map { id =>
      val (predictions, seconds) = preds.getOrElse(id, (Seq.empty, 0.0))
      val s = Evaluation.score(predictions, labels.getOrElse(id, ""))
      InstanceResult("corpus", corpusDir, id, s.f1, s.tp, s.fp, s.fn, seconds)
    }
  }

  /** One algorithm over an `instance_id`-keyed frame → per instance id,
    * canonical predictions and seconds. `mode` "auto" resolves through
    * [[chooseMode]] from one per-instance count job. Sequential mode
    * filters each instance off the shared frame and runs [[runAlgorithm]]
    * on up to `nThreads` instances at a time, each timed alone; batch
    * mode feeds the frame to the Batch* DAG as-is and splits its wall
    * evenly over the instances it returns. The "derived" flag reads as
    * false when absent. */
  def runKeyed(corpus: DataFrame, algorithm: String, mode: String, nThreads: Int,
      opts: Map[String, String] = Map.empty): Map[String, (Seq[String], Double)] = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val attrs = Snapshots.attributes(corpus.drop("instance_id"))
    val derived = opts.get("derived").exists(_.toBoolean)
    val resolvedMode =
      if (mode != "auto") mode
      else {
        val perInst = corpus.groupBy(col("instance_id")).count()
          .agg(max("count"), count(lit(1))).head()
        require(!perInst.isNullAt(0), "empty corpus")
        chooseMode(algorithm, perInst.getLong(0), perInst.getLong(1).toInt)
      }
    if (resolvedMode == "batch") {
      val t0 = System.nanoTime()
      val preds = runBatchAlgorithm(corpus, attrs, algorithm, derived, opts)
      val perCase = (System.nanoTime() - t0) / 1e9 / math.max(preds.size, 1)
      preds.view.mapValues(p => (p, perCase)).toMap
    } else {
      val ids = corpus.select(col("instance_id").cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      graft.core.Concurrency.awaitAll(
        ids.map { id => () =>
          val df = corpus.filter(col("instance_id") === id).drop("instance_id")
          val t0 = System.nanoTime()
          val predictions = runAlgorithm(df, attrs, algorithm, derived, opts)
          id -> (predictions, (System.nanoTime() - t0) / 1e9)
        }, maxConcurrent = nThreads).toMap
    }
  }

  /** The reference's CLI name for the recursive variant is accepted too. */
  def canonicalAlgorithm(name: String): String =
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
    val mode = opts.getOrElse("mode", "auto")
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
          else chooseMode(algorithm,
            estimateMaxRowsPerInstance(spark, dataRoot, refs, derivedFlag), refs.size)
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
