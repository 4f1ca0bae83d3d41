package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every gate query on the bench scale
  * factor and prints ONE machine-readable JSON line. Queries run in
  * deterministic name order after a short untimed warmup (JVM + codegen +
  * parquet footer reads), so per-query numbers measure the queries, not
  * session startup.
  *
  * Isolation methodology (round 5): each query is timed against a clean
  * session state — the cache is cleared and a GC cycle runs between
  * entries (untimed). Round 4 showed that without this, the 53-query
  * shared session degrades as CacheManager entries, status-store rows,
  * and undead localCheckpoint RDDs accumulate: per-query numbers varied
  * 4-100x run-to-run and measured session age, not plans (VERDICT.md r4).
  * In-query caching (e.g. the algorithm queries' shared snapshot persist)
  * still works — only cross-query reuse is forfeited, which is the
  * correct thing to measure.
  *
  * Repeat + calibration methodology (round 7, VERDICT r6 #1): round 6
  * showed same-code same-box runs disagreeing up to 3.2x on single
  * queries — one timing per query measures scheduler/GC/box weather as
  * much as the plan. Two fixes:
  *
  *  1. Each query runs `BENCH_REPEATS` times (default 3) and the JSON
  *     reports the per-query MEDIAN (the headline `queries`/total) and
  *     MIN (`queries_min`/`total_min`, the box-noise floor).
  *  2. A fixed-work single-threaded CPU probe (xorshift fill + sort +
  *     sum of an 8M-long array, deterministic) runs before and after the
  *     query loop, median-of-3 each. The JSON carries the measured
  *     seconds plus the committed reference value (`CalibRef`, measured
  *     on an idle round-7 box); `calib_ratio` = measured/ref makes box
  *     drift visible and normalizable, and `calib_ok:false` (plus a
  *     stderr warning) flags any run where the box is >1.3x off the
  *     reference — such a run cannot support a regression verdict.
  */
object Bench {

  /** Fixed-work single-threaded CPU probe: fill 8M longs via xorshift64,
    * sort, sum. Deterministic work, allocation-light, ~1s on the
    * reference box. Returns seconds. */
  def calibOnce(): Double = {
    val n = 8 * 1024 * 1024
    val a = new Array[Long](n)
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    var s = 0L
    i = 0
    while (i < n) { s += a(i); i += 1 }
    if (s == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def calibMedian(): Double = median((1 to 3).map(_ => calibOnce()))

  /** Multicore calibration: the same fixed work on every core at once
    * (one thread per available processor, each its own array). Returns
    * wall seconds for all threads to finish. The single-threaded probe
    * tracks clock speed; this one tracks aggregate multicore capacity —
    * the thing the shuffle/agg-heavy queries actually consume, and the
    * axis a VM box drifts on (scheduler contention, turbo budget) while
    * single-thread speed looks flat. */
  def calibParOnce(): Double = {
    val threads = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => { calibOnce(); () })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def calibParMedian(): Double = median((1 to 3).map(_ => calibParOnce()))

  /** Spark-shaped calibration control (round 12, VERDICT r11 #1): a
    * fixed, seeded shuffle DAG — 50M `range` rows hashed to 1M keys,
    * hash-aggregated, re-keyed to 997 groups, aggregated again, sorted,
    * collected. Two real shuffles + wide hash-agg state: memory-bandwidth-
    * and allocation-bound, the workload class the big gate queries
    * consume and the one the fixed-work CPU probe is blind to (round 11:
    * a box the CPU probe read at ~1.2x ran shuffle-bound DAGs ~4.7x
    * slow; BENCH_METHOD.md round-11). Deterministic: xxhash64 of a
    * literal range, no sampling, fixed partitioning. Returns seconds. */
  def sparkProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val rows = spark.range(0L, 50L * 1000 * 1000, 1L, 64)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
        xxhash64(col("id"), lit(1)).as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .groupBy(pmod(col("k"), lit(997L)).as("k2"))
      .agg(sum("s").as("s2"), sum("c").as("c2"))
      .orderBy(desc("s2"), asc("k2"))
      .collect()
    require(rows.length == 997, s"spark probe returned ${rows.length} groups")
    (System.nanoTime() - t0) / 1e9
  }

  def sparkProbeMedian(spark: SparkSession): Double =
    median((1 to 3).map(_ => sparkProbeOnce(spark)))

  /** Committed reference for the calibration probe, measured on an idle
    * round-7 box (median-of-3; see BENCH_METHOD.md). */
  val CalibRef = 0.80

  /** Committed reference for the all-cores probe on the same box (idle
    * samples 1.12-1.54s — the multicore probe is inherently noisier than
    * the single-threaded one, so the gate uses 1.3x of this mid value). */
  val CalibParRef = 1.25

  /** Committed reference for the Spark-shaped probe, measured round 12 in
    * the SAME window as an H-scale control row (unchanged riskloc DAG,
    * jobs=71: 1696.2s vs r9-quiet 346.7s → box factor 4.89x) — i.e. this
    * reference characterizes the SLOW hardware class of the r11/r12
    * boxes, pairing probe=2.69s with control=4.89x (BENCH_METHOD.md
    * round-12). A ratio near 1.0 therefore means "r11/r12-class or
    * better"; a fast-class box reads well under 1. The probe's jobs are
    * (a) stamping every BENCH artifact with the box's shuffle-class
    * speed so cross-round walls can be conditioned on it, and (b)
    * tripping the gate when a box is slower on shuffle DAGs than the
    * slowest class measured so far. Gate bound is 1.5x — shuffle DAGs
    * jitter more than the fixed-work probes. */
  val SparkProbeRef = 2.69

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("BENCH_REPEATS", "3").toInt
    val spark = graft.core.Sessions.local("graft-bench")

    val calibBefore = calibMedian()
    val calibParBefore = calibParMedian()

    // warmup: touch every table and run one trivial codegen'd plan
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q01_filter_project")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Spark-shaped control: first sample AFTER the session warmup (codegen
    // + scheduler paths hot), second after the query loop; the gate takes
    // the min — hardware class does not change mid-run, so the faster
    // sample is the box's capability and the slower one is contention.
    val sparkProbeBefore = sparkProbeMedian(spark)

    def isolate(): Unit = {
      spark.catalog.clearCache()
      System.gc()
    }

    // BENCH_ONLY=q63,q65 runs just the named-prefix queries (dev loop for
    // single-query timing; the official number is always the full run)
    val only = sys.env.get("BENCH_ONLY").map(_.split(',').toSeq)
    // names get interpolated into the JSON result line — reject anything
    // that would need escaping rather than emit invalid JSON
    only.foreach(names => require(names.forall(_.matches("[A-Za-z0-9_]+")),
      s"BENCH_ONLY must be comma-separated [A-Za-z0-9_]+ names, got: ${sys.env("BENCH_ONLY")}"))
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // mid-run multicore probes: before/after can miss a contention window
    // that opens mid-run; sample at the 1/4, 1/2 and 3/4 marks too — the
    // gate uses the MEDIAN of all post-warmup samples, the JSON reports
    // min (box-speed figure), max (worst), and the full sample list
    val midMarks = Set(all.size / 4, all.size / 2, 3 * all.size / 4)
    val midPar = collection.mutable.ArrayBuffer.empty[Double]
    // a query that throws is listed as failed and leaves no timing: the
    // time until a crash is not a sample
    val failed = collection.mutable.ArrayBuffer.empty[String]
    val results = all.zipWithIndex.flatMap { case ((name, fn), i) =>
      // min-of-2 per mark: a single sample can land on the periodic full
      // GC (cleaner.periodicGC=2min on a 28g heap) and read 2x high
      if (midMarks.contains(i)) midPar += math.min(calibParOnce(), calibParOnce())
      def once(): Option[Double] = {
        isolate()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name failed: $e")
          None
        }
      }
      // n samples, or None at the first failure
      def times(n: Int): Option[Seq[Double]] = {
        val ts = Iterator.continually(once()).take(n).takeWhile(_.isDefined).flatten.toSeq
        if (ts.size == n) Some(ts) else None
      }
      // sub-2s queries: medians of ~0.2-1s samples jitter ~2x run-to-run;
      // widen to median-of-(repeats+2) — costs seconds, buys stability
      val ts = times(repeats).flatMap(base =>
        if (median(base) < 2.0) times(2).map(base ++ _) else Some(base))
      if (ts.isEmpty) failed += name
      ts.map(name -> _)
    }

    val calibAfter = calibMedian()
    val calibParAfter = calibParMedian()
    val sparkProbeAfter = sparkProbeMedian(spark)
    val sparkProbe = math.min(sparkProbeBefore, sparkProbeAfter)
    val sparkProbeRatio = sparkProbe / SparkProbeRef
    val calib = math.min(calibBefore, calibAfter)
    // the before sample is excluded from the gate: at JVM start the JIT
    // hasn't compiled the probe loop yet and it reads ~1.4x high
    val parSamples = Seq(calibParAfter) ++ midPar
    val calibPar = parSamples.min
    val calibParWorst = parSamples.max
    val calibParMed = median(parSamples)
    val calibRatio = calib / CalibRef
    val calibParRatio = calibParMed / CalibParRef
    // gate on medians: robust to one transient spike (GC, a stray daemon),
    // still trips when contention is sustained across the run. The
    // Spark-shaped probe joins the gate in round 12 (two-probe rule,
    // BENCH_METHOD.md): the fixed-work probes bound scheduling noise, the
    // shuffle probe bounds hardware class.
    val calibOk = calibRatio <= 1.3 && calibParRatio <= 1.3 && sparkProbeRatio <= 1.5
    if (!calibOk)
      System.err.println(f"BENCH CALIBRATION FAILURE: single-thread probe " +
        f"$calib%.3fs vs ref $CalibRef%.3fs (${calibRatio}%.2fx), multicore " +
        f"probe median $calibParMed%.3fs vs ref $CalibParRef%.3fs (${calibParRatio}%.2fx), " +
        f"spark shuffle probe $sparkProbe%.3fs vs ref $SparkProbeRef%.3fs (${sparkProbeRatio}%.2fx) " +
        "— box is not at reference speed; timings below cannot support a " +
        "regression verdict")

    def jmap(f: Seq[Double] => Double) = results
      .map { case (k, ts) => s"\"" + k + "\":" + f(ts) }.mkString("{", ",", "}")
    val total = results.map { case (_, ts) => median(ts) }.sum
    val totalMin = results.map { case (_, ts) => ts.min }.sum
    // Partial runs (BENCH_ONLY dev loops) must be self-identifying so a
    // filtered-run JSON can never pass as full bench evidence (ADVICE r7).
    val partial = only.isDefined
    val partialFields = only match {
      case Some(names) => s""","partial":true,"bench_only":"${names.mkString(",")}""""
      case None => s""","partial":false"""
    }
    val common = s""""metric":"total","value":$total,"unit":"sec","method":"median-of-$repeats","query_count":${results.size}$partialFields,"queries":${jmap(median)},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"total_min":$totalMin,"calib_ratio":$calibRatio,"calib_par_ratio":$calibParRatio,"spark_probe_sec":$sparkProbe,"spark_probe_ratio":$sparkProbeRatio,"calib_ok":$calibOk,"sf":"$sfDir""""
    // Full detail (per-query minima, calibration samples) goes to a file —
    // the r7 official artifact lost its numbers because the single giant
    // stdout line got truncated in the driver's captured tail. Keep the
    // stdout line to the contract essentials; point at the file for detail.
    val outPath = sys.env.getOrElse("BENCH_RESULT_FILE",
      if (partial) "bench_result_partial.json" else "bench_result.json")
    val detail = s"""{$common,"queries_min":${jmap(_.min)},"calib_sec":$calib,"calib_before":$calibBefore,"calib_after":$calibAfter,"calib_ref":$CalibRef,"calib_par_sec":$calibPar,"calib_par_worst":$calibParWorst,"calib_par_samples":${parSamples.mkString("[", ",", "]")},"calib_par_ref":$CalibParRef,"calib_par_med":$calibParMed,"spark_probe_before":$sparkProbeBefore,"spark_probe_after":$sparkProbeAfter,"spark_probe_ref":$SparkProbeRef}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench result file write failed: $e") }
    println(s"""{$common,"result_file":"$outPath"}""")
    spark.stop()
  }
}
