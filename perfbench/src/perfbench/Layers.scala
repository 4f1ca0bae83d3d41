package perfbench

import graft.eval.Evaluation
import graft.operators.{Cuboids, Snapshots}
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, named `<module>.<metric>` after the
  * program's packages. Work per call comes from the [[WorkListener]]
  * attributed to each warm call's span; `sources`, `operators` and `eval`
  * come from standalone probes timed after the timed phase. */
object Layers {
  val ProbeReps = 3

  def metrics(spark: SparkSession, listener: WorkListener, tracer: Tracer,
      warmCalls: Seq[(String, Span)], corpus: Corpus,
      sessionS: Double, generateS: Double, jitMs: Long, gcMs: Long,
      heapPeakMb: Double, wallS: Double, lostAccumulators: () => Int): Seq[(String, Double, String)] = {

    // probes: the program's source, operator and evaluation layers on
    // their own. sources.read reads one instance; sources.load loads the
    // whole corpus the way runBatch does; the operators run on one instance.
    for (_ <- 1 to ProbeReps) tracer.span("probe.sources.read")(corpus.read(spark, 0).count())
    for (_ <- 1 to ProbeReps) tracer.span("probe.sources.load")(corpus.load(spark))
    val snapshot = corpus.read(spark, 0).localCheckpoint(true)
    val attrs = Snapshots.attributes(snapshot)
    val cuboids = (1 to attrs.size).flatMap(attrs.combinations)
    for (_ <- 1 to ProbeReps) tracer.span("probe.operators.ep")(
      Snapshots.withExplanatoryPower(snapshot).count())
    val expandRows = (1 to ProbeReps).map(_ => tracer.span("probe.operators.expand")(
      Cuboids.expand(snapshot, cuboids).count())).last
    // scoring each instance's own label: Evaluation.score alone, on every
    // workload (runBatch scores inside its calls, where no span reaches)
    for (_ <- 1 to ProbeReps) tracer.span("probe.eval.score")(
      corpus.labels.foreach(l => Evaluation.score(l.split(";").toSeq, l)))

    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val spans = tracer.spans
    def secs(name: String) = Stats.median(spans.filter(_.name == name).map(_.seconds))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    // every algorithm, so that every workload reports the same names; one
    // that the workload does not call reads 0
    val perAlgo = Workloads.Algorithms.flatMap { a =>
      val calls = warmCalls.filter(_._1 == a).map { case (_, s) => (s, listener.work(s)) }
      def m(f: ((Span, Work)) => Double) = med(calls.map(f))
      Seq(
        (s"algorithms.$a.wall_s", m(_._1.seconds), "s"),
        (s"algorithms.$a.jobs", m(_._2.jobs.toDouble), "count"),
        (s"algorithms.$a.open_jobs", calls.map(_._2.openJobs).sum.toDouble, "count"),
        (s"algorithms.$a.stages", m(_._2.stages.toDouble), "count"),
        (s"algorithms.$a.tasks", m(_._2.tasks.toDouble), "count"),
        (s"algorithms.$a.busy_s", m(_._2.busyMs / 1e3), "s"),
        (s"algorithms.$a.gap_s", m(c => c._1.seconds - c._2.busyMs / 1e3), "s"),
        (s"algorithms.$a.task_s", m(_._2.taskMs / 1e3), "s"),
        (s"algorithms.$a.shuffle_mb", m(_._2.shuffleBytes / 1048576.0), "MB"),
        (s"algorithms.$a.result_mb", m(_._2.resultBytes / 1048576.0), "MB"))
    }
    val readProbes = spans.filter(_.name == "probe.sources.read")
    perAlgo ++ Seq(
      ("sources.read_s", secs("probe.sources.read"), "s"),
      ("sources.load_s", secs("probe.sources.load"), "s"),
      ("sources.jobs", med(readProbes.map(s => listener.work(s).jobs.toDouble)), "count"),
      ("operators.ep_s", secs("probe.operators.ep"), "s"),
      ("operators.expand_s", secs("probe.operators.expand"), "s"),
      ("operators.expand_rows", expandRows.toDouble, "count"),
      ("eval.score_s", secs("probe.eval.score"), "s"),
      ("core.session_s", sessionS, "s"),
      ("gen.generate_s", generateS, "s"),
      ("jvm.jit_s", jitMs / 1e3, "s"),
      ("jvm.gc_s", gcMs / 1e3, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.wall_s", wallS, "s"),
      ("trace.lost_accumulator_logs", lostAccumulators().toDouble, "count"))
  }
}
