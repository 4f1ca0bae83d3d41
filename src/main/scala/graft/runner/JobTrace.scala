package graft.runner

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement-only job tracer (round 14, guide §1): runs gate queries and
  * logs every Spark job's submit time, wall and call site, plus the DRIVER
  * GAP since the previous job ended — the scheduler-round-trip latency the
  * driver-loop algorithm queries pay per action. Per query and repeat it
  * prints the job count, the busy time (the union of the job intervals),
  * the gaps, the jobs still unfinished after the listener drain, and a
  * per-call-site rollup (adaptive stage jobs counted under their query's
  * site, [[attributeStageJobs]]); a last line holds the job count per query as JSON
  * (PERF_NOTES.md). Output is a TSV on stdout; nothing here is part of any
  * declared query.
  *
  * Usage: JobTrace <sfDir> <query[,query...]> [repeats]
  */
object JobTrace {
  /** Total length of the union of `[submit, end]` intervals, in the
    * intervals' unit. An interval with `end < 0` (a job that never ended)
    * adds nothing. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (0L, -1L)
    for ((s, e) <- intervals.filter(_._2 >= 0).sortBy(_._1)) {
      if (s > hi) { total += math.max(0L, hi - lo); lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    total + math.max(0L, hi - lo)
  }

  /** Each job's site, with the adaptive-execution stage jobs renamed:
    * Spark submits a query's shuffle and broadcast stages from its own
    * future threads, whose call site names no engine frame, so such a job
    * takes the site of a job of the same SQL execution (`execution`) that
    * was submitted from the engine. */
  def attributeStageJobs(jobs: Seq[(String, Option[String])]): Seq[String] = {
    def anonymous(site: String) = site.contains("CompletableFuture")
    val byExecution = jobs.collect { case (site, Some(ex)) if !anonymous(site) => ex -> site }.toMap
    jobs.map { case (site, ex) =>
      if (anonymous(site)) ex.flatMap(byExecution.get).getOrElse(site) else site
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val repeats = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = graft.core.Sessions.local("graft-job-trace")

    final case class Ev(id: Int, submitMs: Long, endMs: Long, site: String,
        execution: Option[String])
    val events = new java.util.concurrent.ConcurrentHashMap[Int, Ev]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(si =>
            si.details.linesIterator.find(l => l.contains("graft"))
              .getOrElse(si.name)))
          .getOrElse("?")
        val execution = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        events.put(js.jobId, Ev(js.jobId, js.time, -1L, site, execution))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val ev = events.get(je.jobId)
        if (ev != null) events.put(je.jobId, ev.copy(endMs = je.time))
      }
    })
    // warmup so shared snapshot materialization does not land on the first query
    graft.SparkEntry.queries("q01_filter_project")(spark, sfDir).count()
    Thread.sleep(300)

    val jobCounts = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val counts = for (rep <- 1 to repeats) yield {
        events.clear(); order.clear()
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val n = df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        import scala.jdk.CollectionConverters._
        val evs0 = order.asScala.flatMap(id => Option(events.get(id))).sortBy(_.submitMs).toSeq
        val evs = evs0.zip(attributeStageJobs(evs0.map(e => (e.site, e.execution))))
          .map { case (e, site) => e.copy(site = site) }
        println(s"== $name rep $rep rows=$n wall=${f"$wall%.2f"}s jobs=${evs.size}")
        var prevEnd = -1L
        var gap = 0L
        for (e <- evs) {
          val g = if (prevEnd < 0) 0L else math.max(0L, e.submitMs - prevEnd)
          val w = if (e.endMs > 0) e.endMs - e.submitMs else -1L
          gap += g
          println(s"JOB\t${e.id}\t+${g}ms\t${w}ms\t${e.site}")
          if (e.endMs > prevEnd) prevEnd = e.endMs
        }
        val busy = unionLength(evs.toSeq.map(e => (e.submitMs, e.endMs)))
        println(f"== busy=${busy / 1e3}%.2fs driver-gaps=${gap / 1e3}%.2fs " +
          s"unfinished=${evs.count(_.endMs < 0)}")
        // per-callsite rollup: where do the job-walls concentrate?
        val bySite = evs.filter(_.endMs > 0).groupBy(_.site).toSeq
          .map { case (s, es) => (s, es.size, es.map(e => e.endMs - e.submitMs).sum) }
          .sortBy(-_._3)
        for ((s, n2, tot) <- bySite)
          println(f"SITE\t$s\t$n2%d jobs\t${tot / 1e3}%.2fs")
        evs.size
      }
      s""""$name":${counts.last}"""
    }
    println(jobCounts.mkString("{", ",", "}"))
    spark.stop()
  }
}
