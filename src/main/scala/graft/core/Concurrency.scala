package graft.core

/** Driver-side concurrency for independent Spark-action chains (layer
  * passes, drill-down chains, cluster searches). Replaces the per-site
  * Future/Await scaffold with one shared policy:
  *
  *  - a DEDICATED bounded daemon pool per call — blocked collect()s never
  *    occupy scala's process-wide global ForkJoinPool (where they would
  *    starve each other and the per-instance tasks that Runner.runAll and
  *    Runner.runKeyed run through this same call);
  *  - `maxConcurrent` bounds simultaneous tasks: each layer pass persists
  *    its own counts/cands frames, so unbounded overlap multiplies peak
  *    storage-memory demand with the attribute count (the reason the
  *    cuboid explode itself is never cached — see AutoRoot's scale note);
  *  - every task runs to completion even when a sibling fails — no
  *    detached zombie jobs keep mutating shared frames after the caller
  *    unwound — and the FIRST failure (in task order) is rethrown after
  *    all tasks settle.
  */
object Concurrency {

  /** Run tasks concurrently, return results in task order. Each task's
    * Spark jobs carry the caller's call site (its first stack frame
    * outside graft.core), so a job log names the algorithm step that
    * submitted them rather than the pool thread. */
  def awaitAll[T](tasks: Seq[() => T], maxConcurrent: Int = 4): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    if (tasks.sizeIs == 1) return Seq(tasks.head())
    val callSite = Thread.currentThread.getStackTrace.iterator
      .dropWhile(!_.getClassName.startsWith("graft.core."))
      .find(!_.getClassName.startsWith("graft.core."))
      .map(f => s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}")
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
    def withCallSite(t: () => T): T = (sc, callSite) match {
      case (Some(ctx), Some(site)) =>
        ctx.setCallSite(site)
        try t() finally ctx.clearCallSite()
      case _ => t()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, maxConcurrent),
      (r: Runnable) => {
        val t = new Thread(r, "graft-driver-chain")
        t.setDaemon(true)
        t
      })
    try {
      val futures = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, T]] {
          def call(): Either[Throwable, T] =
            try Right(withCallSite(t)) catch { case e: Throwable => Left(e) }
        })
      }
      val settled =
        try futures.map(_.get())
        catch {
          case e: InterruptedException =>
            // Caller-thread interruption: plain shutdown() would let the
            // already-running daemon tasks keep executing Spark jobs after
            // the caller unwinds — exactly the detached-zombie scenario
            // this class exists to prevent. Cancel everything (interrupting
            // running tasks) before propagating.
            futures.foreach(_.cancel(true))
            pool.shutdownNow()
            throw e
        }
      settled.collectFirst { case Left(e) => throw e }
      settled.map(_.toOption.get)
    } finally pool.shutdown()
  }
}
