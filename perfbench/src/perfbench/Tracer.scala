package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region: a call into the program or a step of one. Spans
  * nest through `parent` (-1 at the top) and carry both clocks: the
  * nanosecond clock for durations and the millisecond wall clock Spark
  * stamps its events with, for attribution. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Long, startNs: Long, endMs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the program. The
  * untraced runs use [[Tracer.Off]], which only runs the body, so the
  * end-to-end timings carry no tracing cost. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  def spans: Seq[Span]
  /** The most recently closed span. */
  def last: Option[Span]
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def spans: Seq[Span] = Seq.empty
    def last: Option[Span] = None
  }

  /** In-memory span recorder for the driver thread; written out at exit. */
  final class On extends Tracer {
    private val done = mutable.ArrayBuffer.empty[Span]
    private var open: List[Int] = Nil
    private var next = 0

    def span[T](name: String)(body: => T): T = {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        open = open.tail
        done += Span(id, name, parent, s0, n0, System.currentTimeMillis(), System.nanoTime())
      }
    }

    def spans: Seq[Span] = done.toSeq.sortBy(_.id)
    def last: Option[Span] = done.lastOption
  }
}

/** Spark work attributed to one span. `openJobs` are jobs submitted inside
  * the span that had not ended when it closed: they are counted in `jobs`
  * and their interval is clipped to the span, never dropped. */
final case class Work(jobs: Int, openJobs: Int, stages: Int, tasks: Int,
    busyMs: Long, taskMs: Long, shuffleBytes: Long, resultBytes: Long)

/** A benchmark-owned listener: it keeps raw job, stage and task events
  * and attributes them to spans by time. Calls run one at a time on one
  * client, so the span whose interval holds a job's submission is the
  * call that submitted it, whichever driver thread the job came from. */
final class WorkListener extends SparkListener {
  private final case class Job(id: Int, submitMs: Long)
  private final case class Task(launchMs: Long, runMs: Long, shuffleBytes: Long, resultBytes: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(Job(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.resultSize))
    else tasks.add(Task(e.taskInfo.launchTime, 0L, 0L, 0L))
  }

  def work(span: Span): Work = WorkListener.attribute(span.startMs, span.endMs,
    jobs.asScala.toSeq.map(j => (j.submitMs, Option(jobEnds.get(j.id)).map(_.longValue))),
    stages.asScala.toSeq.map(_.longValue),
    tasks.asScala.toSeq.map(t => (t.launchMs, t.runMs, t.shuffleBytes, t.resultBytes)))
}

object WorkListener {
  /** Attribution over the closed interval [startMs, endMs]. Busy time is
    * the union of the span's job intervals, so jobs that run concurrently
    * are not double counted. */
  def attribute(startMs: Long, endMs: Long,
      jobs: Seq[(Long, Option[Long])], stageSubmits: Seq[Long],
      tasks: Seq[(Long, Long, Long, Long)]): Work = {
    def inside(t: Long) = t >= startMs && t <= endMs
    val mine = jobs.filter(j => inside(j._1))
    val open = mine.count { case (_, end) => end.forall(_ > endMs) }
    val intervals = mine.map { case (s, end) => (s, math.min(end.getOrElse(endMs), endMs)) }
    val ts = tasks.filter(t => inside(t._1))
    Work(mine.size, open, stageSubmits.count(inside), ts.size,
      Stats.unionLength(intervals), ts.map(_._2).sum, ts.map(_._3).sum, ts.map(_._4).sum)
  }
}

/** Counts log events that mention a lost accumulator. Spark logs these
  * when a task update arrives for an accumulator the between-call GC has
  * already collected; results are unaffected, so they are reported in the
  * trace and never counted as failed calls. */
object AccumulatorLogCounter {
  import org.apache.logging.log4j.LogManager
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def install(): AtomicInteger = {
    val counter = new AtomicInteger()
    val appender = new AbstractAppender("perfbench-accumulators", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (msg.toLowerCase.contains("accumulator")) counter.incrementAndGet()
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    counter
  }
}
