package graft

import org.scalatest.{Failed, Outcome, TestSuite, TestSuiteMixin}

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._

/** A time limit for each test of a suite. The test body runs on a daemon
  * thread of its own and the suite waits at most 10 minutes for it. A
  * test that overruns fails: every JVM thread's stack goes to stderr, its
  * thread is interrupted and the shared session's Spark jobs are
  * cancelled, so a hung test costs that test and not the rest of the run
  * (every suite shares one forked test JVM). The slowest test takes about
  * two minutes on a 4-core box. */
trait TestTimeLimit extends TestSuiteMixin { this: TestSuite =>

  private val limitMinutes = 10L

  abstract override def withFixture(test: NoArgTest): Outcome = {
    val body = new FutureTask[Outcome](() => super.withFixture(test))
    val worker = new Thread(body, s"test: $suiteName: ${test.name}")
    worker.setDaemon(true)
    worker.start()
    try body.get(limitMinutes, TimeUnit.MINUTES)
    catch {
      case e: ExecutionException => throw e.getCause
      case _: TimeoutException =>
        val err = System.err
        err.println(s"[time limit] '${test.name}' in $suiteName ran past " +
          s"$limitMinutes minutes; thread stacks:")
        Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
          err.println(s"\"${t.getName}\" ${t.getState}")
          frames.foreach(f => err.println(s"    at $f"))
        }
        worker.interrupt()
        org.apache.spark.sql.SparkSession.getDefaultSession
          .foreach(_.sparkContext.cancelAllJobs())
        Failed(new TimeoutException(
          s"test did not finish within $limitMinutes minutes (thread stacks on stderr)"))
      case e: InterruptedException =>
        worker.interrupt()
        throw e
    }
  }
}
