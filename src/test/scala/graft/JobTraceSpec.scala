package graft

import graft.runner.JobTrace.{attributeStageJobs, unionLength}
import org.scalatest.funsuite.AnyFunSuite

/** JobTrace's busy time is the union of the job intervals, so concurrent
  * jobs are not counted twice and busy never exceeds the wall. */
class JobTraceSpec extends AnyFunSuite with TestTimeLimit {

  test("disjoint intervals add up, in any order") {
    assert(unionLength(Seq((20L, 25L), (0L, 10L))) == 15L)
  }

  test("overlapping and touching intervals merge") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L))) == 20L)
  }

  test("a nested interval adds nothing") {
    assert(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L)
  }

  test("an unfinished interval (end < 0) adds nothing") {
    assert(unionLength(Seq((0L, 10L), (5L, -1L), (50L, -1L))) == 10L)
    assert(unionLength(Seq((5L, -1L))) == 0L)
    assert(unionLength(Nil) == 0L)
  }

  test("stage jobs take the site of their SQL execution's engine job") {
    val future = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
    val jobs = Seq(
      (future, Some("7")), ("cutoff at RiskLoc.scala:56", Some("7")),
      (future, Some("8")), (future, None), ("run at Squeeze.scala:9", None))
    assert(attributeStageJobs(jobs) == Seq("cutoff at RiskLoc.scala:56",
      "cutoff at RiskLoc.scala:56", future, future, "run at Squeeze.scala:9"))
  }
}
