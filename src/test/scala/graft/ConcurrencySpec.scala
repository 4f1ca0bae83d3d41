package graft

import graft.core.Concurrency
import org.scalatest.funsuite.AnyFunSuite

/** The shared driver-chain pool: results in task order, bounded
  * concurrency, and all tasks settle before the first failure (in task
  * order) is rethrown — no detached siblings keep running after the
  * caller unwinds. */
class ConcurrencySpec extends AnyFunSuite with TestTimeLimit {

  test("results come back in task order") {
    val got = Concurrency.awaitAll((1 to 8).map(i => () => {
      Thread.sleep((8 - i) * 10L); i * i
    }))
    assert(got == (1 to 8).map(i => i * i))
  }

  test("maxConcurrent bounds simultaneous tasks") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    Concurrency.awaitAll((1 to 10).map(_ => () => {
      val a = active.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, a))
      Thread.sleep(30)
      active.decrementAndGet()
    }), maxConcurrent = 3)
    assert(peak.get() <= 3 && peak.get() >= 2)
  }

  test("all tasks settle before the first failure (task order) is rethrown") {
    val completed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[RuntimeException] {
      Concurrency.awaitAll(Seq(
        () => { Thread.sleep(50); completed.add(1); 1 },
        () => { throw new RuntimeException("second") },
        () => { Thread.sleep(100); completed.add(3); 3 },
        () => { throw new IllegalStateException("fourth") }))
    }
    assert(e.getMessage == "second") // first failure in TASK order
    assert(completed.contains(1) && completed.contains(3)) // siblings finished
  }

  test("single task runs inline") {
    val t = Thread.currentThread()
    val got = Concurrency.awaitAll(Seq(() => Thread.currentThread() eq t))
    assert(got == Seq(true))
  }
}
