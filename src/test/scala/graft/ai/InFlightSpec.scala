package graft.ai

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The ordered, bounded overlap behind the bulk pipelines' per-document
  * AI step, without Spark: input order out, at most `width` calls at
  * once, failures rethrown as themselves, and no pool at width 1.
  */
class InFlightSpec extends AnyFunSuite {

  test("output order equals input order when calls finish out of order") {
    val n = 24
    // later elements finish first
    val out = InFlight.map((0 until n).iterator, 4) { i =>
      Thread.sleep((n - i).toLong)
      i * 10
    }.toList
    assert(out == (0 until n).map(_ * 10).toList)
  }

  test("never more than `width` calls in flight, and calls do overlap") {
    val now = new AtomicInteger
    val peak = new AtomicInteger
    val out = InFlight.map((1 to 40).iterator, 3) { i =>
      peak.accumulateAndGet(now.incrementAndGet(), math.max)
      Thread.sleep(5)
      now.decrementAndGet()
      i
    }.sum
    assert(out == (1 to 40).sum)
    assert(peak.get <= 3, s"peak in flight ${peak.get} > width 3")
    assert(peak.get >= 2, "calls never overlapped")
  }

  test("reads at most `width` inputs ahead of what it has emitted") {
    val read = new AtomicInteger
    val it = InFlight.map(Iterator.from(0).map { i => read.incrementAndGet(); i }, 3)(identity)
    assert(it.next() == 0)
    assert(read.get == 3)
    assert(it.next() == 1)
    assert(read.get == 4)
  }

  test("the first failure in input order is rethrown as itself") {
    val it = InFlight.map((0 until 10).iterator, 4) { i =>
      if (i == 2 || i == 3) throw new IllegalStateException(s"bad $i")
      i
    }
    assert(it.next() == 0 && it.next() == 1)
    val e = intercept[IllegalStateException](it.next())
    assert(e.getMessage == "bad 2")
  }

  test("width 1 runs every call on the calling thread, touching no pool") {
    val caller = Thread.currentThread()
    val threads = InFlight.map((0 until 8).iterator, 1)(_ => Thread.currentThread()).toList
    assert(threads.forall(_ eq caller))
    val pooled = InFlight.map((0 until 8).iterator, 2)(_ => Thread.currentThread().getName).toList
    assert(pooled.forall(_.startsWith(InFlight.threadPrefix)))
  }
}
