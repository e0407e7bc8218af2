package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The contract of the bounded pool that Pipeline.run and
  * Catalog.registerGold fan their independent Spark actions out on. */
class FanOutSpec extends SparkSpec {

  test("failure: every sibling finishes first, the first error is rethrown with the rest suppressed") {
    val slowDone = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      FanOut(spark, Seq[() => Unit](
        () => throw new IllegalStateException("first"),
        () => {
          Thread.sleep(500)
          slowDone.set(true)
          throw new IllegalArgumentException("second")
        }))
    }
    assert(slowDone.get, "the call threw while a sibling was still running")
    assert(ex.getMessage == "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("bounded by defaultParallelism, which it fills; results in submission order") {
    val p = spark.sparkContext.defaultParallelism
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    // the first p tasks can pass the barrier only if p of them run at once
    val barrier = new CyclicBarrier(p)
    val out = FanOut(spark, (0 until 3 * p).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      if (i < p) barrier.await(30, TimeUnit.SECONDS) else Thread.sleep(20)
      running.decrementAndGet()
      i
    })
    assert(out == (0 until 3 * p))
    assert(peak.get == p, s"peak concurrency ${peak.get}, pool bound $p")
  }

  test("pool threads see the caller's Spark local properties as of the call") {
    val sc = spark.sparkContext
    def seen() = FanOut(spark, Seq.fill(2)(() => sc.getLocalProperty("graft.fanout.probe")))
    try {
      sc.setLocalProperty("graft.fanout.probe", "a")
      assert(seen() == Seq("a", "a"))
      sc.setLocalProperty("graft.fanout.probe", "b")
      assert(seen() == Seq("b", "b"))
    } finally sc.setLocalProperty("graft.fanout.probe", null)
  }

  test("a Spark action per task returns its own answer") {
    val counts = FanOut(spark, (1 to 6).map(n => () => spark.range(n * 10).count()))
    assert(counts == (1 to 6).map(_ * 10L))
  }
}
