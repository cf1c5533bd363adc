package graft.serving

import org.scalatest.funsuite.AnyFunSuite

class AnalysisCacheSpec extends AnyFunSuite {

  test("memoizes within TTL, recomputes after expiry (reference semantics)") {
    var now = 0L
    val cache = new AnalysisCache[Int](ttlMillis = 1000, clock = () => now)
    var computes = 0
    def f = { computes += 1; 42 }
    assert(cache.getOrCompute("loyalty:10:30:")(f) == 42)
    assert(cache.getOrCompute("loyalty:10:30:")(f) == 42)
    assert(computes == 1)
    now = 1500
    assert(cache.getOrCompute("loyalty:10:30:")(f) == 42)
    assert(computes == 2)
  }

  test("the entry cap evicts expired entries first, then the oldest — " +
      "adversarial param diversity cannot grow the map unbounded") {
    var now = 0L
    val cache = new AnalysisCache[Int](ttlMillis = 1000, clock = () => now,
      maxEntries = 5)
    (1 to 5).foreach { i => now = i; cache.getOrCompute(s"k$i")(i) }
    assert(cache.size == 5)
    now = 6
    cache.getOrCompute("k6")(6)
    assert(cache.size == 5)
    // k1 (oldest) went; the newest five remain
    assert(cache.get("k1").isEmpty)
    assert(cache.get("k6").contains(6))
    // expired entries are preferred victims once the TTL passes
    now = 1004 // k2 (at=2), k3 (at=3), k4 (at=4) expired; k5, k6 alive
    cache.getOrCompute("k7")(7)
    assert(cache.size <= 5)
    assert(cache.get("k7").contains(7))
    assert(cache.get("k6").contains(6))
  }

  test("prefix invalidation drops only matching keys") {
    val cache = new AnalysisCache[Int]()
    cache.getOrCompute("loyalty:10:a")(1)
    cache.getOrCompute("loyalty:9:b")(2)
    cache.getOrCompute("attendance:10:c")(3)
    assert(cache.invalidatePrefix("loyalty:") == 2)
    assert(cache.get("loyalty:10:a").isEmpty)
    assert(cache.get("attendance:10:c").contains(3))
  }

  /** Runs `n` threads that start together on `body`; their outcomes. */
  private def together[A](n: Int)(body: => A): Seq[Either[Throwable, A]] = {
    val start = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { _ =>
        pool.submit(() => { start.await(); scala.util.Try(body).toEither })
      }
      futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("concurrent misses of one key run the compute once") {
    val cache = new AnalysisCache[Int]()
    val computes = new java.util.concurrent.atomic.AtomicInteger()
    val got = together(8) {
      cache.getOrCompute("loyalty:10:30:") {
        computes.incrementAndGet()
        Thread.sleep(300)
        42
      }
    }
    assert(got == Seq.fill(8)(Right(42)))
    assert(computes.get == 1)
  }

  test("a failed compute reaches every waiter, is not cached, and is " +
      "retried on the next call") {
    val cache = new AnalysisCache[Int]()
    val got = together(4) {
      cache.getOrCompute("pca:10") {
        Thread.sleep(300)
        throw new IllegalStateException("boom")
      }
    }
    assert(got.forall(_.left.exists(_.getMessage == "boom")), got)
    assert(cache.get("pca:10").isEmpty)
    assert(cache.getOrCompute("pca:10")(7) == 7)
    assert(cache.get("pca:10").contains(7))
  }

  test("an invalidation during a compute keeps its result out of the " +
      "cache and lets later callers start afresh") {
    val cache = new AnalysisCache[Int]()
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val old = new Thread(() => {
      cache.getOrCompute("loyalty:10:30:") { started.countDown(); release.await(); 1 }
      ()
    })
    old.start()
    started.await()
    assert(cache.invalidatePrefix("loyalty:10:") == 0)
    // not joined to the computation over the invalidated data
    assert(cache.getOrCompute("loyalty:10:30:")(2) == 2)
    release.countDown()
    old.join()
    assert(cache.get("loyalty:10:30:").contains(2))
  }
}
