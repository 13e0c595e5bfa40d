package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries
import graft.sources.Bucketing

/** Single-flight build sharing for the session-shared caches (VERDICT
  * r17 item 3): concurrent callers for the same key must produce
  * EXACTLY ONE build — late arrivals await the winner on a per-key
  * latch instead of racing a duplicate multi-minute build — while a
  * failed build releases its waiters so one can retry, and no latch is
  * ever held by a different key or a different cache map.
  */
class CacheLatchSpec extends AnyFunSuite {

  private def concurrently[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val barrier = new CyclicBarrier(n)
      val futs = (0 until n).map(i => pool.submit(
        new java.util.concurrent.Callable[A] {
          def call(): A = { barrier.await(10, TimeUnit.SECONDS); body(i) }
        }))
      futs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("SingleFlight: N barrier-released callers, exactly one build, all same value") {
    val sf = new SingleFlight[String]
    val m = new ConcurrentHashMap[String, Integer]
    val builds = new AtomicInteger(0)
    val out = concurrently(8) { _ =>
      sf(m, "k") {
        builds.incrementAndGet()
        Thread.sleep(100) // long enough that losers genuinely wait
        Integer.valueOf(42)
      }
    }
    assert(builds.get() === 1)
    assert(out.forall(_ == 42))
    assert(sf.inflightCount === 0)
  }

  test("SingleFlight: distinct keys build independently (no cross-key wait)") {
    val sf = new SingleFlight[String]
    val m = new ConcurrentHashMap[String, Integer]
    val builds = new AtomicInteger(0)
    val out = concurrently(6) { i =>
      val k = s"k${i % 3}"
      sf(m, k) { builds.incrementAndGet(); Integer.valueOf(i % 3) }
    }
    assert(builds.get() === 3)
    (0 until 6).foreach(i => assert(out(i) == i % 3))
  }

  test("SingleFlight: a failed build releases waiters and one retries") {
    val sf = new SingleFlight[String]
    val m = new ConcurrentHashMap[String, Integer]
    val builds = new AtomicInteger(0)
    val out = concurrently(6) { _ =>
      // first builder throws; every waiter wakes, exactly one becomes
      // the next builder and succeeds — callers retry the call like a
      // real consumer would
      def attempt(): Int =
        try sf(m, "k") {
          if (builds.incrementAndGet() == 1)
            throw new RuntimeException("transient build failure")
          Integer.valueOf(7)
        }.intValue()
        catch { case _: RuntimeException => attempt() }
      attempt()
    }
    assert(out.forall(_ == 7))
    // one failure + one success; waiters that woke before the retry
    // published may become the retry builder themselves, but never more
    // than one at a time — the map publish caps total builds at 2
    assert(builds.get() === 2)
    assert(sf.inflightCount === 0)
  }

  test("SingleFlight: same-thread re-entry across DIFFERENT flights cannot deadlock (the ladder DAG shape)") {
    val outer = new SingleFlight[String]
    val inner = new SingleFlight[String]
    val mo = new ConcurrentHashMap[String, Integer]
    val mi = new ConcurrentHashMap[String, Integer]
    val done = new CountDownLatch(1)
    val t = new Thread(() => {
      val v = outer(mo, "k") { Integer.valueOf(1 + inner(mi, "k")(Integer.valueOf(10)).intValue()) }
      if (v == 11) done.countDown()
    })
    t.start()
    assert(done.await(10, TimeUnit.SECONDS),
      "re-entrant build across two flights deadlocked")
  }

  test("SingleFlight build clock: nested builds count once (outermost only)") {
    // r20 shared-build attribution: the ladder's nested builds
    // (clusters → candidates → …) must not double-count — the clock's
    // delta across an outer build that sleeps 50ms around an inner
    // 50ms build must be at most the outer build's own wall time. A
    // double-counted inner build adds its ~50ms on top of that wall
    // time, however slow the host; a fixed ceiling would flake under load.
    val outer = new SingleFlight[String]
    val inner = new SingleFlight[String]
    val mo = new ConcurrentHashMap[String, Integer]
    val mi = new ConcurrentHashMap[String, Integer]
    val before = SingleFlight.buildSecondsTotal
    val t0 = System.nanoTime()
    outer(mo, "k") {
      Thread.sleep(50)
      Integer.valueOf(inner(mi, "k") { Thread.sleep(50); Integer.valueOf(1) }.intValue())
    }
    val outerWall = (System.nanoTime() - t0) / 1e9
    val delta = SingleFlight.buildSecondsTotal - before
    assert(delta >= 0.09 && delta <= outerWall,
      s"nested build clock delta $delta s — expected within the outer " +
        s"build's wall time $outerWall s (outermost only)")
  }

  test("DedupQueries.cached: nested build across two EMPTY caches cannot deadlock (identity-keyed flights)") {
    // regression: a flight registry keyed by the cache maps via a
    // ConcurrentHashMap compares keys by CONTENT, so two empty caches
    // are EQUAL and share one flight — the ladder's nested build
    // (candidates → signatures) then awaits its own latch forever.
    // Both maps empty is the worst case and exactly the fresh-JVM state.
    val spark = SparkSpec.session
    val outer = new ConcurrentHashMap[(SparkSession, String), DataFrame]
    val inner = new ConcurrentHashMap[(SparkSession, String), DataFrame]
    val k = (spark, "latch-nested-dir")
    val done = new CountDownLatch(1)
    val t = new Thread(() => {
      val v = DedupQueries.cachedForTest(outer, k) {
        DedupQueries.cachedForTest(inner, k)(spark.range(3).toDF("id"))
      }
      if (v.count() == 3L) done.countDown()
    })
    t.setDaemon(true)
    t.start()
    assert(done.await(30, TimeUnit.SECONDS),
      "nested cached() build across two empty caches deadlocked")
  }

  test("DedupQueries.cached: concurrent callers share one DataFrame build") {
    val spark = SparkSpec.session
    val m = new ConcurrentHashMap[(SparkSession, String), DataFrame]
    val builds = new AtomicInteger(0)
    val out = concurrently(6) { _ =>
      DedupQueries.cachedForTest(m, (spark, "latch-spec-dir")) {
        builds.incrementAndGet()
        Thread.sleep(50)
        spark.range(5).toDF("id")
      }
    }
    assert(builds.get() === 1)
    assert(out.map(_.count()).forall(_ == 5L))
  }

  test("Bucketing.sharedBucketedTable: one bucketed write under concurrent callers") {
    val spark = SparkSpec.session
    val builds = new AtomicInteger(0)
    val before = Bucketing.sharedTableCount
    val kind = "latchspec"
    val out = concurrently(4) { _ =>
      Bucketing.sharedBucketedTable(spark, "latch-spec-dir", kind, "id",
        () => {
          builds.incrementAndGet()
          Thread.sleep(50)
          spark.range(20).toDF("id")
        })
    }
    assert(builds.get() === 1,
      "concurrent callers each paid the bucketed write")
    assert(Bucketing.sharedTableCount === before + 1)
    assert(out.map(_.count()).forall(_ == 20L))
  }
}
