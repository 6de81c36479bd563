package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The gate fixture memo: one build per (kind, sf dir), builds may
  * force other fixtures, and a failed build is not cached. */
class FixtureMemoSpec extends AnyFunSuite {
  private def dir = s"memo-spec-${java.util.UUID.randomUUID()}"

  test("a build that forces another fixture returns (no recursive update)") {
    val d = dir
    val leafBuilds = new AtomicInteger()
    def leaf = SparkEntry.fixture("leaf", d) { leafBuilds.incrementAndGet(); 1 }
    def mid = SparkEntry.fixture("mid", d)(leaf + 1)
    // top forces mid, whose build forces leaf: two levels of nesting
    assert(SparkEntry.fixture("top", d)(mid + leaf) == 3)
    assert(mid == 2 && leafBuilds.get == 1)
  }

  test("a build that throws is retried on the next call") {
    val d = dir
    val builds = new AtomicInteger()
    def get = SparkEntry.fixture("flaky", d) {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first")
      "built"
    }
    assert(intercept[IllegalStateException](get).getMessage == "first")
    assert(get == "built")
    assert(get == "built")
    assert(builds.get == 2)
  }

  test("8 concurrent callers of one key run its build once") {
    val d = dir
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          SparkEntry.fixture("shared", d) {
            Thread.sleep(100)
            builds.incrementAndGet()
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }
}
