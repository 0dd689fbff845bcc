package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

class SessionCacheSpec extends SparkSpec {
  test("a build that nests a get on a key in the same bin builds each key once") {
    // equal String.hashCode, so both keys land in one ConcurrentHashMap bin
    assert("Aa".hashCode === "BB".hashCode)
    val cache = new SessionCache[String]
    val builds = new AtomicInteger
    def get(key: String)(v: => String): String =
      cache.get(spark, key) { builds.incrementAndGet(); v }
    assert(get("Aa")(get("BB")("inner") + "+outer") === "inner+outer")
    assert(get("BB")("rebuilt") === "inner")
    assert(get("Aa")("rebuilt") === "inner+outer")
    assert(builds.get === 2)
  }

  test("racing builds of one key publish the first value to both callers") {
    val cache = new SessionCache[Object]
    val bothBuilding = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map { _ =>
        pool.submit(() => cache.get(spark, "k") {
          bothBuilding.countDown()
          assert(bothBuilding.await(10, TimeUnit.SECONDS))
          new Object
        })
      }
      val vs = fs.map(_.get(30, TimeUnit.SECONDS))
      assert(vs(0) eq vs(1))
      assert(cache.get(spark, "k")(new Object) eq vs(0))
    } finally pool.shutdownNow()
  }
}
