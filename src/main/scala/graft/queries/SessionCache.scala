package graft.queries

import org.apache.spark.sql.SparkSession

/** Per-(session, key) memoization for EAGER artifacts (trained indexes,
  * materialized cluster maps) that plan-identity caching cannot dedup.
  *
  * Sessions are WEAK keys: entries die with their session, so a stopped
  * session's persisted frames become collectible and a long-lived JVM
  * cycling sessions does not accumulate them — and, unlike an
  * identityHashCode string key, a live-object key cannot collide with a
  * later session reusing the same hash. Values for distinct `key`s
  * within one live session are kept for that session's lifetime (the
  * stored-index semantics the callers want).
  *
  * `build` runs outside the map: builds nest (a shared frame built from
  * other shared frames), and a nested `computeIfAbsent` on the same map
  * is forbidden — the JDK throws "Recursive update" when the inner key
  * lands in the outer key's bin. Two threads racing on one key may both
  * build; the first value published wins and both callers get it. */
private[queries] final class SessionCache[V] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, V]]()

  def get(s: SparkSession, key: String)(build: => V): V = {
    val perSession = bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, V]()
        bySession.put(s, m)
      }
      m
    }
    val hit = perSession.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = perSession.putIfAbsent(key, built)
      if (prev == null) built else prev
    }
  }
}
