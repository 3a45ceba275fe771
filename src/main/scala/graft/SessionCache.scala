package graft

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-SparkSession memo cache for deterministic derived DataFrames.
  *
  * Keyed on the session REFERENCE itself (weakly), not on
  * `System.identityHashCode(session)`: identity hashes are not unique, so
  * two live sessions could collide and one would receive a DataFrame bound
  * to the other (possibly stopped) session. The weak keying also bounds
  * the cache's lifetime — once a session is stopped and dereferenced its
  * entry map becomes collectable, so a long-lived JVM cycling sessions
  * does not accumulate stale plans.
  */
final class SessionCache[V] {
  SessionCache.register(this)

  private val bySession =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, ConcurrentHashMap[String, V]]())

  def getOrCompute(s: SparkSession, key: String)(f: => V): V = {
    var m = bySession.get(s)
    if (m == null) {
      bySession.synchronized {
        m = bySession.get(s)
        if (m == null) { m = new ConcurrentHashMap[String, V](); bySession.put(s, m) }
      }
    }
    m.computeIfAbsent(key, _ => f)
  }

  private[graft] def drop(s: SparkSession): Unit = bySession.remove(s)
}

object SessionCache {
  // Registry of every cache instance, so the bench can invalidate ALL
  // memos between timed reps (see Bench): min-of-N must time the build a
  // query consumes, not a memo read left behind by an earlier rep or an
  // earlier query sharing the build (q41/q44/q45/q54/q55/q56/q107 family).
  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_]]()

  private def register(c: SessionCache[_]): Unit = all.add(c)

  /** Drop every memoized entry bound to `s`, across all caches, and every
    * staged index build ([[TempDirs.stagedBuild]]). The builds are
    * deterministic, so results are unchanged — only who pays for the
    * build. Dropped localCheckpoint blocks are reclaimed by the
    * ContextCleaner once the DataFrames become unreachable.
    */
  def invalidate(s: SparkSession): Unit = {
    all.forEach(_.drop(s))
    TempDirs.dropBuilds()
  }
}
