package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

/** Staged temp directories for queries that need a filesystem round-trip
  * (CSV/scalar-text sinks, streaming file sources).
  *
  * One directory per logical key, reused across invocations within the
  * JVM — repeated Bench/Verify/test runs must not accumulate unbounded
  * per-call temp artifacts — and deleted recursively on JVM exit.
  */
object TempDirs {
  private val cache = new ConcurrentHashMap[String, Path]()
  private val builds = ConcurrentHashMap.newKeySet[String]()

  private def delete(p: Path): Unit =
    try
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
    catch { case _: Throwable => () } // best-effort cleanup

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => cache.values.forEach(delete)))
  }

  /** The staged directory for `key`, created (and populated via `init`)
    * on first use in this JVM.
    */
  def staged(key: String)(init: Path => Unit = _ => ()): Path = {
    hookInstalled
    cache.computeIfAbsent(key, _ => {
      val p = Files.createTempDirectory("graft_staged_")
      init(p)
      p
    })
  }

  /** A staged directory that holds a BUILD a query consumes (an index),
    * not a copy of its input: staged like [[staged]], but dropped with
    * its files by [[dropBuilds]], so the next use builds it again.
    */
  def stagedBuild(key: String)(init: Path => Unit): Path = {
    builds.add(key)
    staged(key)(init)
  }

  /** Deletes every [[stagedBuild]] directory; run by
    * [[SessionCache.invalidate]] with the memo drops.
    */
  private[graft] def dropBuilds(): Unit =
    builds.forEach(k => Option(cache.remove(k)).foreach(delete))
}
