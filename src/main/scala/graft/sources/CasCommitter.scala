package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Driver main for the CROSS-PROCESS commit-protocol test
  * (`CasProcessSpec`): a second JVM that commits against the same table
  * directory as the test JVM, so the CAS claim protocol
  * ([[DigestManifest]]) is exercised across real process boundaries —
  * the one thing an in-process spec can never do (the JVM `synchronized`
  * fast path serializes everything inside one process).
  *
  * Modes:
  *   - `append <dir> <n> <tag>` — perform `n` optimistic append commits
  *     of one fresh file each, re-planning from the live head every time
  *     (the INSERT INTO shape). Prints the final head version.
  *   - `claim-and-die <dir>` — CAS-claim the next version slot exactly
  *     like a real committer (CREATE_NEW on `_MANIFEST.v<head+1>`) and
  *     exit WITHOUT registering it: the crashed-committer state whose
  *     abandoned claim a live writer must wait out and reclaim.
  *   - `branch-append <dir> <n> <tag> <branch>` — the append mode on a
  *     NAMED REF's commit log: the per-ref claim machinery
  *     (`mName(ref)`) raced across real process boundaries.
  *   - `dv-grow <dir> <file> <pos>` — a deletion-vector commit: grow
  *     `file`'s DV by one position via an optimistic REPLACE, re-planning
  *     on conflict exactly like a real DML re-run. Prints the version
  *     that carried the mutation.
  */
object CasCommitter {
  def main(args: Array[String]): Unit = args(0) match {
    case "append" =>
      val dir = args(1)
      val n = args(2).toInt
      val tag = args(3)
      for (i <- 1 to n) {
        val f = s"lang_$tag-cas$i.csv"
        Files.write(Paths.get(dir, f),
          s"$i,$tag,1\n".getBytes(StandardCharsets.UTF_8))
        DigestManifest.publishAppend(dir, Seq(s"$f,1"))
      }
      println(s"HEAD=${DigestManifest.currentVersion(dir)}")
    case "branch-append" =>
      val dir = args(1)
      val n = args(2).toInt
      val tag = args(3)
      val branch = args(4)
      for (i <- 1 to n) {
        val f = s"lang_$tag-bcas$i.csv"
        Files.write(Paths.get(dir, f),
          s"$i,$tag,1\n".getBytes(StandardCharsets.UTF_8))
        DigestManifest.publishAppend(dir, Seq(s"$f,1"), branch)
      }
      println(s"HEAD=${DigestManifest.currentVersion(dir, branch)}")
    case "dv-grow" =>
      val dir = args(1)
      val file = args(2)
      val pos = args(3).toLong
      // optimistic replace with re-plan on conflict: the real DML shape —
      // a replace's base going stale aborts loudly, and the retry
      // recomputes the mutation against the NEW head, so an interleaved
      // append from another process is never dropped
      var committed = -1
      while (committed < 0) {
        val (hv, lines) = DigestManifest.head(dir)
        val mutated = lines.map { l =>
          val e = ManifestEntry.parse(l)
          if (e.file != file) l
          else {
            val dv = DvCodec.add(DvCodec.decode(e.attrs.getOrElse("dv", "")), pos)
            ManifestEntry(e.file, e.rows - 1,
              e.attrs + ("dv" -> DvCodec.encode(dv))).line
          }
        }
        require(mutated != lines, s"dv-grow: no entry for $file at $dir")
        val records = lines.zip(mutated).collect {
          case (o, n) if o != n => s"~$o|$n"
        }
        try committed = DigestManifest.publishReplace(dir, mutated, hv,
          knownRecords = Some(records))
        catch { case _: java.util.ConcurrentModificationException => () }
      }
      println(s"DVGROWN=$committed")
    case "claim-and-die" =>
      val dir = args(1)
      val v = DigestManifest.currentVersion(dir) + 1
      Files.write(Paths.get(dir, s"_MANIFEST.v$v"),
        "lang_zz-ghost.csv,9".getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      println(s"CLAIMED=$v")
      // exit without registering: the abandoned-claim state
    case m =>
      System.err.println(s"CasCommitter: unknown mode '$m'")
      sys.exit(2)
  }
}
