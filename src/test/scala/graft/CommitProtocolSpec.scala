package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DigestManifest

/** Deterministic interleaving tests for the commit protocol's stall
  * races (the round-16 ADVICE findings): a committer whose claim was
  * reclaimed during a stall must never clobber the winner's registered
  * change record, mis-tag the winner's version as a compaction, or
  * register a duplicate version — and a reclaim that races a registration
  * must RESTORE the registered snapshot, never leave the chain
  * unresolvable. The interleavings are landed exactly via
  * [[DigestManifest.postReclaimHook]] / direct calls to the
  * package-private protocol steps, not by sleeping and hoping.
  */
class CommitProtocolSpec extends AnyFunSuite {

  private def tmp(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def seedTable(dir: java.nio.file.Path): Unit = {
    Files.write(dir.resolve("lang_aa-seed.csv"), "1,aa,1\n".getBytes("UTF-8"))
    DigestManifest.publishAppend(dir.toString, Seq("lang_aa-seed.csv,1"))
  }

  private def bytesOf(lines: Seq[String]): Array[Byte] =
    lines.mkString("\n").getBytes(StandardCharsets.UTF_8)

  test("reclaim racing a registration RESTORES the registered snapshot " +
      "and rebases past it (TOCTOU window of the orphan reclaim)") {
    val dir = tmp("graft_proto_restore_")
    val path = dir.toString
    seedTable(dir)
    // a "stalled" holder claimed v2 (full-shape snapshot bytes) but has
    // not yet registered
    val holderLines = Seq("lang_aa-seed.csv,1", "lang_bb-holder.csv,1")
    val holderBytes = bytesOf(holderLines)
    Files.write(dir.resolve("lang_bb-holder.csv"), "2,bb,1\n".getBytes("UTF-8"))
    Files.write(dir.resolve("_MANIFEST.v2"), holderBytes,
      StandardOpenOption.CREATE_NEW)
    // the holder's registration lands EXACTLY inside the reclaimer's
    // window: after the orphan move, before the re-check
    DigestManifest.postReclaimHook = () =>
      Files.write(dir.resolve("_VERSIONS"),
        s"2,${System.currentTimeMillis() * 1000L}\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    try {
      Files.write(dir.resolve("lang_cc-late.csv"), "3,cc,1\n".getBytes("UTF-8"))
      val v = DigestManifest.publishAppend(path,
        Seq("lang_cc-late.csv,1"))
      // the live committer rebased PAST the registered v2, never onto it
      assert(v == 3)
      // the registered snapshot was restored byte-identically — the chain
      // stays resolvable for v2 and every delta chained on it
      assert(java.util.Arrays.equals(
        Files.readAllBytes(dir.resolve("_MANIFEST.v2")), holderBytes))
      assert(DigestManifest.listingAt(path, DigestManifest.MainRef, 2)
        == holderLines)
      assert(DigestManifest.head(path)._2
        == holderLines :+ "lang_cc-late.csv,1")
    } finally DigestManifest.postReclaimHook = () => ()
  }

  test("a reclaimed-and-superseded committer aborts BEFORE touching the " +
      "winner's registered change record, and its staged record is swept") {
    val dir = tmp("graft_proto_changes_")
    val path = dir.toString
    seedTable(dir)
    val base = DigestManifest.head(path)._2
    // committer S claims v2, then stalls
    val sLines = base :+ "lang_ss-stalled.csv,1"
    val sBytes = bytesOf(sLines)
    assert(DigestManifest.claimExact(dir, path, 2, sBytes,
      DigestManifest.MainRef))
    // S's slot is reclaimed (orphan move) and winner W claims + commits v2
    Files.move(dir.resolve("_MANIFEST.v2"),
      dir.resolve(".orphan-_MANIFEST.v2-test"), StandardCopyOption.ATOMIC_MOVE)
    val wLines = base :+ "lang_ww-winner.csv,1"
    val wBytes = bytesOf(wLines)
    Files.write(dir.resolve("lang_ww-winner.csv"), "9,ww,1\n".getBytes("UTF-8"))
    assert(DigestManifest.claimExact(dir, path, 2, wBytes,
      DigestManifest.MainRef))
    val wTemp = DigestManifest.stageChangeRecord(dir,
      DigestManifest.deltaRecords(base, wLines))
    assert(DigestManifest.finishCommit(dir, path, 2, DigestManifest.MainRef,
      wBytes, Some(wTemp)) == 2)
    val wRecord = Files.readAllBytes(dir.resolve("_CHANGES.v2"))
    // S wakes and tries to finish: it must refuse at the slot-bytes check
    // — BEFORE any change-record write — and delete its staged temp
    val sTemp = DigestManifest.stageChangeRecord(dir,
      DigestManifest.deltaRecords(base, sLines))
    val ex = intercept[java.util.ConcurrentModificationException] {
      DigestManifest.finishCommit(dir, path, 2, DigestManifest.MainRef,
        sBytes, Some(sTemp))
    }
    assert(ex.getMessage.contains("did NOT publish"))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(dir.resolve("_CHANGES.v2")), wRecord),
      "the winner's registered change record must survive the loser's wake-up")
    assert(!Files.exists(sTemp))
    val leftover = Files.list(dir)
    try assert(!scala.jdk.CollectionConverters.IteratorHasAsScala(
      leftover.iterator()).asScala
      .exists(_.getFileName.toString.startsWith(".changes-tmp-")))
    finally leftover.close()
  }

  test("finishCommit refuses to register a version twice even when the " +
      "slot bytes match (reclaim-then-restore duplicate guard)") {
    val dir = tmp("graft_proto_dup_")
    val path = dir.toString
    seedTable(dir)
    val base = DigestManifest.head(path)._2
    val lines = base :+ "lang_dd-dup.csv,1"
    val bytes = bytesOf(lines)
    Files.write(dir.resolve("lang_dd-dup.csv"), "4,dd,1\n".getBytes("UTF-8"))
    assert(DigestManifest.claimExact(dir, path, 2, bytes,
      DigestManifest.MainRef))
    val t1 = DigestManifest.stageChangeRecord(dir,
      DigestManifest.deltaRecords(base, lines))
    assert(DigestManifest.finishCommit(dir, path, 2, DigestManifest.MainRef,
      bytes, Some(t1)) == 2)
    // same committer (restored slot, matching bytes) finishing again must
    // refuse — registering twice would publish two contents under one
    // version number the moment the contents diverge
    val t2 = DigestManifest.stageChangeRecord(dir,
      DigestManifest.deltaRecords(base, lines))
    intercept[java.util.ConcurrentModificationException] {
      DigestManifest.finishCommit(dir, path, 2, DigestManifest.MainRef,
        bytes, Some(t2))
    }
    assert(!Files.exists(t2))
    assert(DigestManifest.currentVersion(path) == 2)
  }

  test("a branch-ref commit never consumes a main-ref compaction tag " +
      "(the tag is keyed by (path, ref))") {
    val dir = tmp("graft_proto_tag_")
    val path = dir.toString
    seedTable(dir)
    DigestManifest.compacting(path, DigestManifest.MainRef, "spec") {
      // a branch DV-style replace interleaves while the main compaction's
      // mark is pending: it must NOT be marked content-preserving
      Files.write(dir.resolve("lang_ee-branch.csv"), "5,ee,1\n".getBytes("UTF-8"))
      val bv = DigestManifest.publishReplace(path,
        Seq("lang_ee-branch.csv,1"), 0, ref = "dev")
      assert(!DigestManifest.isCompaction(path, bv),
        "a branch commit consumed the main compaction tag")
      // the mark survives for the commit it was meant for
      val mv = DigestManifest.publishReplace(path,
        Seq("lang_aa-seed.csv,1"), DigestManifest.currentVersion(path))
      assert(DigestManifest.isCompaction(path, mv),
        "the main replace the tag targeted must be marked a compaction")
    }
  }

  test("a branch commit whose version NUMBER reaches a tagged main " +
      "compaction never scrubs main's tag (ref-qualified registry)") {
    val dir = tmp("graft_proto_refscrub_")
    val path = dir.toString
    seedTable(dir)
    // main compacts at v2 (marked through the real replace path)
    val mv = DigestManifest.compacting(path, DigestManifest.MainRef, "spec") {
      DigestManifest.publishReplace(path, Seq("lang_aa-seed.csv,1"), 1)
    }
    assert(DigestManifest.isCompaction(path, mv))
    // the mark is the registration's 4th field; no side file exists
    val mainLog = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(dir.resolve("_VERSIONS"))).asScala
    assert(mainLog.last.startsWith(s"$mv,") && mainLog.last.endsWith(",c") &&
      mainLog.last.split(",").length == 4, mainLog)
    assert(!mainLog.init.exists(_.endsWith(",c")), mainLog)
    assert(!Files.exists(dir.resolve("_COMPACTIONS")))
    // branch logs restart at v1: commit on a branch until ITS version
    // number equals main's compaction version — each branch registration
    // lands in the branch's own log, never in main's
    (1 to mv).foreach { i =>
      Files.write(dir.resolve(s"lang_br$i.csv"), s"$i,br,1\n".getBytes("UTF-8"))
      DigestManifest.publishAppend(path, Seq(s"lang_br$i.csv,1"),
        ref = "dev")
    }
    assert(DigestManifest.currentVersion(path, "dev") == mv)
    assert(DigestManifest.isCompaction(path, mv),
      "a branch commit with a colliding version number scrubbed main's " +
        "compaction tag — main's CDF would replay the compaction as data")
    assert(!DigestManifest.isCompaction(path, mv, "dev"),
      "the branch's own data commit must not read as a compaction")
    // and the main change feed still skips the compaction whole
    assert(graft.sources.DigestChanges.plan(path, mv - 1, mv).isEmpty,
      "main's CDF must skip the tagged compaction version")
    // while the branch feed still serves its colliding-number data commit
    assert(graft.sources.DigestChanges.plan(path, mv - 1, mv, "dev").nonEmpty,
      "the branch's data commit at the colliding number must still serve")
  }

  test("a compactor's abandoned claim is reclaimed by a data commit, " +
      "which registers unmarked and is served by the change feed") {
    val dir = tmp("graft_proto_deadcompactor_")
    val path = dir.toString
    seedTable(dir)
    // a compactor claims v2 with its rewritten listing, then dies before
    // registering: no mark exists anywhere, because the mark is only
    // ever written as part of a registration line
    Files.write(dir.resolve("lang_aa-compacted.csv"), "1,aa,1\n".getBytes("UTF-8"))
    assert(DigestManifest.claimExact(dir, path, 2,
      bytesOf(Seq("lang_aa-compacted.csv,1")), DigestManifest.MainRef))
    // a data commit waits out the orphan window, reclaims v2, registers
    Files.write(dir.resolve("lang_ff-data.csv"), "6,ff,1\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(path, Seq("lang_ff-data.csv,1")) == 2)
    assert(!DigestManifest.isCompaction(path, 2),
      "the reclaimed data commit must not read as a compaction")
    assert(!DigestManifest.registrations(path).exists(_.compaction))
    assert(!Files.exists(dir.resolve("_COMPACTIONS")))
    val served = graft.sources.DigestChanges.plan(path, 1, 2)
    assert(served.nonEmpty, "the change feed must serve the data commit")
    assert(DigestManifest.head(path)._2 ==
      Seq("lang_aa-seed.csv,1", "lang_ff-data.csv,1"),
      "the dead compactor's bytes must never be served")
  }

  test("registrations: one parser round-trips 2-field, 3-field and " +
      "compaction-marked lines, and every version reader is a view of it") {
    val dir = tmp("graft_proto_regs_")
    val path = dir.toString
    val raw = Seq("1,1000", "2,2000,0123abcd", "3,3000,4567cdef,c")
    Files.write(dir.resolve("_VERSIONS"),
      raw.mkString("", "\n", "\n").getBytes("UTF-8"))
    val regs = DigestManifest.registrations(path)
    assert(regs == Seq(
      DigestManifest.Registration(1, 1000L, None, compaction = false),
      DigestManifest.Registration(2, 2000L, Some("0123abcd"), compaction = false),
      DigestManifest.Registration(3, 3000L, Some("4567cdef"), compaction = true)))
    assert(regs.map(_.line) == raw)
    assert(DigestManifest.currentVersion(path) == 3)
    assert(DigestManifest.versionAt(path, 2500L) == 2)
    assert(DigestManifest.isCompaction(path, 3))
    assert(!DigestManifest.isCompaction(path, 2))
    assert(!DigestManifest.isCompaction(path, 4), "an unregistered version is unmarked")
    assert(DigestManifest.registrations(path, "dev").isEmpty)
    assert(DigestManifest.currentVersion(path, "dev") == 0)
  }

  test("the CDF to-side guard mirrors the from-side: changesTo together " +
      "with changesToTimestamp refuses") {
    val dir = tmp("graft_proto_cdfguard_")
    seedTable(dir)
    val props = new java.util.HashMap[String, String]()
    props.put("path", dir.toString)
    props.put("changesFrom", "0")
    props.put("changesTo", "1")
    props.put("changesToTimestamp", "123456789")
    val ex = intercept[IllegalArgumentException] {
      new graft.sources.DigestSink().getTable(
        graft.sources.DigestChanges.schema, Array.empty, props)
    }
    assert(ex.getMessage.contains("changesTo OR changesToTimestamp"))
  }
}
