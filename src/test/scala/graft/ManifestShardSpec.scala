package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DigestManifest

/** SHARDED MANIFEST tests: commits write O(changes) delta snapshots
  * (`#base:<v-1>` + change records) instead of the full file listing,
  * with a full base every 16th version re-anchoring the chain, and an
  * O(1)-byte `#version:<N>` pointer. Resolution (fold + per-table head
  * cache) must be byte-for-byte equivalent to the old full-listing
  * protocol for every reader — these specs pin the shapes, the
  * equivalence, the fold-exactness fallback, legacy compatibility, and
  * the expire-time chain rebase.
  */
class ManifestShardSpec extends AnyFunSuite {

  private def tmp(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def rawLines(dir: java.nio.file.Path, name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(dir.resolve(name)).asScala
      .filter(_.nonEmpty).toSeq
  }

  test("append commits write #base: delta snapshots whose size is " +
      "O(changes), not O(table files); the pointer is a #version: line") {
    val dir = tmp("graft_shard_delta_")
    (1 to 12).foreach { i =>
      DigestManifest.publishAppend(dir.toString,
        Seq(s"lang_aa-f$i.csv,$i"))
    }
    // v1 is a full base, v2.. are deltas naming only their own change
    assert(!rawLines(dir, "_MANIFEST.v1").head.startsWith("#"))
    (2 to 12).foreach { v =>
      val lines = rawLines(dir, s"_MANIFEST.v$v")
      assert(lines.head == s"#base:${v - 1}", s"v$v not delta-shaped: $lines")
      assert(lines.tail == Seq(s"+lang_aa-f$v.csv,$v"),
        s"v$v delta should carry exactly its own commit's change: $lines")
    }
    // per-commit bytes FLAT: the 12th snapshot is no bigger than the 2nd
    val s2 = java.nio.file.Files.size(dir.resolve("_MANIFEST.v2"))
    val s12 = java.nio.file.Files.size(dir.resolve("_MANIFEST.v12"))
    assert(s12 <= s2 + 4, s"per-commit bytes grew with table size: $s2 -> $s12")
    // the pointer is O(1) bytes
    assert(rawLines(dir, "_MANIFEST") == Seq("#version:12"))
    // and resolution equals the logical listing
    assert(DigestManifest.head(dir.toString) ==
      (12, (1 to 12).map(i => s"lang_aa-f$i.csv,$i")))
  }

  test("every 16th version is a FULL base re-anchoring the chain; " +
      "resolution across the boundary is exact") {
    val dir = tmp("graft_shard_base_")
    (1 to 20).foreach { i =>
      DigestManifest.publishAppend(dir.toString,
        Seq(s"lang_aa-f$i.csv,$i"))
    }
    assert(!rawLines(dir, "_MANIFEST.v16").head.startsWith("#"),
      "v16 must be a full base")
    assert(rawLines(dir, "_MANIFEST.v16").size == 16)
    assert(rawLines(dir, "_MANIFEST.v17").head == "#base:16")
    // time travel to arbitrary versions folds correctly on both sides
    assert(DigestManifest.listingAt(dir.toString, DigestManifest.MainRef, 15) ==
      (1 to 15).map(i => s"lang_aa-f$i.csv,$i"))
    assert(DigestManifest.listingAt(dir.toString, DigestManifest.MainRef, 20) ==
      (1 to 20).map(i => s"lang_aa-f$i.csv,$i"))
  }

  test("replace commits fold removals and in-place mutations (DV-style) " +
      "through the delta shape; truncate falls back to a full (empty) " +
      "snapshot because empty is smaller than its delta") {
    val dir = tmp("graft_shard_replace_")
    // enough surviving entries that the delta is smaller than the full
    // listing (on a tiny table the size heuristic rightly prefers full)
    (1 to 9).foreach { i =>
      DigestManifest.publishAppend(dir.toString,
        Seq(s"lang_aa-f$i.csv,$i"))
    }
    // DV-style in-place mutation of one entry + removal of another
    val mutated = (1 to 9).map {
      case 2 => "lang_aa-f2.csv,1,dv=0:1"
      case i => s"lang_aa-f$i.csv,$i"
    }.filterNot(_.startsWith("lang_aa-f3"))
    DigestManifest.publishReplace(dir.toString, mutated, 9)
    val v10 = rawLines(dir, "_MANIFEST.v10")
    assert(v10.head == "#base:9" &&
      v10.tail.toSet == Set("-lang_aa-f3.csv,3",
        "~lang_aa-f2.csv,2|lang_aa-f2.csv,1,dv=0:1"),
      s"replace delta wrong: $v10")
    assert(DigestManifest.head(dir.toString) == (10, mutated))
    // truncate: the full empty snapshot wins over an all-removes delta
    DigestManifest.publishReplace(dir.toString, Seq.empty, 10)
    assert(java.nio.file.Files.size(dir.resolve("_MANIFEST.v11")) == 0L)
    assert(DigestManifest.head(dir.toString) == (11, Seq.empty))
  }

  test("a listing the delta grammar cannot reproduce (reordered entries) " +
      "falls back to a FULL snapshot — correctness never depends on " +
      "delta-expressibility") {
    val dir = tmp("graft_shard_fallback_")
    DigestManifest.publish(dir.toString, Seq("a.csv,1", "b.csv,2"))
    // same entries, reversed order: fold-verify fails -> full shape
    DigestManifest.publish(dir.toString, Seq("b.csv,2", "a.csv,1"))
    val v2 = rawLines(dir, "_MANIFEST.v2")
    assert(!v2.head.startsWith("#"), s"reorder must write a full base: $v2")
    assert(DigestManifest.head(dir.toString) == (2, Seq("b.csv,2", "a.csv,1")))
  }

  test("legacy full-shape snapshots and a legacy raw-listing pointer " +
      "resolve unchanged (shape detected per file, not per table)") {
    val dir = tmp("graft_shard_legacy_")
    java.nio.file.Files.write(dir.resolve("_MANIFEST.v1"),
      "a.csv,1\nb.csv,2".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("_VERSIONS"),
      "1,1000\n".getBytes("UTF-8"))
    // a pre-shard pointer holds the listing itself
    java.nio.file.Files.write(dir.resolve("_MANIFEST"),
      "a.csv,1\nb.csv,2".getBytes("UTF-8"))
    assert(DigestManifest.head(dir.toString) == (1, Seq("a.csv,1", "b.csv,2")))
    assert(DigestManifest.listingFor(dir.toString, "_MANIFEST") ==
      Seq("a.csv,1", "b.csv,2"))
    // a commit on top of the legacy state shards from there on
    DigestManifest.publishAppend(dir.toString, Seq("c.csv,3"))
    assert(rawLines(dir, "_MANIFEST.v2").head == "#base:1")
    assert(rawLines(dir, "_MANIFEST") == Seq("#version:2"))
    assert(DigestManifest.listingFor(dir.toString, "_MANIFEST") ==
      Seq("a.csv,1", "b.csv,2", "c.csv,3"))
  }

  test("the head cache survives a cold process (cleared cache) and a " +
      "dropped-and-recreated table at the same path never serves a " +
      "stale fold") {
    val dir = tmp("graft_shard_cache_")
    (1 to 5).foreach { i =>
      DigestManifest.publishAppend(dir.toString,
        Seq(s"f$i.csv,$i"))
    }
    val hot = DigestManifest.head(dir.toString)
    DigestManifest.clearHeadCacheForTest()
    assert(DigestManifest.head(dir.toString) == hot, "cold fold differs")
    // recreate the table at the SAME path with different content
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .foreach(java.nio.file.Files.delete)
    (1 to 5).foreach { i =>
      DigestManifest.publishAppend(dir.toString,
        Seq(s"OTHER$i.csv,$i"))
    }
    assert(DigestManifest.head(dir.toString) ==
      (5, (1 to 5).map(i => s"OTHER$i.csv,$i")),
      "stale cache served the dropped table's fold")
  }

  test("branch refs shard independently: a branch commit writes a delta " +
      "against ITS OWN chain under @ref names") {
    val dir = tmp("graft_shard_branch_")
    val base = (1 to 6).map(i => s"lang_aa-file-$i.csv,$i")
    DigestManifest.publish(dir.toString, base)
    DigestManifest.publish(dir.toString, base, "dev")
    DigestManifest.publishAppend(dir.toString, Seq("lang_bb-new.csv,7"), "dev")
    assert(rawLines(dir, "_MANIFEST@dev.v2").head == "#base:1")
    assert(rawLines(dir, "_MANIFEST@dev") == Seq("#version:2"))
    assert(DigestManifest.head(dir.toString, "dev") ==
      (2, base :+ "lang_bb-new.csv,7"))
    // main untouched
    assert(DigestManifest.head(dir.toString) == (1, base))
  }
}

/** PROPERTY tests for the delta-snapshot algebra — the safety-critical
  * core of the sharded manifest. Two invariants carry the whole design:
  *
  *   1. ROUND-TRIP: for ANY two listings, folding `deltaRecords(a, b)`
  *      over `a` either reproduces `b` exactly or the writer falls back
  *      to a full snapshot (which [[graft.sources.DigestManifest]] does
  *      whenever the fold-verify fails) — so a delta on disk is always
  *      fold-exact.
  *   2. KNOWN-RECORDS: the records appends and DV commits construct for
  *      themselves (skipping the fold-verify as "true by construction")
  *      must actually reproduce their listings for ANY input — this
  *      property is what licenses the skip.
  */
class ManifestFoldPropertySpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.Prop.forAll
  import org.scalacheck.{Gen, Test => SCTest}

  private val entryGen: Gen[String] = for {
    id <- Gen.chooseNum(0, 30)
    rows <- Gen.chooseNum(1L, 999L)
    attrs <- Gen.oneOf("", ",dv=0:1", ",nmin=1,nmax=9", ",dv=2:ff,zmin=0,zmax=5")
  } yield s"f$id.csv,$rows$attrs"

  /** A listing: unique file names, arbitrary order/attrs. */
  private val listingGen: Gen[Seq[String]] =
    Gen.listOf(entryGen).map(_.groupBy(_.split(",")(0))
      .map(_._2.head).toSeq.sortBy(_.hashCode()))

  test("property: deltaRecords∘foldRecords is SET-correct for ANY listing " +
      "pair and ORDER-exact for every commit-shaped target (survivors in " +
      "base order, fresh appended) — the shapes the writer emits") {
    val m = graft.sources.DigestManifest
    def file(l: String): String = l.split(",")(0)
    val prop = forAll(listingGen, listingGen) { (a: Seq[String], b: Seq[String]) =>
      val recs = m.deltaRecords(a, b)
      val folded = m.foldRecordsUpsert(a, recs)
      val aFiles = a.map(file).toSet
      val kept = b.filter(l => aFiles(file(l)))
      val fresh = b.filterNot(l => aFiles(file(l)))
      // commit-shaped = surviving entries keep base's relative order and
      // fresh entries all come after them (how every commit path builds
      // its listing)
      val keptNamesInBaseOrder = a.map(file).filter(kept.map(file).toSet)
      val commitShaped =
        kept.map(file) == keptNamesInBaseOrder && b == kept ++ fresh
      // ALWAYS set-correct; order-exact whenever commit-shaped (the
      // fold-verify in snapshotBytes fails closed to a full snapshot for
      // anything else, e.g. reorders)
      folded.sorted == b.sorted && (!commitShaped || folded == b)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(500))
    assert(res.passed, res.status.toString)
  }

  test("property: APPEND known-records (+fresh) reproduce base ++ fresh " +
      "for any base and any fresh with unseen names — the fold-verify " +
      "skip is sound") {
    val m = graft.sources.DigestManifest
    val freshGen = Gen.listOf(Gen.chooseNum(100, 130).flatMap(i =>
      Gen.chooseNum(1L, 99L).map(r => s"g$i.csv,$r")))
      .map(_.distinctBy(_.split(",")(0)))
    val prop = forAll(listingGen, freshGen) { (base: Seq[String], fresh: Seq[String]) =>
      m.foldRecordsUpsert(base, fresh.map("+" + _)) == base ++ fresh
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(500))
    assert(res.passed, res.status.toString)
  }

  test("property: DV known-records (in-place ~mutations + appended +adds) " +
      "reproduce the mutated listing for any subset of mutated entries") {
    val m = graft.sources.DigestManifest
    val prop = forAll(listingGen, Gen.chooseNum(0L, 1L)) { (base: Seq[String], salt: Long) =>
      // mutate a pseudo-random subset in place (grow a dv attr), append one
      val recs = scala.collection.mutable.ArrayBuffer.empty[String]
      val mutated = base.map { l =>
        if ((l.hashCode + salt) % 2 == 0) {
          val nl = l + ",x=1"
          recs += s"~$l|$nl"; nl
        } else l
      }
      val adds = Seq("zz-new.csv,5")
      recs ++= adds.map("+" + _)
      m.foldRecordsUpsert(base, recs.toSeq) == mutated ++ adds
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(500))
    assert(res.passed, res.status.toString)
  }
}

/** Branch TIMESTAMP AS OF (q262 completion): a branch's own commit log
  * carries its own timestamps, and `timestampAsOf` on a `branch` read
  * resolves within that log — never main's.
  */
class BranchTimestampSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("versionAt resolves per ref, and the branch table option maps a " +
      "timestamp to the branch's own version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_branch_ts_")
    dir.toFile.deleteOnExit()
    val m = graft.sources.DigestManifest
    m.publish(dir.toString, Seq("a.csv,1"))
    m.publish(dir.toString, Seq("a.csv,1"), "dev")
    m.publishAppend(dir.toString, Seq("b.csv,2"), "dev")
    def tsOf(name: String, v: Int): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(dir.resolve(name)).asScala
        .filter(_.nonEmpty).map(_.split(","))
        .find(_(0).toInt == v).get(1).toLong
    }
    val t1 = tsOf("_VERSIONS@dev", 1)
    val t2 = tsOf("_VERSIONS@dev", 2)
    assert(m.versionAt(dir.toString, t1, "dev") == 1)
    assert(m.versionAt(dir.toString, t2, "dev") == 2)
    assert(m.versionAt(dir.toString, t2 + 1000000L, "dev") == 2)
    // main's log is independent: its only version is 1 whatever the
    // branch's clock says
    assert(m.versionAt(dir.toString, t2 + 1000000L) == 1)
    intercept[IllegalArgumentException] {
      m.versionAt(dir.toString, t1 - 1, "dev") // before the fork commit
    }
  }
}
