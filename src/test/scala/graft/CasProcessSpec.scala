package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DigestManifest

/** TWO-JVM commit-protocol integration tests: a real second process
  * ([[graft.sources.CasCommitter]]) commits against the same table
  * directory as this JVM, so the cross-process CAS claim protocol is
  * exercised where the in-process `synchronized` fast path cannot help.
  * Pins the r15 ADVICE fix: exact-slot claims mean an interleaved commit
  * from another process can never be silently skipped past, and a
  * kill-mid-claim crash leaves an abandoned slot a live writer reclaims.
  */
class CasProcessSpec extends AnyFunSuite {

  private def tmp(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Classpath for the second JVM: this repo's compiled classes plus the
    * scala-library jar (DigestManifest needs nothing else).
    */
  private def childClasspath: String = {
    def of(c: Class[_]): String =
      java.nio.file.Paths.get(c.getProtectionDomain.getCodeSource
        .getLocation.toURI).toString
    Seq(of(graft.sources.CasCommitter.getClass), of(classOf[Option[_]]))
      .mkString(java.io.File.pathSeparator)
  }

  private def runChild(args: String*): (Int, String) = {
    val cmd = (Seq("java", "-cp", childClasspath,
      "graft.sources.CasCommitter") ++ args)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = p.waitFor()
    (code, out)
  }

  test("two JVMs racing optimistic appends: every commit from both " +
      "processes survives — no lost updates, no skipped slots") {
    val dir = tmp("graft_2jvm_append_")
    val n = 12
    // child appends n entries while this JVM appends n of its own
    val pb = new ProcessBuilder((Seq("java", "-cp", childClasspath,
      "graft.sources.CasCommitter", "append", dir.toString, n.toString,
      "bb")): _*).redirectErrorStream(true)
    val child = pb.start()
    for (i <- 1 to n) {
      val f = s"lang_aa-cas$i.csv"
      java.nio.file.Files.write(dir.resolve(f),
        s"$i,aa,1\n".getBytes("UTF-8"))
      DigestManifest.publishAppend(dir.toString, Seq(s"$f,1"))
    }
    val childOut = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child failed:\n$childOut")
    val (hv, lines) = DigestManifest.head(dir.toString)
    assert(hv == 2 * n,
      s"expected ${2 * n} registered versions (one per commit), got $hv:\n$childOut")
    val files = lines.map(_.split(",")(0)).toSet
    val expected = ((1 to n).map(i => s"lang_aa-cas$i.csv") ++
      (1 to n).map(i => s"lang_bb-cas$i.csv")).toSet
    assert(files == expected,
      s"missing commits: ${expected -- files}; unexpected: ${files -- expected}")
    // every intermediate version is a registered, resolvable snapshot
    (1 to hv).foreach { v =>
      assert(java.nio.file.Files.exists(dir.resolve(s"_MANIFEST.v$v")),
        s"version $v has no snapshot")
    }
  }

  test("kill-mid-claim in another process: the abandoned slot blocks a " +
      "replace only until the orphan wait, then is reclaimed — commit " +
      "content and head stay consistent") {
    val dir = tmp("graft_2jvm_orphan_")
    java.nio.file.Files.write(dir.resolve("lang_aa-base.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-base.csv,1")) == 1)
    // the child claims v2 exactly like a live committer, then dies
    // without registering
    val (code, out) = runChild("claim-and-die", dir.toString)
    assert(code == 0 && out.contains("CLAIMED=2"), out)
    assert(DigestManifest.currentVersion(dir.toString) == 1,
      "the unregistered claim must not be visible as a commit")
    // a replace planned against v1 must wait out the abandoned claim,
    // reclaim the slot, and commit as v2 — not skip to v3, not abort
    val t0 = System.nanoTime()
    val v = DigestManifest.publishReplace(dir.toString,
      Seq("lang_aa-base.csv,1"), 1)
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(v == 2, s"replace must reclaim the abandoned slot, got v$v")
    assert(waitedMs >= 1500L,
      s"must give the (possibly live) claimant its window (waited ${waitedMs}ms)")
    assert(DigestManifest.head(dir.toString) ==
      (2, Seq("lang_aa-base.csv,1")))
  }

  test("a replace planned before another process's commit aborts loudly " +
      "instead of dropping it") {
    val dir = tmp("graft_2jvm_replace_")
    java.nio.file.Files.write(dir.resolve("lang_aa-r.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-r.csv,1")) == 1)
    val base = DigestManifest.currentVersion(dir.toString)
    // another process commits AFTER this JVM planned its replace
    val (code, out) = runChild("append", dir.toString, "1", "bb")
    assert(code == 0, out)
    intercept[java.util.ConcurrentModificationException] {
      DigestManifest.publishReplace(dir.toString, Seq.empty, base)
    }
    // nothing lost: the other process's commit is the head
    val (_, lines) = DigestManifest.head(dir.toString)
    assert(lines.map(_.split(",")(0)).contains("lang_bb-cas1.csv"),
      lines.toString)
  }

  test("two JVMs racing appends on a BRANCH ref: the per-ref claim " +
      "machinery holds across processes and main never moves") {
    val dir = tmp("graft_2jvm_branch_")
    java.nio.file.Files.write(dir.resolve("lang_aa-base.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-base.csv,1")) == 1)
    // fork the branch ref (dev v1 = main's head listing)
    DigestManifest.publish(dir.toString, DigestManifest.head(dir.toString)._2,
      "dev")
    val n = 8
    val pb = new ProcessBuilder((Seq("java", "-cp", childClasspath,
      "graft.sources.CasCommitter", "branch-append", dir.toString,
      n.toString, "bb", "dev")): _*).redirectErrorStream(true)
    val child = pb.start()
    for (i <- 1 to n) {
      val f = s"lang_aa-bcas$i.csv"
      java.nio.file.Files.write(dir.resolve(f), s"$i,aa,1\n".getBytes("UTF-8"))
      DigestManifest.publishAppend(dir.toString, Seq(s"$f,1"), "dev")
    }
    val childOut = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child failed:\n$childOut")
    val (bv, blines) = DigestManifest.head(dir.toString, "dev")
    assert(bv == 1 + 2 * n,
      s"expected ${1 + 2 * n} branch versions, got $bv:\n$childOut")
    val files = blines.map(_.split(",")(0)).toSet
    val expected = Set("lang_aa-base.csv") ++
      (1 to n).map(i => s"lang_aa-bcas$i.csv") ++
      (1 to n).map(i => s"lang_bb-bcas$i.csv")
    assert(files == expected,
      s"missing: ${expected -- files}; unexpected: ${files -- expected}")
    (1 to bv).foreach { v =>
      assert(DigestManifest.listingAt(dir.toString, "dev", v).size == v,
        s"branch version $v must resolve to its $v-entry listing")
    }
    // the branch race never touched main's log
    assert(DigestManifest.head(dir.toString) == (1, Seq("lang_aa-base.csv,1")))
  }

  test("a DV commit from another process races appends from this one: " +
      "the bitmap lands exactly once, every append survives, and the " +
      "re-planned replace never drops an interleaved commit") {
    val dir = tmp("graft_2jvm_dv_")
    java.nio.file.Files.write(dir.resolve("lang_aa-dvfile.csv"),
      "1,aa,10\n2,aa,20\n3,aa,30\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-dvfile.csv,3")) == 1)
    val n = 6
    val pb = new ProcessBuilder((Seq("java", "-cp", childClasspath,
      "graft.sources.CasCommitter", "dv-grow", dir.toString,
      "lang_aa-dvfile.csv", "1")): _*).redirectErrorStream(true)
    val child = pb.start()
    for (i <- 1 to n) {
      val f = s"lang_aa-app$i.csv"
      java.nio.file.Files.write(dir.resolve(f), s"$i,aa,1\n".getBytes("UTF-8"))
      DigestManifest.publishAppend(dir.toString, Seq(s"$f,1"))
    }
    val childOut = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"dv child failed:\n$childOut")
    assert(childOut.contains("DVGROWN="), childOut)
    val (hv, lines) = DigestManifest.head(dir.toString)
    assert(hv == 1 + n + 1, s"expected ${1 + n + 1} versions, got $hv")
    val entries = lines.map(graft.sources.ManifestEntry.parse)
    val dvEntry = entries.find(_.file == "lang_aa-dvfile.csv").get
    // the bitmap landed exactly once: position 1 masked, live count -1
    val dv = graft.sources.DvCodec.decode(dvEntry.attrs("dv"))
    assert(graft.sources.DvCodec.contains(dv, 1L) &&
      graft.sources.DvCodec.cardinality(dv) == 1L, dvEntry.line)
    assert(dvEntry.rows == 2L, dvEntry.line)
    // no interleaved append was dropped by the re-planned replace
    assert((1 to n).forall(i =>
      entries.exists(_.file == s"lang_aa-app$i.csv")), lines.toString)
    // the DV version's change record is the in-place mutation grammar
    val dvv = childOut.linesIterator.collectFirst {
      case l if l.startsWith("DVGROWN=") => l.drop(8).trim.toInt }.get
    val recs = DigestManifest.changeRecords(dir.toString,
      DigestManifest.MainRef, dvv - 1, dvv).get
    assert(recs.head.old.isDefined && recs.head.neu.isDefined &&
      recs.exists(_.neu.exists(_.contains("dv="))), recs)
  }

  test("the PARQUET plane's zero-rewrite DV race: a second JVM grows the " +
      "bitmap while this one appends parquet files — data bytes stay " +
      "byte-identical and the mask reads position-exact") {
    val dir = tmp("graft_2jvm_pqdv_")
    def writePq(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val w = new graft.sources.ParquetData.GenericRowsWriter(dir.resolve(name),
        graft.sources.ParquetData.messageType("graft_digest",
          graft.sources.DigestSink.rowSchema.fields.toSeq), 1L << 20,
        bloomCols = Seq("doc_id"))
      rows.foreach { case (id, l, n) => w.write(Array(id, l, n)) }
      w.close()
    }
    writePq("lang_aa-dvfile.parquet", Seq((1L, "aa", 10L), (2L, "aa", 20L),
      (3L, "aa", 30L)))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-dvfile.parquet,3")) == 1)
    val md5Before = java.security.MessageDigest.getInstance("MD5").digest(
      java.nio.file.Files.readAllBytes(dir.resolve("lang_aa-dvfile.parquet")))
    // the DV grow is METADATA-ONLY, so the child needs no parquet libs —
    // exactly the zero-rewrite property under test
    val pb = new ProcessBuilder((Seq("java", "-cp", childClasspath,
      "graft.sources.CasCommitter", "dv-grow", dir.toString,
      "lang_aa-dvfile.parquet", "1")): _*).redirectErrorStream(true)
    val child = pb.start()
    val n = 6
    for (i <- 1 to n) {
      val f = s"lang_aa-pq$i.parquet"
      writePq(f, Seq((100L + i, "aa", 1L)))
      DigestManifest.publishAppend(dir.toString, Seq(s"$f,1"))
    }
    val childOut = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"pq dv child failed:\n$childOut")
    assert(childOut.contains("DVGROWN="), childOut)
    val (hv, lines) = DigestManifest.head(dir.toString)
    assert(hv == 1 + n + 1, s"expected ${1 + n + 1} versions, got $hv")
    val entries = lines.map(graft.sources.ManifestEntry.parse)
    val dvEntry = entries.find(_.file == "lang_aa-dvfile.parquet").get
    val dv = graft.sources.DvCodec.decode(dvEntry.attrs("dv"))
    assert(graft.sources.DvCodec.contains(dv, 1L) &&
      graft.sources.DvCodec.cardinality(dv) == 1L, dvEntry.line)
    assert(dvEntry.rows == 2L, dvEntry.line)
    assert((1 to n).forall(i =>
      entries.exists(_.file == s"lang_aa-pq$i.parquet")), lines.toString)
    // ZERO parquet bytes rewritten by the race: per-file byte identity
    val md5After = java.security.MessageDigest.getInstance("MD5").digest(
      java.nio.file.Files.readAllBytes(dir.resolve("lang_aa-dvfile.parquet")))
    assert(java.util.Arrays.equals(md5Before, md5After),
      "the DV commit must not rewrite parquet data bytes")
    // the mask reads position-exact through the REAL parquet row reader:
    // file-global position 1 (doc_id 2) is gone, 1 and 3 survive
    val reader = new graft.sources.TableFileReader(
      graft.sources.TableFilePartition(dir.toString,
        "lang_aa-dvfile.parquet", dv = dvEntry.attrs("dv")),
      graft.sources.TableLayout.Digest())
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try while (reader.next()) {
      val r = reader.get()
      served += ((r.getLong(0), r.getLong(2)))
    } finally reader.close()
    assert(served.toSeq == Seq((1L, 10L), (3L, 30L)), served.toString)
  }
}
