package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{ChangesReaderFactory, DigestChanges, DigestManifest, DvCodec, ManifestEntry, TableLayout}

/** ONE CHANGE RECORD PER VERSION: a `#base:` delta snapshot's body is its
  * version's change record, and `_CHANGES[@ref].v<N>` exists only beside
  * a full-shaped snapshot. One delta-flavor table's history crosses every
  * record source — appends on delta versions and the v16 base, a truncate
  * and a whole overwrite, a deletion-vector growth (`~`) and the rollback
  * that shrinks it, verb-log DML, a compaction-tagged commit, a branch-ref
  * commit, and an `expire_snapshots` that rebases the oldest kept delta —
  * and the feed must read exactly what the snapshot-diff fallback plans
  * for the same table.
  */
class ChangeRecordSpec extends SparkSpec {

  private def names(dir: Path): Set[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  private def registered(dir: Path, ref: String): Seq[Int] = {
    val f = dir.resolve(if (ref == DigestManifest.MainRef) "_VERSIONS" else s"_VERSIONS@$ref")
    Files.readAllLines(f).asScala.filter(_.nonEmpty).map(_.split(",")(0).toInt).toSeq.sorted
  }

  private def suffix(ref: String) = if (ref == DigestManifest.MainRef) "" else s"@$ref"

  private def isDelta(dir: Path, ref: String, v: Int): Boolean =
    Files.readAllLines(dir.resolve(s"_MANIFEST${suffix(ref)}.v$v")).asScala
      .headOption.exists(_.startsWith("#base:"))

  private def hasRecord(dir: Path, ref: String, v: Int): Boolean =
    Files.exists(dir.resolve(s"_CHANGES${suffix(ref)}.v$v"))

  /** Every change row `(from, to]` plans, read task-side through the
    * feed's own reader factory (no Spark job), as sorted text rows.
    */
  private def feedRows(path: String, ref: String, from: Int, to: Int): Seq[String] = {
    val factory = new ChangesReaderFactory(TableLayout.Digest())
    DigestChanges.plan(path, from, to, ref).flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[String]
      try while (r.next()) out += r.get().toSeq(DigestChanges.schema).mkString(",")
      finally r.close()
      out.result()
    }.sorted
  }

  /** A copy of the table with every record gone: each `#base:` snapshot
    * rewritten as the full listing it folds to, every `_CHANGES` file
    * deleted — so its feed plans through the snapshot-diff fallback only.
    */
  private def diffOnlyCopy(dir: Path, refs: Seq[String]): Path = {
    val copy = Files.createTempDirectory("graft_chrec_diff_")
    names(dir).map(dir.resolve).filter(Files.isRegularFile(_))
      .foreach(f => Files.copy(f, copy.resolve(f.getFileName.toString)))
    for (ref <- refs; v <- registered(copy, ref) if isDelta(copy, ref, v))
      Files.write(copy.resolve(s"_MANIFEST${suffix(ref)}.v$v"),
        DigestManifest.listingAt(copy.toString, ref, v).mkString("\n").getBytes("UTF-8"))
    names(copy).filter(_.startsWith("_CHANGES")).foreach(n => Files.delete(copy.resolve(n)))
    copy
  }

  private def assertOneRecordPerVersion(dir: Path, refs: Seq[String]): Unit =
    for (ref <- refs; v <- registered(dir, ref))
      assert(hasRecord(dir, ref, v) == !isDelta(dir, ref, v),
        s"ref $ref v$v: delta=${isDelta(dir, ref, v)} record=${hasRecord(dir, ref, v)}")

  private def assertFeedMatchesDiff(dir: Path, refs: Seq[String], oldest: Int): Unit = {
    val copy = diffOnlyCopy(dir, refs)
    for (ref <- refs) {
      val vs = registered(dir, ref).filter(_ >= oldest)
      for (from <- (if (oldest == 0) 0 +: vs else vs); to <- vs if to > from) {
        val got = feedRows(dir.toString, ref, from, to)
        assert(got == feedRows(copy.toString, ref, from, to),
          s"ref $ref ($from, $to]: record feed differs from the snapshot diff")
      }
    }
  }

  test("the manifest delta is the change record: one record per version, " +
      "and the feed reads what the snapshot diff plans") {
    val dir = Files.createTempDirectory("graft_chrec_")
    val path = dir.toString
    val tbl = s"graft.ns.chrec_${System.nanoTime()}"
    val short = tbl.stripPrefix("graft.")
    spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                 |USING graft_digest TBLPROPERTIES ('path'='$path', 'delta'='true')""".stripMargin)
    var next = 0L
    def insert(): Unit = {
      next += 1
      spark.sql(s"INSERT INTO $tbl VALUES ($next, 'en', ${next * 10}), " +
        s"(${next + 1000}, 'de', ${next * 7})")
    }
    def head: Int = DigestManifest.currentVersion(path)

    insert() // v1: full, with its record
    val before = names(dir)
    insert() // v2: a delta-version append
    assert(head == 2 && isDelta(dir, DigestManifest.MainRef, 2))
    val fresh = names(dir) -- before
    assert(fresh.filter(_.startsWith("_")) == Set("_MANIFEST.v2"),
      s"a delta-version append must add one metadata file, added: $fresh")

    spark.sql(s"DELETE FROM $tbl WHERE doc_id = 1") // v3: a verb log
    // v4: a deletion-vector growth — an in-place `~` mutation (the DV
    // commit's known-records shape)
    val (hv, lines) = DigestManifest.head(path)
    val target = lines.find(_.startsWith("lang_")).orElse(
      lines.find(!_.startsWith("delta-"))).get
    val e = ManifestEntry.parse(target)
    val grown = ManifestEntry(e.file, e.rows - 1, e.attrs + ("dv" -> DvCodec.encode(
      DvCodec.add(DvCodec.decode(e.attrs.getOrElse("dv", "")), 0L)))).line
    DigestManifest.publishReplace(path, lines.map(l => if (l == target) grown else l),
      hv, knownRecords = Some(Seq(s"~$target|$grown")))
    assert(head == 4)
    // v5: the rollback's pure shrink of that bitmap
    spark.sql(s"CALL graft.system.rollback(table => '$short', version => 3)").collect()
    while (head < 17) insert() // deltas around the v16 full base
    assert(!isDelta(dir, DigestManifest.MainRef, 16) && isDelta(dir, DigestManifest.MainRef, 17))
    spark.sql(s"TRUNCATE TABLE $tbl") // v18
    insert() // v19
    spark.sql(s"INSERT OVERWRITE $tbl VALUES (7777, 'zh', 1)") // v20
    insert() // v21
    spark.sql(s"DELETE FROM $tbl WHERE doc_id = 7777") // v22: a verb log
    spark.sql(s"CALL graft.system.compact(table => '$short')").collect() // v23
    assert(DigestManifest.isCompaction(path, 23))
    insert(); insert(); insert() // v24..v26
    assert(head == 26)
    // a branch-ref commit: the fork is full, the branch append a delta
    spark.sql(s"CALL graft.system.create_branch(table => '$short', branch => 'dev')").collect()
    spark.sql(s"""CREATE TABLE ${tbl}_dev (doc_id BIGINT, lang STRING, n_chars BIGINT)
                 |USING graft_digest TBLPROPERTIES ('path'='$path', 'branch'='dev')""".stripMargin)
    spark.sql(s"INSERT INTO ${tbl}_dev VALUES (5555, 'fr', 5)")
    assert(isDelta(dir, "dev", 2))

    val refs = Seq(DigestManifest.MainRef, "dev")
    assertOneRecordPerVersion(dir, refs)
    assertFeedMatchesDiff(dir, refs, oldest = 0)

    // expiry keeps v24..v26; v24 is a delta on the expiring v23, so it is
    // rebased to a full base — and keeps its change record
    assert(isDelta(dir, DigestManifest.MainRef, 24))
    val oldestFeed = feedRows(path, DigestManifest.MainRef, 23, 24)
    assert(oldestFeed.nonEmpty)
    spark.sql(s"CALL graft.system.expire_snapshots(table => '$short', keep_last => 3)").collect()
    assert(registered(dir, DigestManifest.MainRef) == Seq(24, 25, 26))
    assert(!isDelta(dir, DigestManifest.MainRef, 24))
    assertOneRecordPerVersion(dir, refs)
    assert(feedRows(path, DigestManifest.MainRef, 23, 24) == oldestFeed)
    assertFeedMatchesDiff(dir, Seq(DigestManifest.MainRef), oldest = 24)
  }
}
