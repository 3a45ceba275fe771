package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException
import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DigestManifest, DigestPartitionedTable, EvolveField, EvolveSchema, GraftCatalog}

/** The round-14 catalog surface: schema evolution (q223), time travel
  * (q224), stored procedures (q225), partition management (q226), plus
  * the commit-log and delta-writer invariants the ADVICE items pinned.
  */
class CatalogSpec extends SparkSpec {

  private def withCatalog[T](f: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    f
  }

  private def tmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  // ---- EvolveSchema algebra (q223) ----------------------------------------

  test("q223: field ids are stable across rename and never reused after drop") {
    val (n0, f0) = EvolveSchema.fromStruct(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", LongType),
        org.apache.spark.sql.types.StructField("b", StringType))))
    assert(n0 == 3 && f0.map(_.id) == Seq(1, 2))
    // rename keeps the id — data written under the old name follows
    val (n1, f1) = EvolveSchema.apply(n0, f0, TableChange.renameColumn(Array("b"), "c"))
    assert(n1 == 3 && f1.map(f => (f.id, f.name)) == Seq((1, "a"), (2, "c")))
    // drop retires id 2; a re-added "c" gets a FRESH id (3), so old bytes
    // written under id 2 can never be served for it
    val (n2, f2) = EvolveSchema.apply(n1, f1, TableChange.deleteColumn(Array("c"), false))
    val (n3, f3) = EvolveSchema.apply(n2, f2,
      TableChange.addColumn(Array("c"), LongType))
    assert(n3 == 4 && f3.map(f => (f.id, f.name)) == Seq((1, "a"), (3, "c")))
    // serialization round-trip
    val (n4, f4) = EvolveSchema.parse(EvolveSchema.serialize(n3, f3))
    assert(n4 == n3 && f4 == f3)
  }

  test("q223: type/nullability changes and nested columns are refused") {
    val (n, f) = EvolveSchema.fromStruct(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", LongType))))
    intercept[UnsupportedOperationException] {
      EvolveSchema.apply(n, f, TableChange.updateColumnType(Array("a"), StringType))
    }
    intercept[IllegalArgumentException] {
      EvolveSchema.apply(n, f, TableChange.addColumn(Array("x", "y"), LongType))
    }
    intercept[IllegalArgumentException] { // duplicate name
      EvolveSchema.apply(n, f, TableChange.addColumn(Array("a"), LongType))
    }
    intercept[IllegalArgumentException] { // last column
      EvolveSchema.apply(n, f, TableChange.deleteColumn(Array("a"), false))
    }
  }

  test("q223: dropped-column bytes are not resurrected by re-adding the name") {
    withCatalog {
      val dir = tmp("graft_evolve_spec_")
      val tbl = s"graft.ns.evspec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (id BIGINT, v BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 100), (2, 200)")
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN v BIGINT")
      // rows written before the drop must serve NULL for the re-added id,
      // not the retired bytes
      val got = spark.table(tbl).collect().map(r => (r.getLong(0), r.isNullAt(1)))
      assert(got.sorted.toSeq == Seq((1L, true), (2L, true)),
        s"retired column bytes leaked: ${got.toSeq}")
      // column pruning reaches the V2 scan: a 1-column projection plans a
      // 1-column read, not parse-everything-project-later
      val leaf = spark.table(tbl).select("id")
        .queryExecution.executedPlan.collectLeaves().head
      assert(leaf.output.map(_.name) == Seq("id"),
        s"evolve scan not pruned: ${leaf.output}")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q223: ALTER column changes on a fixed-schema flavor are refused, " +
      "reserved properties protected") {
    withCatalog {
      val tbl = s"graft.ns.seqspec_${System.nanoTime()}"
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, h STRING, v BIGINT) USING graft_seq " +
        "TBLPROPERTIES ('rows'='10')")
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl ADD COLUMN extra BIGINT")
      }
      assert(e.getMessage.contains("graft_evolve"), e.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('provider'='x')")
      }
      assert(e2.getMessage.contains("reserved"), e2.getMessage)
      // non-reserved properties round-trip
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('note'='kept')")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  // ---- commit log + time travel (q224) ------------------------------------

  test("q224: DigestManifest publishes numbered snapshots with strictly " +
      "monotone timestamps; versionAt picks the as-of version") {
    val dir = tmp("graft_manifest_spec_").toString
    val v1 = DigestManifest.publish(dir, Seq("a.csv,1"))
    val v2 = DigestManifest.publish(dir, Seq("a.csv,1", "b.csv,2"))
    assert(v1 == 1 && v2 == 2 && DigestManifest.currentVersion(dir) == 2)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_VERSIONS"))
    val ts = scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala
      .map(_.split(",")(1).toLong).toSeq
    assert(ts(0) < ts(1), s"commit timestamps not strictly monotone: $ts")
    assert(DigestManifest.versionAt(dir, ts(0)) == 1)
    assert(DigestManifest.versionAt(dir, ts(1) + 1000000L) == 2)
    intercept[IllegalArgumentException] { // before the first commit
      DigestManifest.versionAt(dir, ts(0) - 1)
    }
    // both snapshot files exist and resolve to the distinct listings
    assert(DigestManifest.listingAt(dir, DigestManifest.MainRef, 1).size == 1)
    assert(DigestManifest.listingAt(dir, DigestManifest.MainRef, 2).size == 2)
  }

  test("q224: TIMESTAMP AS OF resolves through the commit log; snapshots " +
      "are read-only; absent versions are refused") {
    withCatalog {
      val dir = tmp("graft_tt_spec_")
      val short = s"ttspec_${System.nanoTime()}"
      val tbl = s"graft.ns.$short"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      spark.sql(s"INSERT INTO $tbl VALUES (2, 'de', 20)")
      // v1 = first insert only
      assert(spark.sql(s"SELECT COUNT(*) AS n FROM $tbl VERSION AS OF 1")
        .head().getLong(0) == 1L)
      // timestamp resolution: the micros recorded for v1 must resolve to v1
      val catalog = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      val ident = Identifier.of(Array("ns"), short)
      val ts1 = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(dir.resolve("_VERSIONS"))).asScala
        .head.split(",")(1).toLong
      val snap = catalog.loadTable(ident, ts1)
      assert(snap.name().endsWith("@v1)"), snap.name())
      // a snapshot refuses writes (immutability is the whole contract)
      intercept[UnsupportedOperationException] {
        catalog.loadTable(ident, "1")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
          .newWriteBuilder(null)
      }
      intercept[IllegalArgumentException] { catalog.loadTable(ident, "99") }
      intercept[IllegalArgumentException] { catalog.loadTable(ident, "vNaN") }
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("ADVICE r13: two MERGEs against one delta table never clobber each " +
      "other's log (job-unique delta names, manifest-order replay)") {
    withCatalog {
      val dir = tmp("graft_2merge_spec_")
      val tbl = s"graft.ns.m2spec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20), (3, 'fr', 30)")
      // merge 1: update doc 1, delete doc 2
      spark.sql(s"""MERGE INTO $tbl t USING (
                   |  SELECT 1L AS doc_id, 'en' AS lang, 11L AS n_chars, 'U' AS tag
                   |  UNION ALL SELECT 2L, 'de', 0L, 'D') u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED AND u.tag = 'U' THEN UPDATE SET n_chars = u.n_chars
                   |WHEN MATCHED AND u.tag = 'D' THEN DELETE""".stripMargin)
      // merge 2: update doc 1 AGAIN (later verb must win), insert doc 4
      spark.sql(s"""MERGE INTO $tbl t USING (
                   |  SELECT 1L AS doc_id, 'en' AS lang, 12L AS n_chars
                   |  UNION ALL SELECT 4L, 'zh', 40L) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
                   |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                   |  VALUES (u.doc_id, u.lang, u.n_chars)""".stripMargin)
      // both merges' delta files coexist in the manifest
      val manifest = DigestManifest.listingFor(dir.toString, "_MANIFEST")
      val deltaFiles = manifest.filter(_.startsWith("delta-")).map(_.split(",")(0))
      assert(deltaFiles.distinct.size == deltaFiles.size && deltaFiles.size >= 2,
        s"expected >=2 distinct delta log files, got $deltaFiles")
      val got = spark.table(tbl).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got == Seq((1L, "en", 12L), (3L, "fr", 30L), (4L, "zh", 40L)),
        s"merge-on-read view wrong after two merges: $got")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  // ---- procedures (q225) --------------------------------------------------

  test("q225: unknown procedures and non-delta targets are refused") {
    withCatalog {
      val e = intercept[Exception] {
        spark.sql("CALL graft.system.no_such_proc()").collect()
      }
      assert(e.getMessage.contains("no_such_proc") ||
        e.getMessage.contains("not found") || e.getMessage.contains("no such"),
        e.getMessage)
      val tbl = s"procspec_${System.nanoTime()}"
      spark.sql(s"CREATE TABLE graft.ns.$tbl (id BIGINT, h STRING, v BIGINT) " +
        "USING graft_seq TBLPROPERTIES ('rows'='10')")
      val e2 = intercept[Exception] {
        spark.sql(s"CALL graft.system.compact(table => 'ns.$tbl')").collect()
      }
      assert(e2.getMessage.contains("not a delta"), e2.getMessage)
      spark.sql(s"DROP TABLE graft.ns.$tbl")
    }
  }

  // ---- partition management (q226) ----------------------------------------

  test("q226: partition lifecycle — declared empties, duplicate refusal, " +
      "metadata round-trip, drop of missing returns false") {
    val dir = tmp("graft_part_spec_").toString
    val t = new DigestPartitionedTable(dir)
    def row(lang: String) = InternalRow(UTF8String.fromString(lang))
    assert(t.listPartitionIdentifiers(Array.empty, InternalRow.empty).isEmpty)
    assert(!t.dropPartition(row("xx")), "drop of a missing partition must be false")
    val props = new java.util.HashMap[String, String]()
    props.put("source", "declared")
    t.createPartition(row("tlh"), props)
    intercept[PartitionsAlreadyExistException] {
      t.createPartition(row("tlh"), new java.util.HashMap[String, String]())
    }
    assert(t.partitionExists(row("tlh")))
    assert(t.loadPartitionMetadata(row("tlh")).get("source") == "declared")
    // data-borne partitions appear alongside declared ones
    DigestManifest.publish(dir, Seq("lang_en-part-00000.csv,3"))
    val langs = t.listPartitionIdentifiers(Array.empty, InternalRow.empty)
      .map(_.getUTF8String(0).toString).toSeq.sorted
    assert(langs == Seq("en", "tlh"), langs.toString)
    assert(t.dropPartition(row("tlh")))
    assert(!t.partitionExists(row("tlh")))
  }

  test("q226: atomic multi-partition ops are all-or-nothing") {
    val dir = tmp("graft_atomic_spec_").toString
    val t = new DigestPartitionedTable(dir)
    def row(lang: String) = InternalRow(UTF8String.fromString(lang))
    def langs() = t.listPartitionIdentifiers(Array.empty, InternalRow.empty)
      .map(_.getUTF8String(0).toString).toSeq.sorted
    val empty = new java.util.HashMap[String, String]()
    t.createPartitions(Array(row("aa"), row("bb")), Array(empty, empty))
    assert(langs() == Seq("aa", "bb"))
    // one of the two already exists → NOTHING is created
    intercept[PartitionsAlreadyExistException] {
      t.createPartitions(Array(row("cc"), row("aa")), Array(empty, empty))
    }
    assert(langs() == Seq("aa", "bb"), "failed atomic create left partial state")
    // one of the two is missing → NOTHING is dropped, false returned
    assert(!t.dropPartitions(Array(row("aa"), row("zz"))))
    assert(langs() == Seq("aa", "bb"), "failed atomic drop left partial state")
    assert(t.dropPartitions(Array(row("aa"), row("bb"))) && langs().isEmpty)
  }

  test("q226: a partition drop planned against a stale head aborts, and " +
      "the interleaved append stays in the listing") {
    val dir = tmp("graft_drop_cas_spec_").toString
    val t = new DigestPartitionedTable(dir)
    def names() = DigestManifest.listingFor(dir, "_MANIFEST").map(_.takeWhile(_ != ','))
    DigestManifest.publish(dir, Seq("lang_en-part-00000.csv,3", "lang_de-part-00000.csv,2"))
    val planned = DigestManifest.head(dir)
    // an append registers between the drop's read and its publish
    DigestManifest.publishAppend(dir, Seq("lang_en-part-00001.csv,1"))
    intercept[java.util.ConcurrentModificationException] {
      t.retire(Array(org.apache.spark.sql.sources.In("lang", Array[Any]("en"))),
        always = false, planned = planned)
    }
    assert(names() == Seq("lang_en-part-00000.csv", "lang_de-part-00000.csv",
      "lang_en-part-00001.csv"), names().toString)
    // re-planned against the new head, the drop retires the appended file too
    assert(t.dropPartition(InternalRow(UTF8String.fromString("en"))))
    assert(names() == Seq("lang_de-part-00000.csv"), names().toString)
  }

  test("q230: TRUNCATE TABLE empties via one committed metadata operation " +
      "and the table stays writable") {
    withCatalog {
      val dir = tmp("graft_trunc_spec_")
      val tbl = s"graft.ns.truncspec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      assert(spark.table(tbl).count() == 2L)
      spark.sql(s"TRUNCATE TABLE $tbl")
      assert(spark.table(tbl).count() == 0L)
      assert(java.nio.file.Files.exists(dir.resolve("_MANIFEST")) &&
        DigestManifest.listingFor(dir.toString, "_MANIFEST").isEmpty,
        "truncate must publish an EMPTY manifest, not delete it")
      spark.sql(s"INSERT INTO $tbl VALUES (3, 'fr', 30)")
      assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq == Seq(3L))
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("ALTER NAMESPACE SET/UNSET properties round-trip through metadata") {
    withCatalog {
      val ns = s"nsspec_${System.nanoTime()}"
      spark.sql(s"CREATE NAMESPACE graft.$ns")
      spark.sql(s"ALTER NAMESPACE graft.$ns SET PROPERTIES ('owner_team'='ingest', 'tier'='gold')")
      val catalog = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      val meta = catalog.loadNamespaceMetadata(Array(ns))
      assert(meta.get("owner_team") == "ingest" && meta.get("tier") == "gold")
      spark.sql(s"ALTER NAMESPACE graft.$ns UNSET PROPERTIES ('tier')")
      assert(catalog.loadNamespaceMetadata(Array(ns)).get("tier") == null)
      spark.sql(s"DROP NAMESPACE graft.$ns")
    }
  }

  test("q229 × sharded manifests: expiry REBASES a kept delta snapshot " +
      "whose chain passes through an expiring version — time travel to " +
      "every kept version still resolves") {
    withCatalog {
      val dir = tmp("graft_expire_rebase_")
      val tbl = s"graft.ns.exprebase_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      (1 to 20).foreach { i =>
        spark.sql(s"INSERT INTO $tbl VALUES ($i, 'en', ${i * 10})")
      }
      // v18..v20 are deltas chained through v17 (expiring); the rebase
      // must leave v18 a resolvable FULL base
      assert(scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(dir.resolve("_MANIFEST.v18")))
        .asScala.head.startsWith("#base:17"), "precondition: v18 delta-shaped")
      spark.sql(s"CALL graft.system.expire_snapshots(table => '${tbl.stripPrefix("graft.")}', keep_last => 3)")
      assert(!java.nio.file.Files.exists(dir.resolve("_MANIFEST.v17")))
      (18 to 20).foreach { v =>
        assert(spark.sql(s"SELECT COUNT(*) AS n FROM $tbl VERSION AS OF $v")
          .head().getLong(0) == v.toLong, s"kept version $v unreadable")
      }
      assert(spark.table(tbl).count() == 20L)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q229 × compaction marks: a kept compaction version stays marked " +
      "through expiry and the feed still skips it; an expired one's mark " +
      "goes with its registration") {
    withCatalog {
      val dir = tmp("graft_expire_mark_")
      val path = dir.toString
      val short = s"ns.expmark_${System.nanoTime()}"
      val tbl = s"graft.$short"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      def compact(): Unit =
        spark.sql(s"CALL graft.system.compact(table => '$short')").collect()
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)") // v1
      spark.sql(s"INSERT INTO $tbl VALUES (2, 'de', 20)") // v2
      spark.sql(s"DELETE FROM $tbl WHERE doc_id = 1") // v3: a verb log
      compact() // v4
      spark.sql(s"INSERT INTO $tbl VALUES (3, 'fr', 30)") // v5
      spark.sql(s"DELETE FROM $tbl WHERE doc_id = 2") // v6: a verb log
      compact() // v7
      spark.sql(s"INSERT INTO $tbl VALUES (4, 'it', 40)") // v8
      assert(DigestManifest.registrations(path).filter(_.compaction).map(_.v) == Seq(4, 7))
      spark.sql(s"CALL graft.system.expire_snapshots(table => '$short', keep_last => 4)")
        .collect()
      val kept = DigestManifest.registrations(path)
      assert(kept.map(_.v) == Seq(5, 6, 7, 8))
      assert(kept.filter(_.compaction).map(_.v) == Seq(7))
      assert(DigestManifest.isCompaction(path, 7))
      assert(!DigestManifest.isCompaction(path, 4), "an expired version keeps no mark")
      // the feed skips the kept compaction (an unmarked delta-retiring
      // commit would refuse) and serves the data commits around it
      assert(graft.sources.DigestChanges.plan(path, 6, 7).isEmpty)
      def feed(from: Int, to: Int): Seq[String] = spark.read
        .format("graft.sources.DigestSink").option("path", path)
        .option("changesFrom", from.toString).option("changesTo", to.toString)
        .load().collect().map(_.toString).toSeq.sorted
      assert(feed(6, 8) == feed(7, 8))
      assert(feed(7, 8).size == 1)
      assert(spark.table(tbl).count() == 2L)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q263: 'zonemap.columns' refuses unknown columns; rewrite_sorted " +
      "refuses unknown cols and bad bucket counts") {
    withCatalog {
      val dir = tmp("graft_zs_refuse_spec_")
      val tbl = s"graft.ns.zsref_${System.nanoTime()}"
      // the catalog validates the declaration at CREATE, before
      // registering — a bad declaration refuses the DDL, never bricks a
      // registered table object
      val e1 = intercept[Exception] {
        spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                     |USING graft_digest
                     |TBLPROPERTIES ('path'='$dir', 'zonemap.columns'='lang')""".stripMargin)
      }
      assert(e1.getMessage.contains("zone-mappable"),
        s"bad zonemap.columns must refuse the CREATE: ${e1.getMessage}")
      assert(!spark.catalog.tableExists(tbl),
        "a refused CREATE must not leave a registered table")
      val tbl2 = s"graft.ns.zsok_${System.nanoTime()}"
      val dir2 = tmp("graft_zs_ok_spec_")
      spark.sql(s"""CREATE TABLE $tbl2 (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir2')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl2 VALUES (1, 'en', 10)")
      val short2 = tbl2.stripPrefix("graft.")
      val e2 = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_sorted(table => '$short2', cols => 'lang')").collect()
      }
      assert(e2.getMessage.contains("not"), e2.getMessage)
      val e3 = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_sorted(table => '$short2', cols => 'n_chars', buckets => 1)").collect()
      }
      assert(e3.getMessage.contains("buckets"), e3.getMessage)
      // the defaulted buckets form works end-to-end on a healthy table
      val r = spark.sql(s"CALL graft.system.rewrite_sorted(table => '$short2', cols => 'n_chars')").collect()
      assert(r.length == 1 && spark.table(tbl2).count() == 1L)
      spark.sql(s"DROP TABLE $tbl2")
    }
  }

  test("q228/q229: history and expiry refuse non-delta tables and bad args") {
    withCatalog {
      val tbl = s"histspec_${System.nanoTime()}"
      spark.sql(s"CREATE TABLE graft.ns.$tbl (id BIGINT, h STRING, v BIGINT) " +
        "USING graft_seq TBLPROPERTIES ('rows'='10')")
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.system.history(table => 'ns.$tbl')").collect()
      }
      assert(e.getMessage.contains("not a delta"), e.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"CALL graft.system.expire_snapshots(table => 'ns.$tbl', keep_last => 0)")
          .collect()
      }
      assert(e2.getMessage.contains("not a delta") ||
        e2.getMessage.contains("keep_last"), e2.getMessage)
      spark.sql(s"DROP TABLE graft.ns.$tbl")
    }
  }

  test("q231: view lifecycle — duplicate create refused, rename collision " +
      "refused, load of missing throws") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
    withCatalog {
      spark.sql("SELECT 1").collect() // force catalog init
      val catalog = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      val a = Identifier.of(Array("ns"), s"vspec_a_${System.nanoTime()}")
      val b = Identifier.of(Array("ns"), s"vspec_b_${System.nanoTime()}")
      def info(id: Identifier) = new ViewInfo(id, "SELECT 1 AS one", "graft",
        Array("ns"), new org.apache.spark.sql.types.StructType()
          .add("one", org.apache.spark.sql.types.IntegerType),
        Array("one"), Array.empty, Array.empty,
        java.util.Collections.emptyMap[String, String]())
      catalog.createView(info(a))
      intercept[ViewAlreadyExistsException] { catalog.createView(info(a)) }
      catalog.createView(info(b))
      intercept[ViewAlreadyExistsException] { catalog.renameView(a, b) }
      intercept[NoSuchViewException] {
        catalog.loadView(Identifier.of(Array("ns"), "vspec_missing"))
      }
      assert(catalog.dropView(a) && catalog.dropView(b))
    }
  }

  test("q232: existence default serves pre-column rows; explicit NULL after " +
      "the column stays NULL; bad default literals refused at DDL time") {
    withCatalog {
      // the table scan and the change feed (changesFrom=0) serve the same
      // rows, on both data planes
      Seq("csv", "parquet").foreach { format =>
        val dir = tmp("graft_default_spec_")
        val tbl = s"graft.ns.defspec_${System.nanoTime()}"
        spark.sql(s"""CREATE TABLE $tbl (id BIGINT)
                     |USING graft_evolve TBLPROPERTIES ('path'='$dir',
                     |  'format'='$format')""".stripMargin)
        spark.sql(s"INSERT INTO $tbl VALUES (1)")
        spark.sql(s"ALTER TABLE $tbl ADD COLUMN tag STRING DEFAULT 'web'")
        spark.sql(s"INSERT INTO $tbl VALUES (2, NULL), (3, 'cur''ated')")
        def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
          df.collect().map(r =>
            (r.getLong(0), if (r.isNullAt(1)) "<null>" else r.getString(1)))
            .sorted.toSeq
        val want = Seq((1L, "web"), (2L, "<null>"), (3L, "cur'ated"))
        val got = rows(spark.table(tbl))
        assert(got == want, s"$format: default semantics wrong: $got")
        val evSchema = graft.sources.GraftCatalog.regKeyProps("graft",
          Seq("ns", tbl.stripPrefix("graft.ns."))).get("evolveSchema")
        val feed = spark.read.format("graft.sources.EvolveSource")
          .option("path", dir.toString).option("evolveSchema", evSchema)
          .option("changesFrom", "0").load()
        assert(feed.filter("_change_type <> 'insert'").isEmpty)
        val fed = rows(feed.select("id", "tag"))
        assert(fed == want, s"$format change feed: default semantics wrong: $fed")
        if (format == "parquet") spark.sql(s"DROP TABLE $tbl")
        else {
          // a non-literal default must be refused, not silently mis-served
          val e = intercept[Exception] {
            spark.sql(s"ALTER TABLE $tbl ADD COLUMN bad BIGINT DEFAULT 'seven'")
          }
          assert(e.getMessage.toLowerCase.contains("default"), e.getMessage)
          spark.sql(s"DROP TABLE $tbl")
        }
      }
    }
  }

  test("q233: constraints round-trip through the Table contract; duplicate " +
      "add and unknown drop refused, IF EXISTS tolerated") {
    withCatalog {
      val dir = tmp("graft_check_spec_")
      val short = s"chkspec_${System.nanoTime()}"
      val tbl = s"graft.ns.$short"
      spark.sql(s"""CREATE TABLE $tbl (id BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT pos CHECK (id > 0)")
      val catalog = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
      val cs = catalog.loadTable(
        Identifier.of(Array("ns"), short)).constraints()
      assert(cs.length == 1 && cs.head.name() == "pos" && cs.head.enforced(),
        cs.mkString(","))
      val dup = intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT pos CHECK (id > 1)")
      }
      assert(dup.getMessage.toLowerCase.contains("exists") ||
        dup.getMessage.contains("pos"), dup.getMessage)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT nope")
      }
      spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT IF EXISTS nope")
      spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT pos")
      assert(catalog.loadTable(Identifier.of(Array("ns"), short))
        .constraints().isEmpty)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q234: streaming epoch commit is replay-idempotent against the manifest") {
    import graft.sources.{CommittedFile, TableCommitMessage, TableLayout, TableStreamingWrite}
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    // (layout, epoch's commit message for (epoch, rows)) per table flavor
    val flavors: Seq[(TableLayout, (Long, Long) => WriterCommitMessage)] = Seq(
      (TableLayout.Digest(), (e, rows) => TableCommitMessage(
        Seq(CommittedFile(s"lang_en-je$e-part-00000.csv", rows)))),
      (TableLayout.Evolve(Seq(EvolveField(1, "id", LongType))),
        (e, rows) => TableCommitMessage(
          Seq(CommittedFile(s"ev-je$e-part-00000.csv", rows)))))
    flavors.foreach { case (layout, msg) =>
      val dir = tmp("graft_stream_commit_spec_").toString
      val w = new TableStreamingWrite(dir, layout)
      w.commit(0L, Array(msg(0L, 3L)))
      val after1 = DigestManifest.listingFor(dir, "_MANIFEST")
      w.commit(0L, Array(msg(0L, 3L))) // epoch replay: must not duplicate the entry
      val after2 = DigestManifest.listingFor(dir, "_MANIFEST")
      assert(after1.size == 1 && after2 == after1,
        s"${layout.label}: epoch replay duplicated manifest entries: $after2")
      // a later epoch appends
      w.commit(1L, Array(msg(1L, 2L)))
      assert(DigestManifest.listingFor(dir, "_MANIFEST").size == 2)
    }
  }

  test("q235: file pruning keeps files whose names carry no lang (they may " +
      "hold any lang) and never prunes under merge-on-read") {
    import graft.sources.{TableLayout, TableScanBuilder}
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmp("graft_prune_spec_").toString
    graft.sources.DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1", "part-00001.csv,2"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "lang_de-part-00000.csv"), "1,de,10\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "lang_en-part-00000.csv"), "2,en,20\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part-00001.csv"), "3,de,30\n4,fr,40\n")
    val sb = new TableScanBuilder(dir, TableLayout.Digest())
    val residual = sb.pushFilters(Array(EqualTo("lang", "de")))
    assert(residual.length == 1, "pushed filter must STAY a residual row check")
    val parts = sb.build().toBatch.planInputPartitions()
    // the de file survives, the en file is pruned, the flat file (no lang
    // in its name) must be KEPT — its rows are only filterable per-row
    assert(parts.length == 2, s"expected de + flat file, got ${parts.toSeq}")
    // merge-on-read: pruning disabled (an UPDATE verb can change a row's
    // lang, so a base file's name no longer bounds its merged content)
    val sbM = new TableScanBuilder(dir, TableLayout.Digest(), mergeDeltas = true)
    sbM.pushFilters(Array(EqualTo("lang", "de")))
    assert(sbM.build().toBatch.planInputPartitions().length == 3,
      "merge-on-read scan must not file-prune")
  }

  test("q236: scan statistics are exact from the manifest and shrink with " +
      "pruning; runtime filtering gated off for RLO/merge-on-read scans") {
    import graft.sources.{TableLayout, TableScan, TableScanBuilder}
    import org.apache.spark.sql.sources.{EqualTo, In}
    val dir = tmp("graft_stats_spec_").toString
    graft.sources.DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,3", "lang_en-part-00000.csv,5"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "lang_de-part-00000.csv"), "1,de,10\n2,de,11\n3,de,12\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "lang_en-part-00000.csv"), "4,en,20\n" * 5)
    val full = new TableScanBuilder(dir, TableLayout.Digest()).build()
      .asInstanceOf[TableScan]
    assert(full.estimateStatistics().numRows().getAsLong == 8L)
    assert(full.estimateStatistics().sizeInBytes().getAsLong > 0L)
    // planning-time pruning shrinks the reported stats with the file list
    val sb = new TableScanBuilder(dir, TableLayout.Digest())
    sb.pushFilters(Array(EqualTo("lang", "de")))
    val pruned = sb.build().asInstanceOf[TableScan]
    assert(pruned.estimateStatistics().numRows().getAsLong == 3L)
    // runtime filtering composes with the pushed set (intersection);
    // round-19 adds doc_id (In-set probes zones + per-file blooms, q280)
    assert(pruned.filterAttributes().map(_.fieldNames().head).toSeq ==
      Seq("lang", "doc_id"))
    pruned.filter(Array[org.apache.spark.sql.sources.Filter](
      In("lang", Array("de", "en"))))
    assert(pruned.toBatch.planInputPartitions().length == 1)
    pruned.filter(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("lang", "en"))) // intersect → empty
    assert(pruned.toBatch.planInputPartitions().isEmpty)
    // the two roles where pruning must stay OFF advertise NO filterable
    // attributes, so the engine never arms a runtime filter there
    val rlo = new TableScanBuilder(dir, TableLayout.Digest(), mergeDeltas = false,
      manifestName = "_MANIFEST", allowPruning = false).build()
      .asInstanceOf[TableScan]
    assert(rlo.filterAttributes().isEmpty)
    val mor = new TableScanBuilder(dir, TableLayout.Digest(), mergeDeltas = true).build()
      .asInstanceOf[TableScan]
    assert(mor.filterAttributes().isEmpty)
  }

  test("q237: staged CTAS lifecycle — invisible until commit, abort cleans " +
      "the staged dir, create/replace preconditions and schema drift refused") {
    import graft.sources.{DigestSink, GraftStagedTable}
    import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
    val cat = new GraftCatalog
    cat.initialize("graft",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    val root = tmp("graft_stage_spec_")
    val ident = Identifier.of(Array("ns"), s"stg_${root.getFileName}")
    def props() = {
      val m = new java.util.HashMap[String, String]()
      m.put("provider", "graft_digest"); m.put("path", root.toString); m
    }
    def stageDirs(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("_stage-")).toSeq
    }
    val st = cat.stageCreate(ident, DigestSink.rowSchema, Array.empty, props())
    assert(stageDirs().size == 1) // staging is physical...
    intercept[NoSuchTableException] { cat.loadTable(ident) } // ...but invisible
    st.abortStagedChanges()
    assert(stageDirs().isEmpty, "abort must remove the staged directory")
    intercept[NoSuchTableException] { cat.loadTable(ident) }
    // commit publishes: the registry pointer now resolves to the staged dir
    cat.stageCreate(ident, DigestSink.rowSchema, Array.empty, props())
      .commitStagedChanges()
    assert(cat.loadTable(ident).name().contains(stageDirs().head))
    // preconditions checked at STAGE time, before any write runs
    intercept[TableAlreadyExistsException] {
      cat.stageCreate(ident, DigestSink.rowSchema, Array.empty, props())
    }
    intercept[NoSuchTableException] {
      cat.stageReplace(Identifier.of(Array("ns"), "never_created"),
        DigestSink.rowSchema, Array.empty, props())
    }
    // schema drift is refused at the write builder, not silently coerced
    val st2 = cat.stageReplace(ident, DigestSink.rowSchema, Array.empty, props())
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("lang", StringType)))
    intercept[IllegalArgumentException] {
      st2.newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
        override def queryId() = "spec"
        override def schema() = bad
      })
    }
    st2.abortStagedChanges()
    val _ = GraftStagedTable.Create // exhaustiveness anchor for the Mode ADT
  }

  test("q238: key-grouped partitioning is declared only when every planned " +
      "file carries its lang, and each split exposes that lang as its key") {
    import graft.sources.{DigestManifest, TableFilePartition, TableLayout, TableScan, TableScanBuilder}
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val dir = tmp("graft_spj_spec_").toString
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "lang_de-part-00000.csv"), "1,de,10\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "lang_en-part-00000.csv"), "2,en,20\n")
    val kg = new TableScanBuilder(dir, TableLayout.Digest()).build().asInstanceOf[TableScan]
      .outputPartitioning()
    assert(kg.isInstanceOf[KeyGroupedPartitioning])
    assert(kg.asInstanceOf[KeyGroupedPartitioning].keys().head.describe() == "lang")
    assert(kg.numPartitions() == 2)
    // each split's partition key IS the lang its file name carries
    assert(TableFilePartition(dir, "lang_de-part-00000.csv").partitionKey()
      .getUTF8String(0).toString == "de")
    // a flat file may hold ANY lang — clustering can no longer be declared
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1", "part-00000.csv,1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.csv"), "3,fr,30\n")
    assert(new TableScanBuilder(dir, TableLayout.Digest()).build().asInstanceOf[TableScan]
      .outputPartitioning().isInstanceOf[UnknownPartitioning])
    // merge-on-read: an UPDATE verb can rewrite a row's lang — never declared
    val morDir = tmp("graft_spj_spec_mor_").toString
    DigestManifest.publish(morDir, Seq("lang_de-part-00000.csv,1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(morDir, "lang_de-part-00000.csv"), "1,de,10\n")
    assert(new TableScanBuilder(morDir, TableLayout.Digest(), mergeDeltas = true).build()
      .asInstanceOf[TableScan].outputPartitioning()
      .isInstanceOf[UnknownPartitioning])
  }

  test("q239/q240: ordering is declared only for clustered layouts; the " +
      "manifest count pushdown takes only safe shapes and serves exact rows") {
    import graft.sources.{DigestAggPartition, DigestAggScan, DigestManifest, TableLayout, TableScan, TableScanBuilder}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, AggregateFunc, CountStar, Max}
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmp("graft_cnt_spec_").toString
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,3", "lang_de-part-00001.csv,2", "lang_en-part-00000.csv,5"))
    def builder() = new TableScanBuilder(dir, TableLayout.Digest())
    def groupedCount = new Aggregation(Array[AggregateFunc](new CountStar),
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("lang")))
    def globalCount = new Aggregation(Array[AggregateFunc](new CountStar),
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])
    // ordering: clustered layout declares lang ASC
    val ord = builder().build().asInstanceOf[TableScan].outputOrdering()
    assert(ord.length == 1 && ord.head.expression().describe() == "lang")
    // grouped count pushes and serves exact per-lang sums from the manifest
    val b1 = builder()
    assert(b1.supportCompletePushDown(groupedCount) && b1.pushAggregation(groupedCount))
    val rows1 = b1.build().asInstanceOf[DigestAggScan]
      .planInputPartitions().head.asInstanceOf[DigestAggPartition].rows
    assert(rows1 == Seq((Some("de"), 5L), (Some("en"), 5L)))
    // global count pushes even over a flat (untagged) file — manifest
    // counts cover it; the GROUP BY shape must then refuse
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,3", "lang_de-part-00001.csv,2",
      "lang_en-part-00000.csv,5", "part-00000.csv,7"))
    val b2 = builder()
    assert(b2.pushAggregation(globalCount))
    val rows2 = b2.build().asInstanceOf[DigestAggScan]
      .planInputPartitions().head.asInstanceOf[DigestAggPartition].rows
    assert(rows2 == Seq((None, 17L)))
    assert(!builder().pushAggregation(groupedCount),
      "a flat file may hold any lang: GROUP BY lang must not push")
    // a flat file also kills the ordering claim
    assert(builder().build().asInstanceOf[TableScan].outputOrdering().isEmpty)
    // non-count aggregates never push; neither does any shape after a
    // filter was pushed, in the RLO scan role, or under merge-on-read
    val maxAgg = new Aggregation(
      Array[AggregateFunc](new Max(Expressions.column("n_chars"))),
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])
    assert(!builder().pushAggregation(maxAgg))
    val filtered = builder()
    filtered.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("lang", "de")))
    assert(!filtered.pushAggregation(globalCount))
    assert(!new TableScanBuilder(dir, TableLayout.Digest(), mergeDeltas = false,
      manifestName = "_MANIFEST", allowPruning = false).pushAggregation(globalCount))
    assert(!new TableScanBuilder(dir, TableLayout.Digest(), mergeDeltas = true).pushAggregation(globalCount))
    // merge-on-read also never declares ordering
    val morDir = tmp("graft_cnt_spec_mor_").toString
    DigestManifest.publish(morDir, Seq("lang_de-part-00000.csv,1"))
    assert(new TableScanBuilder(morDir, TableLayout.Digest(), mergeDeltas = true).build()
      .asInstanceOf[TableScan].outputOrdering().isEmpty)
  }

  test("q243/q244: version admission caps micro-batches and AvailableNow " +
      "pins its drain target; the changes stream plans per-version changes; " +
      "the table stream refuses removal commits") {
    import graft.sources.{ChangesFilePartition, ChangesMicroBatchStream, ChangesReaderFactory, TableFilePartition, DigestManifest, DigestVersionOffset, TableLayout, TableMicroBatchStream}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp("graft_adm_spec_").toString
    DigestManifest.publish(dir, Seq("lang_de-part-00000.csv,1"))                // v1
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1"))                 // v2
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1",
      "lang_fr-part-00000.csv,1"))                                             // v3
    val st = new TableMicroBatchStream(dir, TableLayout.Digest(),
      DigestManifest.MainRef, Some(1))
    assert(st.getDefaultReadLimit.toString == ReadLimit.maxFiles(1).toString)
    // one version per batch: 0 → 1 under the cap, even with 3 available
    assert(st.latestOffset(DigestVersionOffset(0), ReadLimit.maxFiles(1))
      .asInstanceOf[DigestVersionOffset].v == 1)
    // AvailableNow pins the drain target BEFORE later commits
    st.prepareForTriggerAvailableNow()
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1",
      "lang_fr-part-00000.csv,1", "lang_es-part-00000.csv,1"))                 // v4
    assert(st.latestOffset().asInstanceOf[DigestVersionOffset].v == 3,
      "a pinned AvailableNow run must not chase commits past its target")
    // a batch range plans exactly the files its versions ADDED
    val parts = st.planInputPartitions(DigestVersionOffset(1), DigestVersionOffset(3))
      .map(_.asInstanceOf[TableFilePartition].file).sorted
    assert(parts.toSeq == Seq("lang_en-part-00000.csv", "lang_fr-part-00000.csv"))
    // the append-only contract: a removal commit is refused loudly
    DigestManifest.publish(dir, Seq(
      "lang_de-part-00000.csv,1", "lang_en-part-00000.csv,1"))                 // v5 removes 2
    val e = intercept[IllegalArgumentException] {
      st.planInputPartitions(DigestVersionOffset(4), DigestVersionOffset(5))
    }
    assert(e.getMessage.contains("append-only"))
    // the CHANGES stream starts at changesFrom and carries change rows —
    // including the deletes the table stream just refused (their bytes
    // must exist on disk: the history-retention gate)
    Seq("fr", "es").foreach(l => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, s"lang_$l-part-00000.csv"), s"1,$l,1\n"))
    val cs = new ChangesMicroBatchStream(dir, 2, DigestManifest.MainRef,
      new ChangesReaderFactory(TableLayout.Digest()))
    assert(cs.initialOffset().asInstanceOf[DigestVersionOffset].v == 2)
    val ch = cs.planInputPartitions(DigestVersionOffset(3), DigestVersionOffset(5))
      .map(_.asInstanceOf[ChangesFilePartition])
    assert(ch.exists(p => p.file == "lang_es-part-00000.csv" && p.changeType == "insert" && p.version == 4))
    assert(ch.exists(p => p.file == "lang_fr-part-00000.csv" && p.changeType == "delete" && p.version == 5))
    assert(ch.exists(p => p.file == "lang_es-part-00000.csv" && p.changeType == "delete" && p.version == 5))
  }

  test("q246/q247: offset/sample pushes compose with the closed-form pushes " +
      "only when the arithmetic stays exact; the sample rule is deterministic") {
    import graft.sources.{SeqScanBuilder, SeqSource}
    def b() = new SeqScanBuilder(1000L, 4, columnar = false)
    // offset + limit compose (applied in engine call order)
    val b1 = b()
    assert(b1.pushLimit(150) && b1.pushOffset(100))
    // a pushed sample excludes every closed-form push — and vice versa
    val b2 = b()
    assert(b2.pushTableSample(0.0, 0.25, false, 42L))
    assert(!b2.pushLimit(10) && !b2.pushOffset(10))
    val b3 = b()
    assert(b3.pushLimit(10) && !b3.pushTableSample(0.0, 0.25, false, 42L))
    // with-replacement sampling has no deterministic-subset meaning here
    assert(!b().pushTableSample(0.0, 0.25, true, 42L))
    // the rule is a permille hash bucket: fraction 0.25 keeps exactly the
    // ids whose bucket < 250, reproducibly
    val kept = (0L until 1000L).count(SeqSource.sampleKeep(_, 0.0, 0.25, 42L))
    assert(kept > 0 && kept < 1000)
    assert((0L until 1000L).forall(id =>
      SeqSource.sampleKeep(id, 0.0, 0.25, 42L) ==
        ((((id * 2654435761L + 42L) % 1000L) + 1000L) % 1000L < 250L)))
  }

  test("q248: join pushdown accepts exactly the closed-form shape — INNER " +
      "id=id between two plain range scans — and declines everything else") {
    import graft.sources.SeqScanBuilder
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.join.JoinType
    import org.apache.spark.sql.connector.read.SupportsPushDownJoin.ColumnWithAlias
    def b() = new SeqScanBuilder(1000L, 4, columnar = false)
    def cwa(c: String, a: String = null) = new ColumnWithAlias(c, a)
    def eq(l: String, r: String) = new Predicate("=",
      Array[Expression](Expressions.column(l), Expressions.column(r)))
    // the accepted shape: ranges intersect, the scan carries the mapping
    val left = b()
    left.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L)))
    val right = b()
    right.pushFilters(Array(org.apache.spark.sql.sources.LessThan("id", 500L)))
    assert(left.isOtherSideCompatibleForJoin(right))
    assert(left.pushDownJoin(right, JoinType.INNER_JOIN,
      Array(cwa("id"), cwa("v")), Array(cwa("id", "id_1"), cwa("h")),
      eq("id", "id_1")))
    val desc = left.build().description()
    assert(desc.contains("range=[100,500)") && desc.contains("pushedJoin="),
      s"joined scan wrong: $desc")
    // outer joins are not the closed form
    assert(!b().pushDownJoin(b(), JoinType.LEFT_OUTER_JOIN,
      Array(cwa("id")), Array(cwa("id", "id_1")), eq("id", "id_1")))
    // a non-id equality is a real join, not a range intersection
    assert(!b().pushDownJoin(b(), JoinType.INNER_JOIN,
      Array(cwa("id"), cwa("v")), Array(cwa("id", "id_1"), cwa("h")),
      eq("v", "id_1")))
    // a sampled side is no longer the dense range
    val sampled = b()
    assert(sampled.pushTableSample(0.0, 0.25, false, 42L))
    assert(!b().isOtherSideCompatibleForJoin(sampled))
    // an already-joined side never re-joins
    assert(!left.isOtherSideCompatibleForJoin(b()))
  }

  test("q249: variant shredding is all-or-nothing per offered batch; a " +
      "declined path falls back to serving the real variant binary") {
    withCatalog(())
    spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
    spark.read.format("graft.sources.VariantSource")
      .option("rows", "50").option("slices", "2").load()
      .createOrReplaceTempView("vspec")
    // $.nope has no closed form → the WHOLE batch declines and the query
    // reads through the un-shredded variant (correct, just unshredded)
    val out = spark.sql(
      "SELECT variant_get(j, '$.a', 'bigint') AS a, " +
        "variant_get(j, '$.nope', 'string') AS nope FROM vspec WHERE id < 3")
    val desc = out.queryExecution.sparkPlan.collect {
      case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => bs
    }.map(_.scan.description()).mkString
    assert(!desc.contains("shredded="), s"mixed batch must decline whole: $desc")
    val rows = out.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows.forall(_.isNullAt(1)), "missing path must read as null")
    // the servable set shreds — and the shredded values equal the
    // variant-decoded ones
    val shredded = spark.sql(
      "SELECT variant_get(j, '$.c.d', 'bigint') AS d FROM vspec WHERE id < 5")
    val sdesc = shredded.queryExecution.sparkPlan.collect {
      case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => bs
    }.map(_.scan.description()).mkString
    assert(sdesc.contains("shredded=[$.c.d]"), sdesc)
    assert(shredded.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 5L).map(graft.sources.SeqSource.vOf).sorted.toSeq)
  }

  // ---- JPEG corruption classes (q227) -------------------------------------

  test("q227: JPEG decode fails loudly on wrong magic and truncation, " +
      "round-trips geometry and near-exact solid color") {
    import graft.ops.{Multimodal, MediaRow}
    val good = Multimodal.encodeJpeg(7L, 1234L)
    val d = Multimodal.decodeJpeg(MediaRow(7L, good, "image/jpeg"))
    assert(d.width == 32 + (1234 % 32) && d.height == 32 + (7 % 24) &&
      d.channels == 3 && d.format == "jpeg")
    assert(math.abs(d.first_r - 7) <= 12 &&
      math.abs(d.first_g - (1234 % 256)) <= 12 &&
      math.abs(d.first_b - ((7 + 1234) % 256)) <= 12,
      s"solid color drifted: ${(d.first_r, d.first_g, d.first_b)}")
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeJpeg(MediaRow(1L, "not a jpeg".getBytes, "image/jpeg"))
    }
    intercept[Exception] { // truncated stream: codec must fail, not guess
      Multimodal.decodeJpeg(MediaRow(1L, good.take(good.length / 2), "image/jpeg"))
    }
  }

  // ---- q251: cross-process CAS commit protocol ----------------------------

  test("q251: a stale-base publishAppend REBASES onto the interleaved " +
      "commit — both committers survive as consecutive versions") {
    val dir = tmp("graft_cas_spec_")
    java.nio.file.Files.write(dir.resolve("lang_aa-cas1.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("lang_bb-cas2.csv"),
      "2,bb,20\n".getBytes("UTF-8"))
    // both committers plan from the SAME (empty) head — the race the JVM
    // lock cannot serialize when the committers are separate processes
    val (base0, lines0) = DigestManifest.head(dir.toString)
    assert(base0 == 0 && lines0.isEmpty)
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-cas1.csv,1")) == 1)
    val v2 = DigestManifest.publishAppend(dir.toString,
      Seq("lang_bb-cas2.csv,1")) // planned at v0: head moved to 1
    assert(v2 == 2, s"loser must rebase to the next consecutive version, got $v2")
    // nothing lost: the head holds BOTH commits, earlier first
    assert(DigestManifest.head(dir.toString) ==
      (2, Seq("lang_aa-cas1.csv,1", "lang_bb-cas2.csv,1")))
    // and each version resolves to its complete immutable listing
    assert(DigestManifest.listingAt(dir.toString, DigestManifest.MainRef, 1)
      .size == 1)
  }

  test("q251: a claimed-but-never-registered version (crashed committer) " +
      "is waited out, then its slot is RECLAIMED — the live commit lands " +
      "in it and the orphan's bytes are moved aside, never served") {
    val dir = tmp("graft_cas_orphan_spec_")
    java.nio.file.Files.write(dir.resolve("lang_aa-o1.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("lang_bb-o2.csv"),
      "2,bb,20\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-o1.csv,1")) == 1)
    // a foreign process CLAIMED v2 (CREATE_NEW won) and died before
    // registering it in _VERSIONS
    java.nio.file.Files.write(dir.resolve("_MANIFEST.v2"),
      "lang_zz-ghost.csv,9".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    val t0 = System.nanoTime()
    val v = DigestManifest.publishAppend(dir.toString,
      Seq("lang_bb-o2.csv,1"))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(v == 2, s"live commit must reclaim the abandoned claim slot, got v$v")
    assert(waitedMs >= 1500L,
      s"committer must give an in-flight claim time to register (waited ${waitedMs}ms)")
    // the orphan's content never entered the registered chain — it was
    // moved aside to a GC-sweepable `.orphan-` name, and the reclaimed
    // slot holds the live commit
    assert(DigestManifest.head(dir.toString) ==
      (2, Seq("lang_aa-o1.csv,1", "lang_bb-o2.csv,1")))
    val listing = java.nio.file.Files.list(dir)
    val movedAside = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".orphan-_MANIFEST.v2")).toSeq
    } finally listing.close()
    assert(movedAside.size == 1, s"expected one moved-aside orphan claim, got $movedAside")
    assert(java.nio.file.Files.readString(dir.resolve(movedAside.head))
      .contains("ghost"), "the moved-aside file must hold the orphan's bytes")
  }

  test("q251: publishReplace aborts on a stale base instead of dropping " +
      "the interleaved commit") {
    val dir = tmp("graft_cas_replace_spec_")
    java.nio.file.Files.write(dir.resolve("lang_aa-r1.csv"),
      "1,aa,10\n".getBytes("UTF-8"))
    assert(DigestManifest.publishAppend(dir.toString,
      Seq("lang_aa-r1.csv,1")) == 1)
    intercept[java.util.ConcurrentModificationException] {
      DigestManifest.publishReplace(dir.toString, Seq.empty, 0) // planned at v0
    }
    // the refused replace left the head untouched
    assert(DigestManifest.head(dir.toString) ==
      (1, Seq("lang_aa-r1.csv,1")))
  }

  // ---- ADVICE r14 pins ----------------------------------------------------

  test("ADVICE r14: a plain append after MERGEs preserves the delta log's " +
      "commit order in the manifest (no whole-listing re-sort)") {
    withCatalog {
      val dir = tmp("graft_appendorder_spec_")
      val tbl = s"graft.ns.aospec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      // two MERGEs updating the SAME doc: replay order decides the value
      spark.sql(s"""MERGE INTO $tbl t USING (SELECT 1L AS doc_id, 11L AS n_chars) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars""".stripMargin)
      spark.sql(s"""MERGE INTO $tbl t USING (SELECT 1L AS doc_id, 12L AS n_chars) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars""".stripMargin)
      def deltaOrder(): Seq[String] =
        DigestManifest.listingFor(dir.toString, "_MANIFEST")
          .filter(_.startsWith("delta-")).map(_.split(",")(0))
      val before = deltaOrder()
      assert(before.size == 2, s"expected two delta log files, got $before")
      // the trigger from the r14 ADVICE: a plain INSERT INTO goes through
      // DigestBatchWrite.commit, which used to re-sort the WHOLE manifest
      // — lexicographic by random job tag, scrambling replay order ~50%
      // of the time
      spark.sql(s"INSERT INTO $tbl VALUES (2, 'de', 20)")
      assert(deltaOrder() == before,
        s"append re-ordered surviving delta entries: $before -> ${deltaOrder()}")
      val v = spark.table(tbl).filter("doc_id = 1").head().getLong(2)
      assert(v == 12L, s"latest-wins replay broke after append: n_chars=$v")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("ADVICE r14 → round-20: an UNTAGGED delta-removing commit (an " +
      "overwrite over a live log) emits its NET changes — verb-touched " +
      "ids via the inverse partition, exactly once each") {
    withCatalog {
      val dir = tmp("graft_cdfrefuse_spec_")
      val tbl = s"graft.ns.cdfref_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      spark.sql(s"""MERGE INTO $tbl t USING (SELECT 1L AS doc_id, 99L AS n_chars) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars""".stripMargin)
      // an overwrite committed OVER the live log: genuinely changes data
      // while also retiring delta files — not a compaction, not tagged.
      // Round-19 refused this; round-20 represents it: the dropped log's
      // ids emit their net transition (pre-state merged at v2, post at
      // v3), and the removed base file's whole-file deletes EXCLUDE them
      spark.sql(s"INSERT OVERWRITE $tbl VALUES (7L, 'zh', 70L)")
      val v3 = spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "2").option("changesTo", "3").load()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      assert(v3 == Seq(
        (1L, "en", 99L, "delete"), // the MERGED pre-image, not the base's
        (2L, "de", 20L, "delete"),
        (7L, "zh", 70L, "insert")), v3.toString)
      // the full window replays to the live state under latest-wins
      spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString).option("changesFrom", "0").load()
        .createOrReplaceTempView("cdfref_feed")
      val replica = spark.sql(
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |    ORDER BY _commit_version DESC) AS rn
          |  FROM cdfref_feed WHERE _change_type <> 'update_preimage') x
          |WHERE rn = 1 AND _change_type <> 'delete'""".stripMargin)
        .collect().map(_.toString).sorted.toSeq
      assert(replica == spark.table(tbl).collect().map(_.toString).sorted.toSeq)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("ADVICE r14: renameTable refuses to clobber a live destination " +
      "(TableAlreadyExistsException, mirroring renameView)") {
    withCatalog {
      val a = s"graft.ns.rnsrc_${System.nanoTime()}"
      val b = s"graft.ns.rndst_${System.nanoTime()}"
      spark.sql(s"CREATE TABLE $a (id BIGINT, h STRING, v BIGINT) USING graft_seq " +
        "TBLPROPERTIES ('rows'='5')")
      spark.sql(s"CREATE TABLE $b (id BIGINT, h STRING, v BIGINT) USING graft_seq " +
        "TBLPROPERTIES ('rows'='7')")
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $a RENAME TO ${b.stripPrefix("graft.")}")
      }
      assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
      // destination metadata untouched by the refused rename
      assert(spark.table(b).count() == 7L)
      spark.sql(s"DROP TABLE $a"); spark.sql(s"DROP TABLE $b")
    }
  }

  test("ADVICE r14: graft_evolve refuses a string cell equal to the \\N " +
      "null sentinel instead of round-tripping it as NULL") {
    withCatalog {
      val dir = tmp("graft_sentinel_spec_")
      val tbl = s"graft.ns.snspec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (id BIGINT, s STRING)
                   |USING graft_evolve TBLPROPERTIES ('path'='$dir')""".stripMargin)
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $tbl VALUES (1, '\\\\N')")
      }
      assert(e.getMessage.contains("null sentinel"), e.getMessage)
      // a real NULL still round-trips as NULL
      spark.sql(s"INSERT INTO $tbl VALUES (2, NULL)")
      val got = spark.table(tbl).collect().map(r => (r.getLong(0), r.isNullAt(1)))
      assert(got.toSeq == Seq((2L, true)), got.toSeq.toString)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("a plain graft_digest CSV write refuses a lang cell that would not " +
      "read back as itself, and commits nothing") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    Seq("x,5", "\\N").foreach { lang =>
      val dir = tmp("graft_digest_cell_spec_")
      // the delimiter would shift the row to (1, "x", 5); the sentinel
      // would read back as NULL
      val e = intercept[Exception] {
        Seq((1L, lang, 7L)).toDF("doc_id", "lang", "n_chars")
          .write.format("graft.sources.DigestSink")
          .option("path", dir.toString).mode("append").save()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("graft_digest: string cell")),
        msgs.mkString(" | "))
      assert(graft.sources.DigestManifest.currentVersion(dir.toString) == 0)
      val left = java.nio.file.Files.list(dir).iterator()
        .asScala.map(_.getFileName.toString).toSeq
      assert(left.forall(n => !n.endsWith(".csv") && !n.endsWith(".staged")),
        left.toString)
    }
  }

  test("a delta-flavor UPDATE refuses a lang cell that would not read back " +
      "as itself, and commits nothing") {
    withCatalog {
      val dir = tmp("graft_delta_cell_spec_")
      val tbl = s"graft.ns.dcell_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      val v = DigestManifest.currentVersion(dir.toString)
      // the verb line `U,1,x,5,10` would fold back as (1, 'x', 5)
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $tbl SET lang = 'x,5' WHERE doc_id = 1").collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("graft_digest: string cell")),
        msgs.mkString(" | "))
      assert(DigestManifest.currentVersion(dir.toString) == v)
      val rows = spark.table(tbl).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, "en", 10L)), rows.toString)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("a branch table's stream serves the branch's commits, not main's") {
    import org.apache.spark.sql.streaming.Trigger
    withCatalog {
      val dir = tmp("graft_branch_stream_spec_")
      val tbl = s"graft.ns.bstream_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      spark.sql(s"CALL graft.system.create_branch(table => '$short', branch => 'wip')").collect()
      val tblB = s"${tbl}_wip"
      spark.sql(s"""CREATE TABLE $tblB (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'branch'='wip')""".stripMargin)
      // a commit on the branch only
      spark.sql(s"INSERT INTO $tblB VALUES (2, 'de', 20)")
      val sink = s"bstream_${System.nanoTime()}"
      val q = spark.readStream.table(tblB).writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", tmp("graft_branch_stream_ckpt_").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      def rows(t: String) = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(rows(sink) == rows(tblB), s"${rows(sink)} vs ${rows(tblB)}")
      assert(rows(sink) == Seq((1L, "en", 10L), (2L, "de", 20L)).sorted)
      spark.sql(s"DROP TABLE $tblB")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("graft_evolve INSERT rebases onto the registered head: a lagging " +
      "_MANIFEST pointer never drops a committed version") {
    withCatalog {
      val dir = tmp("graft_evolve_lost_update_")
      val tbl = s"graft.ns.evlost_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (id BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1)")
      spark.sql(s"INSERT INTO $tbl VALUES (2)")
      // another committer has registered its version but not yet flipped
      // the pointer: `_MANIFEST` still names the version before it
      val head = DigestManifest.currentVersion(dir.toString)
      java.nio.file.Files.writeString(dir.resolve("_MANIFEST"),
        s"#version:${head - 1}\n")
      spark.sql(s"INSERT INTO $tbl VALUES (3)")
      val ids = spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), ids.toString)
      assert(DigestManifest.head(dir.toString)._2.size == 3)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  // ---- deletion vectors (q252) --------------------------------------------

  test("q252: DvCodec round-trips sparse 63-bit-word bitmaps") {
    import graft.sources.DvCodec
    val positions = Seq(0L, 1L, 62L, 63L, 1000L, 12345L)
    var m = Map.empty[Long, Long]
    positions.foreach(p => m = DvCodec.add(m, p))
    assert(positions.forall(DvCodec.contains(m, _)))
    assert(!DvCodec.contains(m, 2L) && !DvCodec.contains(m, 64L) &&
      !DvCodec.contains(m, 12346L))
    assert(DvCodec.cardinality(m) == positions.size)
    val enc = DvCodec.encode(m)
    assert(DvCodec.decode(enc) == m, enc)
    assert(DvCodec.decode("") == Map.empty[Long, Long])
    // addedPositions is exactly the set difference, in position order
    val prev = Seq(0L, 62L).foldLeft(Map.empty[Long, Long])(DvCodec.add)
    assert(DvCodec.addedPositions(prev, m) == Seq(1L, 63L, 1000L, 12345L))
    assert(DvCodec.addedPositions(m, m) == Seq.empty)
  }

  test("q252: a DV delete planned against a stale base aborts loudly " +
      "instead of masking the wrong rows") {
    import graft.sources.{DvBatchWrite, DvCommitMessage, TableLayout}
    val flavors: Seq[(String, String, TableLayout)] = Seq(
      ("graft_digest", ", 'dv'='true'", TableLayout.Digest()),
      ("graft_evolve", "", TableLayout.Evolve(Seq(EvolveField(1, "doc_id", LongType),
        EvolveField(2, "lang", StringType), EvolveField(3, "n_chars", LongType)))))
    withCatalog {
      flavors.foreach { case (provider, props, layout) =>
        val dir = tmp("graft_dv_stale_")
        val tbl = s"graft.ns.dvstale_${System.nanoTime()}"
        spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                     |USING $provider TBLPROPERTIES ('path'='$dir'$props)""".stripMargin)
        spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'en', 20)")
        val stale = graft.sources.DigestManifest.currentVersion(dir.toString)
        val file = graft.sources.DigestManifest.head(dir.toString)._2.head.split(",")(0)
        // the head moves past the version the (hypothetical) scan planned on
        spark.sql(s"INSERT INTO $tbl VALUES (3, 'de', 30)")
        val bw = new DvBatchWrite(dir.toString, layout, stale, 0, 1,
          Array(0, 1, 2))
        intercept[java.util.ConcurrentModificationException] {
          bw.commit(Array(DvCommitMessage(Map(file -> Array(0L)))))
        }
        // and the winning commit is untouched
        assert(spark.table(tbl).count() == 3L)
        spark.sql(s"DROP TABLE $tbl")
      }
    }
  }

  test("q252: the append-only table stream refuses a DV commit as loudly " +
      "as a file removal") {
    import graft.sources.{TableLayout, TableMicroBatchStream}
    // (layout, the file's entry before and after its DV commit) per flavor
    val flavors: Seq[(TableLayout, String, String)] = Seq(
      (TableLayout.Digest(),
        "lang_en-part-00000.csv,3", "lang_en-part-00000.csv,2,dv=0:1"),
      (TableLayout.Evolve(Seq(EvolveField(1, "id", LongType))),
        "ev-j0-part-00000.csv,3,ids=1", "ev-j0-part-00000.csv,2,dv=0:1,ids=1"))
    flavors.foreach { case (layout, before, after) =>
      val dir = tmp("graft_dv_stream_")
      graft.sources.DigestManifest.publish(dir.toString, Seq(before))
      graft.sources.DigestManifest.publish(dir.toString, Seq(after))
      val stream = new TableMicroBatchStream(dir.toString, layout)
      val e = intercept[IllegalArgumentException] {
        stream.planInputPartitions(graft.sources.DigestVersionOffset(0),
          graft.sources.DigestVersionOffset(2))
      }
      assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    }
  }

  test("q252/q275: the change feed plans a PURE DV shrink as resurrected " +
      "inserts (rollback's inverse) and still refuses a mixed mutation") {
    val dir = tmp("graft_dv_shrink_")
    java.nio.file.Files.write(dir.resolve("lang_en-part-00000.csv"),
      java.util.List.of("1,en,10", "2,en,20"))
    graft.sources.DigestManifest.publish(dir.toString,
      Seq("lang_en-part-00000.csv,0,dv=0:3"))
    graft.sources.DigestManifest.publish(dir.toString,
      Seq("lang_en-part-00000.csv,1,dv=0:1"))
    // positions {0,1} -> {0}: position 1 resurrected — one insert row
    val parts = graft.sources.DigestChanges.plan(dir.toString, 1, 2)
    assert(parts.length == 1, parts.toSeq.toString)
    val dv = parts.head.asInstanceOf[graft.sources.ChangesDvPartition]
    assert(dv.changeType == "insert" && dv.positions == Seq(1L),
      dv.toString)
    // a mutation that grows AND shrinks in one commit is no state any
    // commit path produces — still refused, loudly
    graft.sources.DigestManifest.publish(dir.toString,
      Seq("lang_en-part-00000.csv,1,dv=0:2"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.DigestChanges.plan(dir.toString, 2, 3)
    }
    assert(e.getMessage.contains("nor a rollback's pure shrink"),
      e.getMessage)
  }

  // ---- branches + write-audit-publish (q255) ------------------------------

  test("q255: branch refs keep independent CAS-claimed commit logs in " +
      "one directory") {
    import graft.sources.DigestManifest
    val dir = tmp("graft_refs_spec_").toString
    DigestManifest.publish(dir, Seq("a.csv,1"))
    DigestManifest.publish(dir, Seq("a.csv,1", "b.csv,2"), "dev")
    DigestManifest.publishAppend(dir, Seq("c.csv,3"), "dev")
    assert(DigestManifest.currentVersion(dir) == 1)
    assert(DigestManifest.currentVersion(dir, "dev") == 2)
    assert(DigestManifest.head(dir)._2 == Seq("a.csv,1"))
    assert(DigestManifest.head(dir, "dev")._2 ==
      Seq("a.csv,1", "b.csv,2", "c.csv,3"))
    // main committing PAST the branch stays main-scoped too
    DigestManifest.publishAppend(dir, Seq("d.csv,4"))
    assert(DigestManifest.currentVersion(dir) == 2)
    assert(DigestManifest.currentVersion(dir, "dev") == 2)
    // ref names are path-safe by construction
    intercept[IllegalArgumentException](DigestManifest.mName("../evil"))
    intercept[IllegalArgumentException](DigestManifest.mName(""))
  }

  test("q255: fast_forward refuses a diverged main and leaves it untouched") {
    withCatalog {
      val dir = tmp("graft_ff_spec_")
      val tbl = s"graft.ns.ffspec_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      spark.sql(s"CALL graft.system.create_branch(table => '$short', branch => 'b')").collect()
      // a second create of the same branch is refused
      val dup = intercept[Exception] {
        spark.sql(s"CALL graft.system.create_branch(table => '$short', branch => 'b')").collect()
      }
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      // main moves past the fork → the publish is no longer a fast-forward
      spark.sql(s"INSERT INTO $tbl VALUES (2, 'de', 20)")
      val head = graft.sources.DigestManifest.head(dir.toString)
      val e = intercept[Exception] {
        spark.sql(s"""CALL graft.system.fast_forward(table => '$short',
                     |  branch => 'b', audit => 'n_chars >= 0')""".stripMargin).collect()
      }
      assert(e.getMessage.contains("not a fast-forward"), e.getMessage)
      assert(graft.sources.DigestManifest.head(dir.toString) == head)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q251/q242: an orphaned claim (crashed committer) is invisible to " +
      "the table stream and the change feed") {
    import graft.sources.{ChangesFilePartition, DigestChanges, TableFilePartition, DigestManifest, DigestVersionOffset, TableLayout, TableMicroBatchStream}
    val dir = tmp("graft_orphclaim_")
    java.nio.file.Files.write(dir.resolve("a.csv"), java.util.List.of("1,en,10"))
    java.nio.file.Files.write(dir.resolve("b.csv"), java.util.List.of("2,en,20"))
    DigestManifest.publish(dir.toString, Seq("a.csv,1"))
    // a crashed committer CLAIMED v2 (its snapshot file exists, with
    // content that must never be served) but never registered it
    java.nio.file.Files.write(dir.resolve("_MANIFEST.v2"),
      java.util.List.of("a.csv,1", "bogus.csv,999"))
    // the next live commit waits out the orphan and reclaims its slot
    DigestManifest.publishAppend(dir.toString, Seq("b.csv,1"))
    val head = DigestManifest.currentVersion(dir.toString)
    assert(head == 2, s"expected the live commit to reclaim the orphan slot, got v$head")
    // the table stream plans exactly the two REGISTERED commits' adds
    val stream = new TableMicroBatchStream(dir.toString, TableLayout.Digest())
    val files = stream.planInputPartitions(DigestVersionOffset(0),
      DigestVersionOffset(head))
      .collect { case p: TableFilePartition => p.file }
    assert(files.sorted.toSeq == Seq("a.csv", "b.csv"), files.toSeq.toString)
    // ...and so does the change feed — the orphan's bogus entry never
    // appears as a change
    val cdf = DigestChanges.plan(dir.toString, 0, head)
      .collect { case p: ChangesFilePartition => (p.file, p.changeType) }
    assert(cdf.sorted == Seq(("a.csv", "insert"), ("b.csv", "insert")),
      cdf.toString)
  }

  // ---- remove_orphan_files (q254) -----------------------------------------

  test("q254: remove_orphan_files is clean on a healthy non-history table " +
      "that has run DML (superseded snapshots naming deleted files are " +
      "history, not corruption)") {
    withCatalog {
      val dir = tmp("graft_orph_dml_spec_")
      val tbl = s"graft.ns.orphdml_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      // metadata DELETE physically drops the de file while _MANIFEST.v1
      // (a retained superseded snapshot) still names it — a healthy state
      spark.sql(s"DELETE FROM $tbl WHERE lang = 'de'")
      val r = spark.sql(s"""CALL graft.system.remove_orphan_files(
                   |  table => '${tbl.stripPrefix("graft.")}',
                   |  older_than_ms => CAST(0 AS BIGINT))""".stripMargin).collect()
      assert(r.length == 1, "procedure must succeed on a healthy post-DML table")
      assert(spark.table(tbl).count() == 1L)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("round-19: a crashed rewrite's `_stage-rewrite-*` snapshot dir under " +
      "the table path is swept by remove_orphan_files once aged; a recent " +
      "one survives") {
    withCatalog {
      val dir = tmp("graft_orph_rw_spec_")
      val short = s"ns.orphrw_${System.nanoTime()}"
      val tbl = s"graft.$short"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      // simulate a rewrite that crashed between snapshot and overwrite:
      // the staged full-table copy is left under the table's own path
      val dead = dir.resolve("_stage-rewrite-deadbeef")
      java.nio.file.Files.createDirectories(dead)
      val leftover = dead.resolve("part-00000.parquet")
      java.nio.file.Files.writeString(leftover, "stale snapshot bytes")
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L)
      java.nio.file.Files.setLastModifiedTime(leftover, old)
      java.nio.file.Files.setLastModifiedTime(dead, old)
      val fresh = dir.resolve("_stage-rewrite-feedf00d")
      java.nio.file.Files.createDirectories(fresh)
      java.nio.file.Files.writeString(fresh.resolve("part-00000.parquet"), "x")
      spark.sql(s"""CALL graft.system.remove_orphan_files(
                   |  table => '$short',
                   |  older_than_ms => CAST(3600000 AS BIGINT))""".stripMargin)
        .collect()
      assert(!java.nio.file.Files.exists(dead),
        "aged crashed-rewrite staging dir must be swept")
      assert(java.nio.file.Files.exists(fresh),
        "a recent staging dir (rewrite possibly in flight) must survive")
      assert(spark.table(tbl).count() == 2L, "table content untouched")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("round-19: sharded whole-file change emission is row-identical to " +
      "the single-task plan on both table families (parquet plane)") {
    withCatalog {
      import graft.sources.DigestChanges
      def feedRows(dir: String, extra: Map[String, String] = Map.empty)
          : Seq[String] = {
        var r = spark.read.format("graft.sources.DigestSink")
          .option("path", dir).option("changesFrom", "0")
        extra.foreach { case (k, v) => r = r.option(k, v) }
        r.load().collect().map(_.toString).toSeq.sorted
      }
      // digest delta flavor: a 1000-row parquet file removed by overwrite
      val dir = tmp("graft_shardfeed_")
      val tbl = s"graft.ns.shfeed_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir',
                   |  'delta'='true', 'format'='parquet',
                   |  'parquet.rowgroup.rows'='64')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT id, 'en', id * 3 FROM range(1000)")
      spark.sql(s"INSERT OVERWRITE $tbl VALUES (7777L, 'zh', 1L)")
      val single = feedRows(dir.toString)
      DigestChanges.withFileShardRows(128) {
        val sharded = feedRows(dir.toString)
        assert(sharded == single,
          s"sharded emission diverged: ${sharded.size} vs ${single.size} rows")
        assert(single.count(_.contains("delete")) == 1000)
      }
      spark.sql(s"DROP TABLE $tbl")
      // evolve flavor through its new truncate-overwrite: same contract
      val edir = tmp("graft_shardfeed_ev_")
      val etbl = s"graft.ns.shfeedev_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $etbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$edir',
                   |  'format'='parquet', 'parquet.rowgroup.rows'='64')""".stripMargin)
      spark.sql(s"INSERT INTO $etbl SELECT id, 'de', id FROM range(900)")
      spark.sql(s"INSERT OVERWRITE $etbl VALUES (1L, 'fr', 2L)")
      val evSchema = graft.sources.GraftCatalog.regKeyProps("graft",
        Seq("ns", etbl.stripPrefix("graft.ns."))).get("evolveSchema")
      def evRows(): Seq[String] = spark.read
        .format("graft.sources.EvolveSource")
        .option("path", edir.toString).option("evolveSchema", evSchema)
        .option("changesFrom", "0").load()
        .collect().map(_.toString).toSeq.sorted
      val evSingle = evRows()
      DigestChanges.withFileShardRows(128) {
        assert(evRows() == evSingle,
          "evolve sharded emission diverged from the single-task plan")
      }
      spark.sql(s"DROP TABLE $etbl")
    }
  }

  test("q254: remove_orphan_files sweeps AGED unregistered CAS claims and " +
      "moved-aside orphan bytes, but keeps recent ones") {
    withCatalog {
      val dir = tmp("graft_orph_claim_spec_")
      val tbl = s"graft.ns.orphclaim_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      // a crashed committer's claim (never registered) plus a moved-aside
      // orphan and a leaked pointer tmp — aged well past any window
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L)
      Seq("_MANIFEST.v9", ".orphan-_MANIFEST.v9-deadbeef", ".manifest-tmp-123")
        .foreach { n =>
          java.nio.file.Files.write(dir.resolve(n),
            "lang_zz-ghost.csv,9".getBytes("UTF-8"))
          java.nio.file.Files.setLastModifiedTime(dir.resolve(n), old)
        }
      // and a RECENT unregistered claim — an in-flight committer's, kept
      java.nio.file.Files.write(dir.resolve("_MANIFEST.v10"),
        "lang_yy-inflight.csv,1".getBytes("UTF-8"))
      spark.sql(s"""CALL graft.system.remove_orphan_files(
                   |  table => '${tbl.stripPrefix("graft.")}',
                   |  older_than_ms => CAST(60000 AS BIGINT))""".stripMargin).collect()
      assert(!java.nio.file.Files.exists(dir.resolve("_MANIFEST.v9")),
        "aged unregistered claim must be swept")
      assert(!java.nio.file.Files.exists(dir.resolve(".orphan-_MANIFEST.v9-deadbeef")),
        "moved-aside orphan bytes must be swept")
      assert(!java.nio.file.Files.exists(dir.resolve(".manifest-tmp-123")),
        "leaked pointer tmp must be swept")
      assert(java.nio.file.Files.exists(dir.resolve("_MANIFEST.v10")),
        "recent unregistered claim is an in-flight committer's — kept")
      assert(spark.table(tbl).count() == 1L)
      java.nio.file.Files.delete(dir.resolve("_MANIFEST.v10"))
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q254: remove_orphan_files refuses loudly when a snapshot-referenced " +
      "file is already missing (corruption detection, not silent GC)") {
    withCatalog {
      val dir = tmp("graft_orph_spec_")
      val tbl = s"graft.ns.orphspec_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      val referenced = graft.sources.DigestManifest.head(dir.toString)
        ._2.head.split(",")(0)
      java.nio.file.Files.delete(dir.resolve(referenced))
      val e = intercept[Exception] {
        spark.sql(s"""CALL graft.system.remove_orphan_files(
                     |  table => '${tbl.stripPrefix("graft.")}',
                     |  older_than_ms => CAST(0 AS BIGINT))""".stripMargin).collect()
      }
      assert(e.getMessage.contains("already corrupt"), e.getMessage)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  // ---- manifest zone maps (q253) ------------------------------------------

  test("q253: manifest entries round-trip attrs and legacy 2-field lines " +
      "still parse") {
    // legacy line: no attrs — older manifests keep parsing unchanged
    assert(graft.sources.ManifestEntry.parse("part-00001.csv,42") ==
      graft.sources.ManifestEntry("part-00001.csv", 42))
    // attrs ride behind the two frozen positions, serialized key-sorted
    val e = graft.sources.ManifestEntry("lang_en-part-00000.csv", 5,
      Map("zmin" -> "10", "zmax" -> "99"))
    assert(e.line == "lang_en-part-00000.csv,5,zmax=99,zmin=10")
    assert(graft.sources.ManifestEntry.parse(e.line) == e)
    // legacy consumers index only the frozen positions
    assert(e.line.split(",")(0) == "lang_en-part-00000.csv")
    assert(e.line.split(",")(1).toLong == 5L)
    // a malformed attribute is refused loudly, never silently dropped
    val ex = intercept[IllegalArgumentException] {
      graft.sources.ManifestEntry.parse("f.csv,1,bogus")
    }
    assert(ex.getMessage.contains("malformed manifest attribute"))
  }

  test("q253: zone maps prune range scans, keep zone-less files, and are " +
      "disabled for the group-based row-level rewrite scan role") {
    val dir = tmp("graft_zm_spec_")
    // two zoned files + one legacy entry with no zone map
    java.nio.file.Files.write(dir.resolve("_MANIFEST"), java.util.List.of(
      "part-00000.csv,3,zmax=9,zmin=0",
      "part-00001.csv,3,zmax=199,zmin=100",
      "part-00002.csv,3"))
    def planned(allowPruning: Boolean): Int = {
      val b = new graft.sources.TableScanBuilder(dir.toString,
        graft.sources.TableLayout.Digest(), false,
        "_MANIFEST", allowPruning)
      b.pushFilters(Array(org.apache.spark.sql.sources.LessThan("doc_id",
        java.lang.Long.valueOf(50L))))
      b.build().toBatch.planInputPartitions().length
    }
    // doc_id < 50 skips the [100,199] file; the zone-less file is ALWAYS
    // kept — absence of metadata must never drop data
    assert(planned(allowPruning = true) == 2)
    // the group-based rewrite scan role never prunes: every file survives
    assert(planned(allowPruning = false) == 3)
  }

  test("q257: zone maps prune independently per column and conjoin") {
    val dir = tmp("graft_zn_spec_")
    java.nio.file.Files.write(dir.resolve("_MANIFEST"), java.util.List.of(
      "part-00000.csv,3,nmax=99,nmin=10,zmax=9,zmin=0",
      "part-00001.csv,3,nmax=500,nmin=300,zmax=19,zmin=10",
      "part-00002.csv,3,nmax=80,nmin=20,zmax=29,zmin=20"))
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int = {
      val b = new graft.sources.TableScanBuilder(dir.toString,
        graft.sources.TableLayout.Digest())
      b.pushFilters(fs.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    // n_chars < 100 skips the [300,500] file
    assert(planned(LessThan("n_chars", java.lang.Long.valueOf(100L))) == 2)
    // conjunction across columns: n_chars < 100 AND doc_id >= 15 keeps
    // only the file whose zones satisfy BOTH
    assert(planned(LessThan("n_chars", java.lang.Long.valueOf(100L)),
      GreaterThanOrEqual("doc_id", java.lang.Long.valueOf(15L))) == 1)
  }

  test("q275: rollback refuses non-delta tables, the current head, and " +
      "expired versions; a branch rolls back without moving main") {
    withCatalog {
      // non-history flavor: the files a restore needs may be deleted
      val dirP = tmp("graft_rb_plain_spec_")
      val tblP = s"graft.ns.rbplain_${System.nanoTime()}"
      spark.sql(s"""CREATE TABLE $tblP (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dirP')""".stripMargin)
      spark.sql(s"INSERT INTO $tblP VALUES (1, 'en', 10)")
      val eP = intercept[Exception] {
        spark.sql(s"CALL graft.system.rollback(table => '${tblP.stripPrefix("graft.")}', " +
          "version => 1)").collect()
      }
      assert(eP.getMessage.contains("not a delta"), eP.getMessage)

      val dir = tmp("graft_rb_spec_")
      val tbl = s"graft.ns.rb_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10)")
      spark.sql(s"INSERT INTO $tbl VALUES (2, 'de', 20)")
      // the head is not an EARLIER version
      val eHead = intercept[Exception] {
        spark.sql(s"CALL graft.system.rollback(table => '$short', version => 2)").collect()
      }
      assert(eHead.getMessage.contains("EARLIER"), eHead.getMessage)
      // an expired snapshot cannot be restored — its pointer is gone
      spark.sql(s"INSERT INTO $tbl VALUES (3, 'fr', 30)")
      spark.sql(s"CALL graft.system.expire_snapshots(table => '$short', keep_last => 2)").collect()
      val eExp = intercept[Exception] {
        spark.sql(s"CALL graft.system.rollback(table => '$short', version => 1)").collect()
      }
      assert(eExp.getMessage.contains("expired"), eExp.getMessage)

      // branch rollback: only the branch ref moves
      spark.sql(s"CALL graft.system.create_branch(table => '$short', branch => 'wip')").collect()
      val tblB = s"${tbl}_wip"
      spark.sql(s"""CREATE TABLE $tblB (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'branch'='wip')""".stripMargin)
      spark.sql(s"INSERT INTO $tblB VALUES (4, 'es', 40)")
      spark.sql(s"INSERT INTO $tblB VALUES (5, 'zh', 50)")
      val mainHead = DigestManifest.currentVersion(dir.toString)
      val bHead = DigestManifest.currentVersion(dir.toString, "wip")
      spark.sql(s"CALL graft.system.rollback(table => '$short', " +
        s"version => ${bHead - 1}, branch => 'wip')").collect()
      assert(spark.table(tblB).count() == spark.table(tbl).count() + 1,
        "branch rollback must undo exactly the last branch insert")
      assert(DigestManifest.currentVersion(dir.toString) == mainHead,
        "a branch rollback must not move main")

      // rollback to a NAMED PIN: the tag supplies version AND ref
      spark.sql(s"CALL graft.system.create_tag(table => '$short', " +
        s"tag => 'good', version => ${bHead - 1}, branch => 'wip')").collect()
      spark.sql(s"INSERT INTO $tblB VALUES (9, 'ko', 90)")
      spark.sql(s"CALL graft.system.rollback(table => '$short', tag => 'good')")
        .collect()
      assert(spark.table(tblB).filter("doc_id = 9").count() == 0,
        "tag rollback must restore the pinned branch state")
      val eBoth = intercept[Exception] {
        spark.sql(s"CALL graft.system.rollback(table => '$short', " +
          "version => 1, tag => 'good')").collect()
      }
      assert(eBoth.getMessage.contains("not both"), eBoth.getMessage)
      val eNone = intercept[Exception] {
        spark.sql(s"CALL graft.system.rollback(table => '$short')").collect()
      }
      assert(eNone.getMessage.contains("not neither"), eNone.getMessage)
      spark.sql(s"DROP TABLE $tbl"); spark.sql(s"DROP TABLE $tblB")
      spark.sql(s"DROP TABLE $tblP")
    }
  }

  test("q277: rewrite_zorder refuses one column, unknown columns, and bad " +
      "buckets; the preserved-layout declaration never leaks past the call") {
    withCatalog {
      val dir = tmp("graft_zo_spec_")
      val tbl = s"graft.ns.zo_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20), (3, 'fr', 30)")
      val e1 = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_zorder(table => '$short', cols => 'doc_id')").collect()
      }
      assert(e1.getMessage.contains("rewrite_sorted"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_zorder(table => '$short', cols => 'doc_id,lang')").collect()
      }
      assert(e2.getMessage.contains("zone-mapped"), e2.getMessage)
      val e3 = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_zorder(table => '$short', " +
          "cols => 'doc_id,n_chars', buckets => 1)").collect()
      }
      assert(e3.getMessage.contains("buckets"), e3.getMessage)
      // healthy call: content preserved, tagged content-preserving, and
      // the layout declaration is consumed — a refused NEXT call must not
      // inherit it, and a plain insert afterwards lang-clusters as always
      val before = spark.table(tbl).orderBy("doc_id").collect().toSeq
      val r = spark.sql(s"CALL graft.system.rewrite_zorder(table => '$short', " +
        "cols => 'doc_id,n_chars', buckets => 2)").collect()
      assert(r.length == 1 && r(0).getLong(1) == 3L, r.toSeq.toString)
      assert(spark.table(tbl).orderBy("doc_id").collect().toSeq == before,
        "z-order must preserve content exactly")
      assert(!graft.sources.DigestSink.preservedLayoutFor(dir.toString),
        "the preserved-layout declaration must be consumed by the call")
      assert(DigestManifest.isCompaction(dir.toString,
        DigestManifest.currentVersion(dir.toString)),
        "the z-order rewrite must be tagged content-preserving")
      spark.sql(s"INSERT INTO $tbl VALUES (4, 'en', 40)")
      val enFiles = DigestManifest.listingFor(dir.toString, "_MANIFEST")
        .filter(_.nonEmpty).map(_.split(",")(0)).filter(_.startsWith("lang_en-"))
      assert(enFiles.nonEmpty, "the post-call insert must lang-cluster again")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q275 x DV: rolling back across a deletion-vector growth is a pure " +
      "shrink — the feed emits the RESURRECTED rows as inserts with payload") {
    withCatalog {
      val dir = tmp("graft_rbdv_spec_")
      val tbl = s"graft.ns.rbdv_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'dv'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'en', 20), " +
        "(3, 'de', 30), (4, 'de', 40)")
      spark.sql(s"DELETE FROM $tbl WHERE doc_id IN (2, 3)")
      assert(spark.table(tbl).count() == 2)
      val r = spark.sql(s"CALL graft.system.rollback(table => '$short', version => 1)")
        .collect()
      assert(r.length == 1 && r(0).getLong(1) == 3L, r.toSeq.toString)
      // the masked rows are live again
      assert(spark.table(tbl).count() == 4)
      // the rollback version's change rows are EXACTLY the resurrected
      // positions, as inserts, with their payload read back from the file
      val inverse = spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "2").option("changesTo", "3")
        .load().collect()
      assert(inverse.length == 2 &&
        inverse.forall(_.getString(3) == "insert") &&
        inverse.map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L) &&
        inverse.map(_.getLong(2)).sorted.toSeq == Seq(20L, 30L),
        inverse.toSeq.toString)
      // the whole window reads end-to-end: growth (delete) then shrink
      // (insert) — no refusal anywhere
      val all = spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "0").option("changesTo", "3")
        .load()
      assert(all.filter("_change_type = 'delete'").count() == 2 &&
        all.filter("_change_type = 'insert'").count() == 6)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("q284: a branch-propped DIGEST table refuses the clustering " +
      "rewrites (only the evolve flavor stages WAP rewrites); the evolve " +
      "branch rewrite tags its own ref, never main's") {
    withCatalog {
      val dir = tmp("graft_wapref_spec_")
      val tbl = s"graft.ns.wapref_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      spark.sql(s"CALL graft.system.create_branch(table => '$short', " +
        "branch => 'wip')").collect()
      val tblB = s"${tbl}_wip"
      spark.sql(s"""CREATE TABLE $tblB (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir',
                   |  'delta'='true', 'branch'='wip')""".stripMargin)
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.system.rewrite_sorted(table => '${short}_wip', " +
          "cols => 'doc_id', buckets => 2)").collect()
      }
      assert(e.getMessage.contains("branch view"), e.getMessage)
      // evolve branch rewrite: the content-preserving tag lands on the
      // BRANCH ref — main's next replace must not inherit it
      val edir = tmp("graft_waptag_spec_")
      val etbl = s"graft.ns.waptag_${System.nanoTime()}"
      val eshort = etbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $etbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$edir',
                   |  'zonemap.columns'='doc_id')""".stripMargin)
      spark.sql(s"INSERT INTO $etbl VALUES (1, 'en', 10), (2, 'de', 20)")
      spark.sql(s"CALL graft.system.create_branch(table => '$eshort', " +
        "branch => 'm')").collect()
      val etblB = s"${etbl}_m"
      spark.sql(s"""CREATE TABLE $etblB (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$edir',
                   |  'branch'='m', 'zonemap.columns'='doc_id')""".stripMargin)
      spark.sql(s"CALL graft.system.rewrite_sorted(table => '${eshort}_m', " +
        "cols => 'doc_id', buckets => 2)").collect()
      val bv = DigestManifest.currentVersion(edir.toString, "m")
      assert(DigestManifest.isCompaction(edir.toString, bv, "m"),
        "the staged rewrite must be tagged on the BRANCH ref")
      // main untouched, and main's next commit is NOT content-preserving
      val mv0 = DigestManifest.currentVersion(edir.toString)
      spark.sql(s"INSERT INTO $etbl VALUES (3, 'fr', 30)")
      val mv1 = DigestManifest.currentVersion(edir.toString)
      assert(mv1 == mv0 + 1 &&
        !DigestManifest.isCompaction(edir.toString, mv1),
        "a main commit after a branch rewrite must not inherit the tag")
      spark.sql(s"DROP TABLE $tbl"); spark.sql(s"DROP TABLE $tblB")
      spark.sql(s"DROP TABLE $etbl"); spark.sql(s"DROP TABLE $etblB")
    }
  }

  test("probe_key: metadata-only existence — a present key probes true " +
      "(no false negatives), a far-off key proves absence, and the " +
      "evolve flavor refuses with a pointer to its own scan") {
    withCatalog {
      val dir = tmp("graft_probe_spec_")
      val tbl = s"graft.ns.probe_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir',
                   |  'bloom.columns'='doc_id')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1, 'en', 10), (2, 'de', 20)")
      spark.sql(s"INSERT INTO $tbl VALUES (77, 'fr', 30)")
      val hit = spark.sql(s"CALL graft.system.probe_key(table => '$short', " +
        "key => CAST(77 AS BIGINT))").collect()
      assert(hit.length == 1 && hit(0).getBoolean(0),
        s"a present key must probe true: ${hit.toSeq}")
      // every committed file is under the bloom saturation gate, so each
      // entry carries its filter and a far-off key is PROVABLY absent
      val miss = spark.sql(s"CALL graft.system.probe_key(table => '$short', " +
        "key => CAST(987654321099 AS BIGINT))").collect()
      assert(miss.length == 1 && !miss(0).getBoolean(0),
        s"a never-inserted key must prove absence: ${miss.toSeq}")
      // evolve flavor: the probe resolves a DECLARED bloom column by
      // name to its id-addressed attr — and keeps resolving across a
      // RENAME (ids are stable; names are not)
      val edir = tmp("graft_probe_ev_")
      val etbl = s"graft.ns.probev_${System.nanoTime()}"
      val eshort = etbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $etbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_evolve TBLPROPERTIES ('path'='$edir',
                   |  'bloom.columns'='doc_id')""".stripMargin)
      spark.sql(s"INSERT INTO $etbl VALUES (5, 'en', 50)")
      val eHit = spark.sql(s"CALL graft.system.probe_key(table => '$eshort', " +
        "key => CAST(5 AS BIGINT))").collect()
      assert(eHit.length == 1 && eHit(0).getBoolean(0), eHit.toSeq.toString)
      val eMiss = spark.sql(s"CALL graft.system.probe_key(table => '$eshort', " +
        "key => CAST(123456789012 AS BIGINT))").collect()
      assert(eMiss.length == 1 && !eMiss(0).getBoolean(0), eMiss.toSeq.toString)
      // an undeclared column refuses with the declared set named
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.system.probe_key(table => '$eshort', " +
          "key => CAST(1 AS BIGINT), column => 'n_chars')").collect()
      }
      assert(e.getMessage.contains("not a declared bloom column"), e.getMessage)
      // RENAME: the probe follows the name to the SAME stable field id.
      // Declared-attr columns rename via undeclare → rename → redeclare
      // (the validation refuses a declaration naming a column the
      // current schema lacks, in either order)
      spark.sql(s"ALTER TABLE $etbl UNSET TBLPROPERTIES ('bloom.columns')")
      spark.sql(s"ALTER TABLE $etbl RENAME COLUMN doc_id TO document_id")
      spark.sql(s"ALTER TABLE $etbl SET TBLPROPERTIES " +
        "('bloom.columns'='document_id')")
      val eRen = spark.sql(s"CALL graft.system.probe_key(table => '$eshort', " +
        "key => CAST(5 AS BIGINT), column => 'document_id')").collect()
      assert(eRen.length == 1 && eRen(0).getBoolean(0),
        "the probe must keep answering across a rename (id-addressed attr)")
      spark.sql(s"DROP TABLE $tbl"); spark.sql(s"DROP TABLE $etbl")
    }
  }

  test("q283: rollback across an UNCOMPACTED MERGE emits the net inverse " +
      "verbs — no refusal, and a latest-wins replica converges to the " +
      "restored state") {
    withCatalog {
      val dir = tmp("graft_rbdml_spec_")
      val tbl = s"graft.ns.rbdml_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1,'en',10),(2,'en',20),(3,'de',30),(4,'de',40)")
      // the bad DML to undo: one MERGE = one live verb log (U, D, I)
      spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
           |  (2L,'en',999L), (3L,'de',0L), (9L,'fr',90L)
           |  AS s(doc_id, lang, n_chars)) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.n_chars = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
      assert(spark.table(tbl).collect().map(_.toString).sorted.toSeq ==
        Seq("[1,en,10]", "[2,en,999]", "[4,de,40]", "[9,fr,90]"))
      // rollback ACROSS the live verb log: no refusal, no compact first
      val r = spark.sql(s"CALL graft.system.rollback(table => '$short', " +
        "version => 1)").collect()
      assert(r.length == 1 && r(0).getLong(1) == 3L, r.toSeq.toString)
      assert(spark.table(tbl).collect().map(_.toString).sorted.toSeq ==
        Seq("[1,en,10]", "[2,en,20]", "[3,de,30]", "[4,de,40]"),
        "rollback must restore the pre-MERGE state")
      // the rollback version's batch is the MERGE's exact net inverse:
      // I(9)→delete with the I's payload, D(3)→insert from the restored
      // listing, U(2)→the inverse update pair; untouched ids (1, 4) are
      // NOT re-emitted (no whole-file noise — the commit is O(changes))
      val inv = spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "2").option("changesTo", "3")
        .load().collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(inv == Seq(
        (2L, "en", 20L, "update_postimage"),
        (2L, "en", 999L, "update_preimage"),
        (3L, "de", 30L, "insert"),
        (9L, "fr", 90L, "delete")), inv.toString)
      // the SHARDED inverse plan (one slice of the sorted id space per
      // task) emits the identical row set
      graft.sources.DigestChanges.withFileShardRows(1) {
        val sharded = spark.read.format("graft.sources.DigestSink")
          .option("path", dir.toString)
          .option("changesFrom", "2").option("changesTo", "3")
          .load().collect().map(r => (r.getLong(0), r.getString(1),
            r.getLong(2), r.getString(3))).sortBy(t => (t._1, t._4)).toSeq
        assert(sharded == inv,
          "sharded inverse emission must match the single-task plan")
      }
      // latest-wins replica over the full window converges to the table
      spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "0").option("changesTo", "3")
        .load().createOrReplaceTempView("rbdml_feed")
      val replica = spark.sql(
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |    ORDER BY _commit_version DESC) AS rn
          |  FROM rbdml_feed WHERE _change_type <> 'update_preimage') x
          |WHERE rn = 1 AND _change_type <> 'delete'""".stripMargin)
        .collect().map(_.toString).sorted.toSeq
      assert(replica == spark.table(tbl).collect().map(_.toString).sorted.toSeq,
        "the latest-wins replica must converge to the restored state")
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("ADVICE r20: rollback ACROSS a compaction — a commit that both " +
      "drops a live verb log and RE-ADDS a pre-compact one emits each " +
      "touched id exactly once (inverse covers it; the re-added log's " +
      "replay is suppressed for those ids)") {
    withCatalog {
      val dir = tmp("graft_rbxc_spec_")
      val tbl = s"graft.ns.rbxc_${System.nanoTime()}"
      val short = tbl.stripPrefix("graft.")
      spark.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, lang STRING, n_chars BIGINT)
                   |USING graft_digest TBLPROPERTIES ('path'='$dir', 'delta'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $tbl VALUES (1,'en',10),(2,'de',20)") // v1
      spark.sql(s"""MERGE INTO $tbl t USING (SELECT 1L AS doc_id, 99L AS n_chars) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars""".stripMargin) // v2: log A (U 1→99)
      spark.sql(s"CALL graft.system.compact(table => '$short')") // v3: folds base+A
      spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
           |  (1L,'en',77L), (5L,'fr',50L) AS s(doc_id, lang, n_chars)) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin) // v4: log B (U 1→77, I 5)
      // rollback to v2: the new version drops log B AND the compacted
      // base while RE-ADDING the pre-compact base and log A — the shape
      // the ADVICE r20 medium flagged (id 1 is touched by BOTH logs)
      spark.sql(s"CALL graft.system.rollback(table => '$short', version => 2)")
      assert(spark.table(tbl).collect().map(_.toString).sorted.toSeq ==
        Seq("[1,en,99]", "[2,de,20]"), "rollback must restore the v2 state")
      val batch = spark.read.format("graft.sources.DigestSink")
        .option("path", dir.toString)
        .option("changesFrom", "4").option("changesTo", "5")
        .load().collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3))).toSeq
      // id 1's transition (77→99) appears EXACTLY once — via the inverse
      // partition; log A's re-added replay must not emit it again
      val id1 = batch.filter(_._1 == 1L).sortBy(_._4)
      assert(id1 == Seq(
        (1L, "en", 99L, "update_postimage"),
        (1L, "en", 77L, "update_preimage")),
        s"id 1 must emit one net inverse transition, got $id1")
      // id 5 (the I in the dropped log) inverts to exactly one delete
      val id5 = batch.filter(_._1 == 5L)
      assert(id5 == Seq((5L, "fr", 50L, "delete")), id5.toString)
      // counting-replica exactness: no id may emit two non-preimage rows
      // of the same type in one commit
      val dupes = batch.filter(_._4 != "update_preimage")
        .groupBy(t => (t._1, t._4)).filter(_._2.size > 1)
      assert(dupes.isEmpty, s"duplicate per-id emissions in one commit: $dupes")
      spark.sql(s"DROP TABLE $tbl")
    }
  }
}
