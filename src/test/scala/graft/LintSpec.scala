package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural enforcement of source-level numeric conventions that every
  * oracle hash-match depends on but that no compiler checks.
  */
class LintSpec extends AnyFunSuite {

  /** The Num.scala discipline (`ops/Num.scala:33-38`): never cast a
    * COMPUTED double to decimal — Spark converts double→decimal via the
    * shortest decimal string, DuckDB via scaling arithmetic, and a value
    * within 1 ulp of a scale-boundary flips differently in each engine.
    * Decimal casts are only safe on (a) raw grid-valued columns (money/
    * rate), (b) values rounded first (dsum6), or (c) products that are
    * EXACT in f64 (integer-grid inputs).
    *
    * This lint pins every `DecimalType(` cast site in main sources to an
    * audited per-file count. Adding a new decimal cast fails this test
    * until the site is audited against the rule above and the count
    * updated — the convention is now structural, not folklore.
    */
  test("driver contract: no key collisions, no orphaned oracles") {
    // SparkEntry aggregates the module maps with `++`, which silently
    // keeps the LAST binding on a key collision — a duplicated query name
    // in two modules would quietly drop one implementation from the
    // driver's gate. Likewise an oracle key with no query entry would
    // never be exercised.
    val moduleMaps = Seq(
      "Relational" -> ops.Relational.queries, "Actuarial" -> actuarial.Actuarial.queries,
      "TextOps" -> ops.TextOps.queries, "Dedup" -> ops.Dedup.queries,
      "Curation" -> ops.Curation.queries, "Similarity" -> ops.Similarity.queries,
      "Events" -> ops.Events.queries, "Multimodal" -> ops.Multimodal.queries,
      "Pipeline" -> ops.Pipeline.queries, "Corpus" -> ops.Corpus.queries,
      "Analytics" -> ops.Analytics.queries, "Warehouse" -> ops.Warehouse.queries,
      "Formats" -> sources.Formats.queries, "EventStream" -> streaming.EventStream.queries)
    val owners = moduleMaps.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
    val dups = owners.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"query keys defined in several modules (one silently wins): " +
        dups.map { case (k, ms) => s"$k -> ${ms.map(_._2).mkString("/")}" }.mkString(", "))
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query (never exercised): $orphans")
    assert(SparkEntry.queries.size == owners.size,
      "aggregated query map lost entries")
  }

  test("decimal casts appear only at audited sites") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val sites: Map[String, Int] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala
          .filter(l => l.contains("DecimalType(") && !l.trim.startsWith("import"))
          .map(_ => root.relativize(p).toString.replace('\\', '/'))
      }
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val audited = Map(
      // dsum / dsum6 / money / rate — the discipline's own sanctioned forms
      "ops/Num.scala" -> 4,
      // q9 running-total sum (raw grid column), q26 Σx² (l_quantity is an
      // integer-valued grid, so the product is exact in f64 — audited),
      // q38 per-part sum (raw grid column)
      "ops/Relational.scala" -> 3,
    )
    assert(sites == audited,
      s"un-audited DecimalType cast sites: $sites vs audited $audited — " +
        "read ops/Num.scala:33-38 before adding one (computed doubles must " +
        "round first or stay double; raw grid columns and f64-exact " +
        "products are fine), then update the audited map")
  }

  /** `DigestManifest.publish` is the LAST-WRITER-WINS commit: it publishes
    * its listing one past whatever head it reads, so a writer that built
    * that listing from an earlier read silently drops every commit that
    * landed in between. It is reserved for the single-writer maintenance
    * paths its scaladoc names; job commits rebase (`publishAppend`) or
    * abort on a moved head (`publishReplace`). This lint pins its call
    * sites in main sources to an audited per-file count, like the decimal
    * casts above.
    */
  test("last-writer-wins manifest publishes appear only at audited sites") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val sites: Map[String, Int] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala
          .filter { l =>
            val t = l.trim
            l.contains("DigestManifest.publish(") &&
              !t.startsWith("import") && !t.startsWith("//") && !t.startsWith("*")
          }
          .map(_ => root.relativize(p).toString.replace('\\', '/'))
      }
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val audited = Map(
      // branch creation (the fork's first snapshot)
      "sources/TableOps.scala" -> 1,
      // the change-feed soak tool's hand-built listings
      "tools/SoakFeed.scala" -> 1,
    )
    assert(sites == audited,
      s"un-audited DigestManifest.publish call sites: $sites vs audited " +
        s"$audited — a job commit must use publishAppend (appends) or " +
        "publishReplace (everything else); only single-writer maintenance " +
        "may use the last-writer-wins form, then update the audited map")
  }

  /** Every row read of a committed data file goes through the one table
    * row reader (`TableRows` in sources/TableCore.scala), which owns the
    * row-group selection, the DV-exact positions and the read counters;
    * the columnar fast path of the digest scan is the only other site
    * that opens parquet row batches. This lint pins the
    * `new ParquetData.BatchIterator(` sites in main sources to those two.
    */
  test("parquet row batches are opened only at audited sites") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val sites: Map[String, Int] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala
          .filter { l =>
            val t = l.trim
            l.contains("new ParquetData.BatchIterator(") &&
              !t.startsWith("//") && !t.startsWith("*")
          }
          .map(_ => root.relativize(p).toString.replace('\\', '/'))
      }
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val audited = Map(
      // TableRows: every row reader of either flavor
      "sources/TableCore.scala" -> 1,
      // DigestColumnarFileReader: the clean-scan ColumnarBatch serve
      "sources/DigestSink.scala" -> 1,
    )
    assert(sites == audited,
      s"un-audited ParquetData.BatchIterator sites: $sites vs audited " +
        s"$audited — read committed data files through TableRows")
  }

  /** Every manifest table, digest and evolve alike, plans its reads
    * through one scan builder (`TableScanBuilder` in
    * sources/TableCore.scala), which owns the filter pushdown and the one
    * file-skipping predicate; the sequence source pushes its own id
    * range. This lint pins the main sources naming
    * `SupportsPushDownFilters` to those two files.
    */
  test("filter pushdown is implemented only by the manifest scan and the " +
      "sequence source") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        java.nio.file.Files.readAllLines(p).asScala.exists { l =>
          val t = l.trim
          l.contains("SupportsPushDownFilters") &&
            !t.startsWith("//") && !t.startsWith("*")
        }
      }
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    assert(files == Set("sources/TableCore.scala", "sources/SeqSource.scala"),
      s"SupportsPushDownFilters in $files — manifest tables push filters " +
        "through TableScanBuilder")
  }

  /** Every task output file, table data rows and the delta flavor's verb
    * logs alike, is staged, published and discarded by one rule
    * (`StagedFiles.Attempt` in sources/TableCore.scala), the single place
    * for a task-retry hook. Every parquet data file is written by one row writer
    * (`ParquetData.GenericRowsWriter`). This lint pins the
    * `-attempt-$taskId.staged` and `ExampleParquetWriter.builder(` sites in
    * main sources to those.
    */
  test("table task files are staged and parquet files built only at " +
      "audited sites") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def sites(token: String): Map[String, Int] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala
            .filter { l =>
              val t = l.trim
              l.contains(token) && !t.startsWith("//") && !t.startsWith("*")
            }
            .map(_ => root.relativize(p).toString.replace('\\', '/'))
        }
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val staged = Map(
      // StagedFiles.Attempt: every task file (TableDataWriter's inserts of
      // either flavor, DigestDeltaWriter's verb logs)
      "sources/TableCore.scala" -> 1,
    )
    assert(sites("-attempt-$taskId.staged") == staged,
      s"un-audited task staging sites: ${sites("-attempt-$taskId.staged")} vs " +
        s"audited $staged — stage task files through StagedFiles.Attempt")
    val builders = Map("sources/ParquetData.scala" -> 1)
    assert(sites("ExampleParquetWriter.builder(") == builders,
      s"un-audited parquet writer sites: ${sites("ExampleParquetWriter.builder(")} " +
        s"vs audited $builders — write parquet rows through GenericRowsWriter")
  }

  /** The near-dup pair index (`Dedup.pairCounts`, the inverted-index
    * self-join) is built once per session through `Dedup.pairCountsMemo`,
    * and every pair query reads that memo. A second call site would let a
    * query quietly pay its own copy of the build again, and a curation
    * pass would build the join twice. This lint pins the call sites in
    * main sources to the one inside `pairCountsMemo`.
    */
  test("the near-dup pair index is built only inside its memo") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val call = "\\bpairCounts\\(".r
    val sites = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val file = root.relativize(p).toString.replace('\\', '/')
        val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if call.findFirstIn(lines(i)).isDefined && {
              val t = lines(i).trim
              !t.startsWith("//") && !t.startsWith("*") && !t.contains("def pairCounts(")
            } =>
            // the def enclosing the call: the nearest one above it
            val owner = lines.take(i).reverse.find(_.contains(" def "))
              .flatMap("def (\\w+)".r.findFirstMatchIn(_)).map(_.group(1))
            s"$file:${owner.getOrElse("?")}"
        }
      }
      .toSeq
    assert(sites == Seq("ops/Dedup.scala:pairCountsMemo"),
      s"pairCounts( called outside pairCountsMemo: $sites — read the shared " +
        "memo (Dedup.pairCountsMemo) instead of building the pair index again")
  }

  /** Session conf has one owner per decision. `Bench.session` registers
    * the `graft` catalog for every session of the JVM (and its
    * `newSession()`s); `Tables.withConf` is the one scope that sets a
    * query's conf and puts it back. A query that registers the catalog
    * again, or restores a conf by hand, leaves process-visible conf
    * behind. This lint pins the catalog class string and every
    * `conf.unset(` in main sources to those two owners, by enclosing def.
    */
  test("session conf is set only by Bench.session and Tables.withConf") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def sites(token: String): Seq[String] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val file = root.relativize(p).toString.replace('\\', '/')
          val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
          lines.indices.collect {
            case i if lines(i).contains(token) && {
                val t = lines(i).trim
                !t.startsWith("//") && !t.startsWith("*")
              } =>
              val owner = lines.take(i).reverse.find(_.contains(" def "))
                .flatMap("def (\\w+)".r.findFirstMatchIn(_)).map(_.group(1))
              s"$file:${owner.getOrElse("?")}"
          }
        }
        .toSeq.sorted
    assert(sites("conf.set(\"spark.sql.catalog.graft\"").isEmpty,
      "a query registers the graft catalog again — Bench.session already does")
    assert(sites("\"graft.sources.GraftCatalog\"") == Seq("Bench.scala:session"),
      s"the catalog class is named outside Bench.session: " +
        sites("\"graft.sources.GraftCatalog\""))
    assert(sites("conf.unset(") == Seq("Tables.scala:withConf"),
      s"conf restored outside Tables.withConf: ${sites("conf.unset(")} — " +
        "scope query conf with Tables.withConf")
  }

  /** `file:enclosing def` of every non-comment main-source line holding
    * `token`: the nearest MEMBER def (two-space indent) at or above the
    * line, so a nested helper def never hides its enclosing member.
    */
  private def sites(token: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val file = root.relativize(p).toString.replace('\\', '/')
        val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if lines(i).contains(token) && {
              val t = lines(i).trim
              !t.startsWith("//") && !t.startsWith("*")
            } =>
            val owner = lines.take(i + 1).reverse
              .find(l => l.startsWith("  ") && !l.startsWith("   ") && l.contains(" def "))
              .flatMap("def (\\w+)".r.findFirstMatchIn(_)).map(_.group(1))
            s"$file:${owner.getOrElse("?")}"
        }
      }
      .toSeq.sorted
  }

  /** One owner of the change-record layout: `DigestManifest` names the
    * `_CHANGES[@ref]` files (written only beside full-shaped snapshots)
    * and parses the `+`/`-`/`~old|new` grammar in one function, which the
    * fold, the probe, GC reachability and the change feed all read
    * through. A second stem builder or `~` splitter would let a reader
    * drift from the one rule. Pinned by enclosing def.
    */
  test("change records: one stem builder and one grammar parser") {
    assert(sites("\"_CHANGES") == Seq("sources/DigestSink.scala:changesName"),
      s"the _CHANGES stem is built outside DigestManifest.changesName: " +
        sites("\"_CHANGES"))
    assert(sites("indexOf('|')") == Seq("sources/DigestSink.scala:parseRecord"),
      s"a change record is split outside DigestManifest.parseRecord: " +
        sites("indexOf('|')"))
  }

  /** One owner of the version log: `DigestManifest.vName` is the only
    * spelling of the `_VERSIONS[@ref]` name and `registrations` the only
    * parser of its `v,micros,hash[,c]` lines; every reader (head version,
    * as-of lookup, content hash, compaction mark, history, expiry, GC, the
    * change feed) is a view of it. The compaction mark is a field of the
    * registration, so no `_COMPACTIONS` side file may come back. The
    * other uses of the name (the append, the expiry rewrite, the ref
    * lister, file-name matches) are pinned by enclosing def.
    */
  test("version log: one name, one parser, the mark inside the line") {
    assert(sites("\"_VERSIONS") == Seq("sources/DigestSink.scala:vName"),
      s"the _VERSIONS name is spelled outside DigestManifest.vName: " +
        sites("\"_VERSIONS"))
    val sideFile = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("_COMPACTIONS"))
        .toSeq
    }
    assert(sideFile.isEmpty, s"a _COMPACTIONS side file is back: $sideFile")
    assert(sites("vName(") == Seq(
        "DigestSink.scala:finishCommit", // the registration append
        "DigestSink.scala:refs",
        "DigestSink.scala:registrations",
        "DigestSink.scala:vName",
        "TableOps.scala:call", // expire_snapshots: the kept-line rewrite
        "TableOps.scala:call",
        "TableOps.scala:call", // drop_branch: the branch's log goes with it
        "TableOps.scala:call") // remove_orphan_files: a metadata name
        .map("sources/" + _),
      s"a new version-log site — read it through " +
        s"DigestManifest.registrations: ${sites("vName(")}")
  }
}
