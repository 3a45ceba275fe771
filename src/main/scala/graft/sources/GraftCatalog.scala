package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 `TableCatalog` plugin — the IDENTIFIER-RESOLUTION layer
  * of the connector stack, on top of the q163 read path. Registered once,
  * by `Bench.session`, as `spark.sql.catalog.graft =
  * graft.sources.GraftCatalog` (queries never set it), it routes
  * catalog-qualified SQL (`graft.ns.t`) through the full V2 resolution
  * chain: CatalogManager → this catalog → `loadTable` → [[SeqTable]] →
  * ScanBuilder with every pushdown the path-based load already proves.
  *
  * This is what "switch the engine's namespace on" means at 100 TB: DDL
  * (`CREATE TABLE ... USING graft_seq TBLPROPERTIES(...)`, `DROP TABLE`)
  * manages logical table entries whose physical layout the connector owns,
  * and every reader resolves the same identifier to the same table —
  * instead of each job hand-wiring paths and options. The reference's
  * single hard-wired input prefix (main.rs:23-27: one bucket, one key
  * layout) is the degenerate form of this; a catalog is its multi-table
  * generalization.
  *
  * Table entries live in a JVM-global registry keyed by
  * (catalog-name, namespace, table): Spark instantiates one catalog object
  * PER SESSION lazily, so instance state would silently fork between a
  * test session and a Verify session in the same JVM — the q178 lesson
  * (session-scoped state behind a JVM-global cache) applied in reverse.
  * Everything stored is tiny metadata (rows/slices per table), never data:
  * the relation itself stays a pure function of the row id.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog with ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
  }
  override def name(): String = catalogName

  // q232: lets DDL carry column DEFAULTs — the analyzer then fills
  // omitted columns in INSERTs from the schema's CURRENT_DEFAULT
  // metadata, which the evolve flavor round-trips (EvolveSchema.struct)
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def key(ident: Identifier): String =
    GraftCatalog.regKey(catalogName, ident.namespace().toSeq :+ ident.name())
  private def nsKey(ns: Array[String]): String =
    GraftCatalog.regKey(catalogName, ns.toSeq)

  // ---- namespaces ---------------------------------------------------------
  // minimal but real: CREATE NAMESPACE registers, listTables/createTable
  // check existence, default namespace `ns` pre-exists so the common
  // read path needs no setup DDL
  override def defaultNamespace(): Array[String] = Array("ns")

  override def listNamespaces(): Array[Array[String]] =
    GraftCatalog.namespaces.keySet().toArray(Array.empty[String])
      .filter(_.startsWith(catalogName + GraftCatalog.keySep))
      .map(_.split(GraftCatalog.keySep).drop(1))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("ns")) ||
      GraftCatalog.namespaces.containsKey(nsKey(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    else Option(GraftCatalog.namespaces.get(nsKey(namespace)))
      .map(new util.HashMap[String, String](_): util.Map[String, String])
      .getOrElse(util.Collections.emptyMap())

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    GraftCatalog.namespaces.put(nsKey(namespace),
      new util.HashMap[String, String](metadata))
  }

  // namespace properties are plain metadata (comments, ownership tags):
  // SET/REMOVE round-trip through loadNamespaceMetadata; anything beyond
  // properties has no meaning for this catalog and is refused
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val props = GraftCatalog.namespaces.computeIfAbsent(nsKey(namespace),
      _ => new util.HashMap[String, String]())
    changes.foreach {
      case sp: NamespaceChange.SetProperty => props.put(sp.property(), sp.value())
      case rp: NamespaceChange.RemoveProperty => props.remove(rp.property())
      case c => throw new UnsupportedOperationException(
        s"graft catalog: ALTER NAMESPACE ${c.getClass.getSimpleName}")
    }
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    GraftCatalog.namespaces.remove(nsKey(namespace)) != null

  // ---- tables -------------------------------------------------------------
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    GraftCatalog.tables.entrySet().toArray(Array.empty[util.Map.Entry[String, util.Map[String, String]]])
      .map(_.getKey.split(GraftCatalog.keySep))
      .filter(parts => parts.length >= 2 && parts.head == catalogName &&
        parts.slice(1, parts.length - 1).sameElements(namespace))
      .map(parts => Identifier.of(namespace, parts.last))
  }

  override def loadTable(ident: Identifier): Table = {
    val props = GraftCatalog.tables.get(key(ident))
    if (props == null) throw new NoSuchTableException(ident)
    // dispatch on the DDL's USING clause (TableCatalog.PROP_PROVIDER):
    // the catalog fronts both halves of the V2 stack — seq reads and the
    // lang-split digest sink (whose catalog flavor carries the
    // overwrite-by-filter + declared-distribution write surface, q186)
    props.getOrDefault("provider", "graft_seq") match {
      // every digest flavor honors the declared data plane ('format',
      // q266) on its WRITE paths; reads dispatch per FILE byte format,
      // so mixed-plane history (a CSV table converted to parquet
      // mid-life, a branch forked across the conversion) always reads
      // correctly and serves columnar exactly when a scan's planned
      // files are all parquet and row-level-clean
      case "graft_digest" if props.getOrDefault("delta", "false").toBoolean =>
        val dp = GraftCatalog.planeOf(props)
        val (zc, bc) = GraftCatalog.declaredCols(props)
        new DigestDeltaTable(props.get("path")) {
          override protected def dataPlane: DataPlane = dp
          override protected def zonemapCols: Set[String] = zc
          override protected def bloomCols: Set[String] = bc
        }
      case "graft_digest" if props.getOrDefault("rowlevel", "false").toBoolean =>
        val dp = GraftCatalog.planeOf(props)
        new DigestRloTable(props.get("path")) {
          override protected def dataPlane: DataPlane = dp
        }
      case "graft_digest" if props.getOrDefault("dv", "false").toBoolean =>
        // q264: the DV flavor composes with a branch ref — deletes stage
        // as grown bitmaps on the branch's log, invisible to main.
        // declared zone/bloom columns reach the insert halves of
        // DELETE/UPDATE/MERGE too — mutation must not erode pruning
        val dp = GraftCatalog.planeOf(props)
        val (zc, bc) = GraftCatalog.declaredCols(props)
        new DigestDvTable(props.get("path"),
          Option(props.get("branch")).getOrElse(DigestManifest.MainRef)) {
          override protected def dataPlane: DataPlane = dp
          override protected def zonemapCols: Set[String] = zc
          override protected def bloomCols: Set[String] = bc
        }
      case "graft_digest" if props.containsKey("branch") =>
        val dp = GraftCatalog.planeOf(props)
        new DigestBranchTable(props.get("path"), props.get("branch")) {
          override protected def dataPlane: DataPlane = dp
        }
      case "graft_digest" if props.getOrDefault("partitioned", "false").toBoolean =>
        val dp = GraftCatalog.planeOf(props)
        new DigestPartitionedTable(props.get("path")) {
          override protected def dataPlane: DataPlane = dp
        }
      case "graft_digest" =>
        // q263: the table's DECLARED zone-map column set (default: all
        // zone-mappable columns) — commits record exactly these.
        // q266: `'format'` picks the data plane (csv | parquet).
        // q278: declared per-file bloom filters (opt-in, default none)
        val (zc, bc) = GraftCatalog.declaredCols(props)
        val dp = GraftCatalog.planeOf(props)
        new DigestSinkTable(props.get("path"), langSplit = true) {
          override protected def zonemapCols: Set[String] = zc
          override protected def bloomCols: Set[String] = bc
          override protected def dataPlane: DataPlane = dp
        }
      case "graft_evolve" =>
        // q270: a `'branch'` prop reads/commits through the named ref's
        // own manifest log — the table's serialized schema STAYS the one
        // this entry was created with, which is exactly how a branch
        // writer diverges from an ALTERed main (the fast_forward schema
        // gate audits that divergence)
        val (_, fields) = EvolveSchema.parse(props.get("evolveSchema"))
        new EvolveTable(props.get("path"), fields,
          EvolveCheck.parse(props.get("evolveConstraints")),
          ref = Option(props.get("branch")).getOrElse(DigestManifest.MainRef),
          // the declared-schema table carries the full lakehouse surface
          // (round-18): a data plane and declared zone columns
          plane = GraftCatalog.planeOf(props),
          zoneCols = Option(props.get("zonemap.columns")).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
          // q279: declared bloom columns resolve by name to field ids
          bloomCols = Option(props.get("bloom.columns")).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case _ =>
        new SeqTable(
          props.getOrDefault("rows", "1000").toLong,
          props.getOrDefault("slices", "8").toInt,
          props.getOrDefault("columnar", "true").toBoolean)
    }
  }

  // ---- time travel (q224) -------------------------------------------------
  // `VERSION AS OF n` / `TIMESTAMP AS OF ts` resolve through these
  // overloads to an immutable snapshot table reading `_MANIFEST.v<n>` —
  // served by the history-retaining delta flavor, whose commits never
  // delete or rename-over a file an older manifest names
  private def timeTravelPath(ident: Identifier): String = {
    val props = GraftCatalog.tables.get(key(ident))
    if (props == null) throw new NoSuchTableException(ident)
    // the DV flavor qualifies too (round-20): its commits grow bitmaps
    // and overwrite under retainHistory — no file an older manifest
    // names is ever deleted, so every snapshot stays readable
    require(props.getOrDefault("provider", "graft_seq") == "graft_digest" &&
      (props.getOrDefault("delta", "false").toBoolean ||
        props.getOrDefault("dv", "false").toBoolean),
      s"graft catalog: time travel on ${ident.name()} — only the " +
        "history-retaining flavors ('delta'='true' or 'dv'='true') keep " +
        "old versions readable")
    props.get("path")
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val path = timeTravelPath(ident)
    // `VERSION AS OF 'release_x'` (q269): a NON-numeric version string is
    // a named tag — an immutable pin resolved through the `_TAGS`
    // registry (create_tag refuses purely-numeric names, so the two
    // address spaces cannot collide). A BRANCH tag (round-18) resolves
    // through the branch's own snapshot chain — which drop_branch keeps
    // for pinned versions, so the tag outlives the branch ref itself.
    val (v, ref) = try (version.toInt, DigestManifest.MainRef) catch {
      case _: NumberFormatException =>
        DigestTags.tagsOf(path).getOrElse(version,
          throw new IllegalArgumentException(
            s"graft catalog: VERSION AS OF '$version' — no such tag on " +
              s"${ident.name()} (tags: ${DigestTags.tagsOf(path).keys.toSeq.sorted
                .mkString(", ")})"))
    }
    require(v >= 1 &&
        Files.exists(Paths.get(path, s"${DigestManifest.mName(ref)}.v$v")),
      s"graft catalog: no committed version $v" +
        (if (ref == DigestManifest.MainRef) "" else s" of branch '$ref'") +
        s" of ${ident.name()} " +
        s"(current: ${DigestManifest.currentVersion(path, ref)})")
    if (ref == DigestManifest.MainRef)
      new DigestDeltaTable(path, asOfVersion = Some(v))
    else new DigestBranchTable(path, ref, asOfVersion = Some(v))
  }

  // Spark hands TIMESTAMP AS OF down as MICROSECONDS since the epoch;
  // as-of semantics pick the latest version committed at or before it
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = timeTravelPath(ident)
    new DigestDeltaTable(path,
      asOfVersion = Some(DigestManifest.versionAt(path, timestamp)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (GraftCatalog.tables.containsKey(key(ident)))
      throw new TableAlreadyExistsException(ident)
    // ConcurrentHashMap, not HashMap: this map becomes the LIVE registry
    // value, mutated in place by ALTER TABLE property writers and read /
    // CAS-restored by rewrite_plane's flip — the conditional restore
    // (props.replace) is only atomic against concurrent writers on a
    // concurrent map (r21 ADVICE)
    val props: util.Map[String, String] =
      new java.util.concurrent.ConcurrentHashMap[String, String](properties)
    val provider = props.getOrDefault("provider", "graft_seq")
    if (partitions.nonEmpty) {
      // the one partitioned layout the connector owns: identity(lang) on
      // the lang-split digest sink (q226) — anything else is refused, not
      // approximated
      require(provider == "graft_digest" && partitions.length == 1 &&
        partitions(0).name() == "identity" &&
        partitions(0).references().head.fieldNames().sameElements(Array("lang")),
        s"graft catalog: only graft_digest PARTITIONED BY (lang) is supported, " +
          s"got ${partitions.mkString(",")} for $provider")
      props.put("partitioned", "true")
    }
    if (provider == "graft_evolve") {
      val (next, fields) = EvolveSchema.fromStruct(schema)
      props.put("evolveSchema", EvolveSchema.serialize(next, fields))
    }
    // validate declarative properties BEFORE registering — a bad
    // declaration must refuse the CREATE, never brick a registered
    // table object (q263). The evolve flavor validates zone columns
    // against ITS declared schema (BIGINT fields); the digest flavor
    // against the fixed zone-mappable set.
    if (provider == "graft_evolve") {
      // both declarative column sets validate against the DECLARED schema
      val (_, fields) = EvolveSchema.parse(props.get("evolveSchema"))
      Seq("zonemap.columns" -> "zone-map", "bloom.columns" -> "bloom")
        .foreach { case (prop, what) =>
          Option(props.get(prop)).foreach { v =>
            v.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
              val f = fields.find(_.name == c).getOrElse(
                throw new IllegalArgumentException(
                  s"graft catalog: '$prop' names unknown column '$c'"))
              require(f.dataType == org.apache.spark.sql.types.LongType,
                s"graft catalog: $what column '$c' must be BIGINT")
            }
          }
        }
    } else {
      Option(props.get("zonemap.columns")).foreach(DigestSink.parseZonemapCols)
      Option(props.get("bloom.columns")).foreach(DigestSink.parseBloomCols)
    }
    GraftCatalog.planeOf(props) // validates 'format' / 'parquet.rowgroup.bytes'
    GraftCatalog.tables.put(key(ident), props)
    loadTable(ident)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog, q237) ----------------------
  // see [[GraftStagedTable]] for the protocol; the catalog's job here is
  // identifier/flavor validation and picking the stage ROOT the new
  // generation's directory is created under
  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      mode: GraftStagedTable.Mode): GraftStagedTable = {
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val existing = Option(GraftCatalog.tables.get(key(ident)))
    mode match {
      case GraftStagedTable.Create =>
        if (existing.isDefined) throw new TableAlreadyExistsException(ident)
      case GraftStagedTable.Replace =>
        if (existing.isEmpty) throw new NoSuchTableException(ident)
      case GraftStagedTable.CreateOrReplace => ()
    }
    val provider = Option(properties.get("provider"))
      .orElse(existing.map(_.getOrDefault("provider", "graft_seq")))
      .getOrElse("graft_digest")
    require(provider == "graft_digest",
      s"graft catalog: atomic CTAS/RTAS is a write protocol — only the " +
        s"graft_digest flavor supports it, got $provider")
    require(partitions.isEmpty,
      "graft catalog: staged CTAS/RTAS owns its layout (lang-split); " +
        "PARTITIONED BY is not accepted here")
    val root = Option(properties.get("path"))
      .orElse(existing.flatMap(p => Option(p.get("stageRoot"))))
      .orElse(existing.flatMap(p => Option(p.get("path"))))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: staged CTAS needs TBLPROPERTIES('path'=<dir>)"))
    val props = new util.HashMap[String, String](properties)
    props.remove("provider")
    props.remove("path")
    new GraftStagedTable(catalogName, ident, root, props, mode)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): GraftStagedTable =
    stage(ident, schema, partitions, properties, GraftStagedTable.Create)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): GraftStagedTable =
    stage(ident, schema, partitions, properties, GraftStagedTable.Replace)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): GraftStagedTable =
    stage(ident, schema, partitions, properties, GraftStagedTable.CreateOrReplace)

  // table properties the flavor dispatch and data layout hang off — ALTER
  // must not silently re-route a table's identity out from under readers
  private val reservedProps =
    Set("provider", "path", "delta", "rowlevel", "dv", "branch", "partitioned",
      "evolveSchema", "evolveConstraints", "rows", "slices", "columnar",
      "stageRoot")

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val props = GraftCatalog.tables.get(key(ident))
    if (props == null) throw new NoSuchTableException(ident)
    val provider = props.getOrDefault("provider", "graft_seq")
    changes.foreach {
      case sp: TableChange.SetProperty =>
        require(!reservedProps.contains(sp.property()),
          s"graft catalog: table property '${sp.property()}' is reserved")
        props.put(sp.property(), sp.value())
      case rp: TableChange.RemoveProperty =>
        require(!reservedProps.contains(rp.property()),
          s"graft catalog: table property '${rp.property()}' is reserved")
        props.remove(rp.property())
      case ac: TableChange.AddConstraint if provider == "graft_evolve" =>
        // the engine has already VALIDATED existing rows by the time this
        // lands (AddCheckConstraintExec scans before calling alterTable);
        // the catalog's job is to store text + enforcement flag
        val cs = EvolveCheck.parse(props.get("evolveConstraints"))
        val c = ac.constraint()
        require(!cs.exists(_.name == c.name()),
          s"graft catalog: constraint '${c.name()}' already exists")
        val check = c match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check => ck
          case other => throw new UnsupportedOperationException(
            s"graft catalog: only CHECK constraints are supported, got ${other.toDDL}")
        }
        props.put("evolveConstraints", EvolveCheck.serialize(
          cs :+ EvolveCheck(check.name(), check.predicateSql(), check.enforced())))
      case dc: TableChange.DropConstraint if provider == "graft_evolve" =>
        val cs = EvolveCheck.parse(props.get("evolveConstraints"))
        require(cs.exists(_.name == dc.name()) || dc.ifExists(),
          s"graft catalog: no constraint '${dc.name()}'")
        props.put("evolveConstraints",
          EvolveCheck.serialize(cs.filterNot(_.name == dc.name())))
      case c if provider == "graft_evolve" =>
        // column evolution is a metadata-only commit against the field-id
        // schema — see [[EvolveSchema]] for the id semantics and the
        // rejection of type/position changes
        val (next, fields) = EvolveSchema.parse(props.get("evolveSchema"))
        val (n2, f2) = EvolveSchema.apply(next, fields, c)
        props.put("evolveSchema", EvolveSchema.serialize(n2, f2))
      case c => throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE ${c.getClass.getSimpleName} needs the " +
          "graft_evolve flavor — seq/digest schemas are fixed by the connector")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    GraftCatalog.tables.remove(key(ident)) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // TableCatalog contract: renaming onto a live table must refuse, not
    // clobber its metadata (mirrors renameView below)
    if (GraftCatalog.tables.containsKey(key(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    val props = GraftCatalog.tables.remove(key(oldIdent))
    if (props == null) throw new NoSuchTableException(oldIdent)
    GraftCatalog.tables.put(key(newIdent), props)
  }

  // ---- functions (FunctionCatalog) ----------------------------------------
  // the catalog's fixed compute vocabulary — see [[GraftFunctions]]; the
  // registry is code, not state: functions resolve in any namespace the
  // catalog knows, mirroring how format-native transforms ship with the
  // connector rather than with table metadata
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespaceExists(namespace))
      Array(Identifier.of(namespace, "poly_mix"), Identifier.of(namespace, "lsum"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "poly_mix" => PolyMix
      case "lsum"     => LSum
      case _          => throw new NoSuchFunctionException(ident)
    }

  // ---- views (ViewCatalog, q231) ------------------------------------------
  // a view is STORED SQL TEXT plus the resolution context it was defined
  // in (catalog + namespace) and the schema it had at definition time —
  // the engine re-parses and re-plans the text at every read, so a view
  // over a connector table inherits every pushdown the table's scan
  // proves. Registry metadata only, like tables: nothing data-bearing.
  override def listViews(namespace: String*): Array[Identifier] = {
    if (!namespaceExists(namespace.toArray)) throw new NoSuchNamespaceException(namespace.toArray)
    val nsArr: Array[String] = namespace.toArray
    val keys: Seq[String] = scala.jdk.CollectionConverters
      .SetHasAsScala(GraftCatalog.views.keySet()).asScala.toSeq
    keys.map((k: String) => k.split(GraftCatalog.keySep))
      .filter((parts: Array[String]) => parts.length >= 2 &&
        parts.head == catalogName &&
        parts.slice(1, parts.length - 1).sameElements(nsArr))
      .map((parts: Array[String]) => Identifier.of(nsArr, parts.last))
      .toArray
  }

  override def loadView(ident: Identifier): View = {
    val v = GraftCatalog.views.get(key(ident))
    if (v == null) throw new NoSuchViewException(ident)
    v
  }

  override def createView(info: ViewInfo): View = {
    if (!namespaceExists(info.ident().namespace()))
      throw new NoSuchNamespaceException(info.ident().namespace())
    if (GraftCatalog.views.containsKey(key(info.ident())))
      throw new ViewAlreadyExistsException(info.ident())
    val v = GraftView(info.ident().name(), info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(),
      new util.HashMap[String, String](info.properties()))
    GraftCatalog.views.put(key(info.ident()), v)
    v
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = GraftCatalog.views.get(key(ident))
    if (v == null) throw new NoSuchViewException(ident)
    val props = new util.HashMap[String, String](v.properties())
    changes.foreach {
      case sp: ViewChange.SetProperty => props.put(sp.property(), sp.value())
      case rp: ViewChange.RemoveProperty => props.remove(rp.property())
      case c => throw new UnsupportedOperationException(
        s"graft catalog: ALTER VIEW ${c.getClass.getSimpleName}")
    }
    val updated = v.copy(props = props)
    GraftCatalog.views.put(key(ident), updated)
    updated
  }

  override def dropView(ident: Identifier): Boolean =
    GraftCatalog.views.remove(key(ident)) != null

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (GraftCatalog.views.containsKey(key(newIdent)))
      throw new ViewAlreadyExistsException(newIdent)
    val v = GraftCatalog.views.remove(key(oldIdent))
    if (v == null) throw new NoSuchViewException(oldIdent)
    GraftCatalog.views.put(key(newIdent), v.copy(viewName = newIdent.name()))
  }

  // ---- procedures (ProcedureCatalog, q225) --------------------------------
  // maintenance actions ship WITH the connector, invoked by name via CALL
  // — the `system` namespace mirrors where every production catalog puts
  // them
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("compact", "history", "expire_snapshots", "remove_orphan_files",
      "create_branch", "fast_forward", "branches", "drop_branch",
      "rewrite_sorted", "rewrite_zorder", "rewrite_plane", "rollback",
      "probe_key")
      .map(Identifier.of(Array("system"), _))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace().sameElements(Array("system"))
    ident.name() match {
      case "compact" if known => new CompactProcedure(catalogName)
      case "history" if known => new HistoryProcedure(catalogName)
      case "expire_snapshots" if known => new ExpireSnapshotsProcedure(catalogName)
      case "remove_orphan_files" if known => new RemoveOrphanFilesProcedure(catalogName)
      case "create_branch" if known => new CreateBranchProcedure(catalogName)
      case "fast_forward" if known => new FastForwardProcedure(catalogName)
      case "branches" if known => new BranchesProcedure(catalogName)
      case "drop_branch" if known => new DropBranchProcedure(catalogName)
      case "rewrite_sorted" if known => new RewriteSortedProcedure(catalogName)
      case "rewrite_zorder" if known => new RewriteZorderProcedure(catalogName)
      case "rewrite_plane" if known => new RewritePlaneProcedure(catalogName)
      case "probe_key" if known => new ProbeKeyProcedure(catalogName)
      case "rollback" if known => new RollbackProcedure(catalogName)
      case "create_tag" if known => new CreateTagProcedure(catalogName)
      case "drop_tag" if known => new DropTagProcedure(catalogName)
      case "tags" if known => new TagsProcedure(catalogName)
      case _ => throw new NoSuchElementException(
        s"graft catalog: no such procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
          "(available: system.compact, system.history, system.expire_snapshots, " +
          "system.remove_orphan_files, system.create_branch, system.fast_forward)")
    }
  }
}

object GraftCatalog {
  /** Parse + validate the digest data-plane properties (q266:
    * `'format'='csv'|'parquet'`, `'parquet.rowgroup.bytes'`).
    */
  private[sources] def planeOf(props: util.Map[String, String]): DataPlane =
    DataPlane.fromProps(k => Option(props.get(k)))

  /** The table's declared (zonemap, bloom) column sets — shared by every
    * digest flavor so DML-driven writes keep the same pruning attrs as
    * plain inserts.
    */
  private[sources] def declaredCols(
      props: util.Map[String, String]): (Set[String], Set[String]) =
    (Option(props.get("zonemap.columns"))
      .map(DigestSink.parseZonemapCols)
      .getOrElse(TableLayout.Digest.zones.keySet),
      Option(props.get("bloom.columns"))
        .map(DigestSink.parseBloomCols)
        .getOrElse(Set.empty[String]))

  // registry-key separator: NUL cannot appear in an identifier part, so
  // joined keys are unambiguous (written as the escape, not a raw byte,
  // to keep this file greppable/diffable text)
  private[sources] val keySep = "\u0000"
  private[sources] def regKey(catalogName: String, parts: Seq[String]): String =
    (catalogName +: parts).mkString(keySep)

  /** A registered table's live properties (queries use this to address a
    * table's serialized evolve schema for the provider-options read path).
    */
  private[graft] def regKeyProps(catalogName: String,
      parts: Seq[String]): util.Map[String, String] = {
    val p = tables.get(regKey(catalogName, parts))
    require(p != null,
      s"graft catalog: no registered table ${parts.mkString(".")}")
    p
  }

  private[sources] val tables =
    new java.util.concurrent.ConcurrentHashMap[String, util.Map[String, String]]()
  private[sources] val namespaces =
    new java.util.concurrent.ConcurrentHashMap[String, util.HashMap[String, String]]()
  private[sources] val views =
    new java.util.concurrent.ConcurrentHashMap[String, GraftView]()
}

/** Stored-view record — the [[org.apache.spark.sql.connector.catalog.View]]
  * contract over registry state.
  */
case class GraftView(viewName: String, viewSql: String, cat: String,
    ns: Array[String], viewSchema: StructType, queryCols: Array[String],
    aliases: Array[String], comments: Array[String],
    props: util.HashMap[String, String]) extends View {
  override def name(): String = viewName
  override def query(): String = viewSql
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] = ns
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = queryCols
  override def columnAliases(): Array[String] = aliases
  override def columnComments(): Array[String] = comments
  override def properties(): util.Map[String, String] = props
}
