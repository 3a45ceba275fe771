package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

// ---------------------------------------------------------------------------
// THE TABLE CORE: the task writer, the batch job commit, the data-file row
// reader, the row-level (DV) write, the epoch streaming write, the append
// table stream and the change stream shared by `graft_digest` and
// `graft_evolve`. Both flavors commit through one manifest protocol
// ([[DigestManifest]]); what differs between them — the manifest-line
// codec, the file columns and their row addressing, the file stems, the
// row-level scan, the stream's partitions — is one [[TableLayout]] value,
// so every guard below holds for both.
// ---------------------------------------------------------------------------

/** The per-flavor half of the table core: everything the shared write and
  * stream paths need that the fixed-schema digest table and the
  * declared-schema evolve table do differently. Serializable: the task
  * writer factories ship it to executors.
  */
private[graft] sealed abstract class TableLayout extends Serializable {
  /** The flavor's name in error messages. */
  def label: String

  /** The manifest lines of one task's committed files; other messages
    * carry none.
    */
  def lines(m: WriterCommitMessage): Seq[String] = m match {
    case TableCommitMessage(files) => files.map(line)
    case _ => Nil
  }

  /** The manifest line of one committed file, with the zone and bloom
    * attrs the table declares.
    */
  protected def line(f: CommittedFile): String

  /** `(file, dv)` of one manifest line. */
  def fileAndDv(line: String): (String, String)

  /** `line` with deletion vector `dv` and `deleted` fewer live rows. */
  def withDv(line: String, dv: String, deleted: Long): String

  /** Where each of the layout's columns sits in a data file written
    * under the field ids `fileIds` (the evolve entry's `ids`; digest
    * files all share one fixed shape).
    */
  def fileCols(fileIds: Seq[Int]): Seq[FileCol]

  /** The column names an insert's incoming rows resolve by. */
  def insertCols: Seq[String]

  /** The data plane files are written in. */
  def plane: DataPlane

  /** A data file's columns in file order: a CSV row's cells, a parquet
    * file's message (a column is `required` exactly when non-nullable).
    */
  def fileSchema: StructType

  /** Where each file column sits in an incoming row of `numFields`
    * fields; empty `cols` means the table's own column order.
    */
  def rowIdx(numFields: Int, cols: Array[Int]): Array[Int]

  /** The stem of the file a row's cells land in: a task writer keeps one
    * open file per stem.
    */
  def stemOf(cells: Array[Any]): String

  /** The stem every row lands in when it does not depend on the row. That
    * file opens with the task writer, so a task that sees no row still
    * commits its empty file.
    */
  def fixedStem: Option[String]

  /** The file columns whose (min, max) zone and bloom the writer observes
    * for the manifest line.
    */
  def observedZones: Seq[String]
  def observedBlooms: Seq[String]

  /** The file columns that carry an in-file parquet bloom per row group. */
  def parquetBlooms: Seq[String]

  /** The row-level-operation scan: full rows plus each row's physical
    * `(_file, _pos)` coordinates.
    */
  def dvScan(path: String, ref: String): ScanBuilder

  /** The table stream's partition for one added manifest line. */
  def streamPartition(path: String, line: String): InputPartition
  def streamReaderFactory: PartitionReaderFactory

  /** The marker in the name of every file epoch `epochId` writes. */
  def epochMarker(epochId: Long): String
}

private[graft] object TableLayout {
  /** The fixed `(doc_id, lang, n_chars)` schema: one file per task, or
    * per lang per task with `langSplit` (q186 — the granularity the
    * overwrite-by-filter commit replaces), and [[ManifestEntry]] lines
    * carrying the declared zone/bloom attrs.
    */
  final case class Digest(plane: DataPlane = DataPlane.Csv,
      zonemapCols: Set[String] = DigestSink.zmCols.keySet,
      bloomCols: Set[String] = Set.empty,
      langSplit: Boolean = true) extends TableLayout {
    override def label: String = "graft_digest"
    // only the DECLARED zone/bloom columns are recorded (q263/q278): the
    // scan prunes off recorded attributes, so the declaration is enforced
    // at the one place entries are minted
    override protected def line(f: CommittedFile): String =
      ManifestEntry(f.fileName, f.rows,
        f.zones.filter(z => zonemapCols(z._1)).flatMap { case (c, (lo, hi)) =>
          val (mn, mx) = DigestSink.zmCols(c)
          Seq(mn -> lo.toString, mx -> hi.toString)
        } ++ f.blooms.filter(b => bloomCols(b._1)).map { case (_, enc) =>
          "bf" -> enc
        }).line
    override def fileAndDv(line: String): (String, String) = {
      val e = ManifestEntry.parse(line)
      (e.file, e.attrs.getOrElse("dv", ""))
    }
    override def withDv(line: String, dv: String, deleted: Long): String = {
      val e = ManifestEntry.parse(line)
      ManifestEntry(e.file, e.rows - deleted, e.attrs + ("dv" -> dv)).line
    }
    // CSV positions 0-2, parquet columns by name
    override def fileCols(fileIds: Seq[Int]): Seq[FileCol] =
      DigestSink.rowSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        FileCol(f.name, f.dataType, i, f.name)
      }
    override def insertCols: Seq[String] = Seq("doc_id", "lang", "n_chars")
    override def fileSchema: StructType = DigestSink.rowSchema
    // ReplaceData (q203/q204) prepends engine-side columns (e.g.
    // __row_operation) that are NOT in LogicalWriteInfo.schema(); the
    // data columns sit at the END, so index them from the right
    override def rowIdx(numFields: Int, cols: Array[Int]): Array[Int] =
      (if (cols.isEmpty) Array(0, 1, 2) else cols).map(numFields - 3 + _)
    override def stemOf(cells: Array[Any]): String =
      if (!langSplit) ""
      else {
        val lang = cells(1).asInstanceOf[String]
        require(lang.nonEmpty &&
          lang.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
          s"lang value not filesystem-safe: '$lang'")
        s"lang_$lang-"
      }
    override def fixedStem: Option[String] = if (langSplit) None else Some("")
    override def observedZones: Seq[String] =
      DigestSink.zmCols.keys.filter(zonemapCols).toSeq
    override def observedBlooms: Seq[String] = bloomCols.toSeq
    // per-ROW-GROUP bloom on the point-lookup key (round-19), declared or
    // not: the in-file needle layer for LARGE files, where the manifest
    // bloom is saturation-gated off and shuffled ingest leaves row-group
    // (min, max) stats wide
    override def parquetBlooms: Seq[String] = Seq("doc_id")
    // pruning stays ON — unlike the group-based rewrite (which must scan
    // every group it will re-emit), a DELETE's unmatched files simply get
    // no deletion vector, so lang/zone-map file skips are correct AND the
    // scalable plan: a lang- or id-banded DELETE on a 100 TB table scans
    // only the files its predicate can touch
    override def dvScan(path: String, ref: String): ScanBuilder =
      new DigestScanBuilder(path, manifestName = DigestManifest.mName(ref),
        emitMeta = true)
    override def streamPartition(path: String, line: String): InputPartition = {
      val (file, dv) = fileAndDv(line)
      DigestFilePartition(path, file, dv = dv)
    }
    override def streamReaderFactory: PartitionReaderFactory =
      new DigestReaderFactory
    // lang-split writers name epoch files `lang_<l>-je<epoch>-part-...`
    override def epochMarker(epochId: Long): String = s"-je$epochId-"
  }

  /** The declared schema: files record the field ids they were written
    * under ([[EvolveEntry]]), zone/bloom attrs are keyed by field id.
    */
  final case class Evolve(fields: Seq[EvolveField],
      plane: DataPlane = DataPlane.Csv,
      zoneIds: Seq[Int] = Nil, bloomIds: Seq[Int] = Nil) extends TableLayout {
    override def label: String = "graft_evolve"
    // the entry records the writing schema's field ids (`ids=1;2;3`) —
    // the per-file evolution metadata readers resolve against — and the
    // zone/bloom attrs keyed by field id, so RENAME stays a metadata op
    override protected def line(f: CommittedFile): String =
      EvolveEntry.render(f.fileName, f.rows, fields.map(_.id),
        f.zones.flatMap { case (c, (lo, hi)) =>
          Seq(s"zmin.$c" -> lo.toString, s"zmax.$c" -> hi.toString)
        } ++ f.blooms.map { case (c, enc) => s"bf.$c" -> enc })
    override def fileAndDv(line: String): (String, String) = {
      val (file, _, _, attrs) = EvolveEntry.parse(line)
      (file, attrs.getOrElse("dv", ""))
    }
    override def withDv(line: String, dv: String, deleted: Long): String = {
      val (file, rows, ids, attrs) = EvolveEntry.parse(line)
      EvolveEntry.render(file, rows - deleted, ids,
        (attrs - "ids") + ("dv" -> dv))
    }
    // by FIELD ID: the id's position in the file's list, parquet column
    // `c<id>`. A column the file predates serves the EXISTENCE default
    // (an explicit null in a file that has the column stays NULL)
    override def fileCols(fileIds: Seq[Int]): Seq[FileCol] = fields.map { f =>
      FileCol(f.name, f.dataType, fileIds.indexOf(f.id), s"c${f.id}",
        f.default.map { t =>
          EvolveSchema.parseDefault(f.dataType, t, f.name) match {
            case s: String => UTF8String.fromString(s)
            case v => v
          }
        }.orNull)
    }
    override def insertCols: Seq[String] = fields.map(_.name)
    // files are addressed by FIELD ID (`c<id>`), never by the mutable
    // name; every cell may be NULL
    override def fileSchema: StructType =
      StructType(fields.map(f => StructField(s"c${f.id}", f.dataType)))
    override def rowIdx(numFields: Int, cols: Array[Int]): Array[Int] =
      if (cols.nonEmpty) cols else fields.indices.toArray
    override def stemOf(cells: Array[Any]): String = "ev-"
    override def fixedStem: Option[String] = Some("ev-")
    override def observedZones: Seq[String] = zoneIds.map(id => s"c$id")
    override def observedBlooms: Seq[String] = bloomIds.map(id => s"c$id")
    override def parquetBlooms: Seq[String] = observedBlooms
    override def dvScan(path: String, ref: String): ScanBuilder =
      new EvolveScanBuilder(path, fields, ref, zoneIds, emitMeta = true)
    // legacy positional-id lines resolve the same as attr-form ones
    override def streamPartition(path: String, line: String): InputPartition = {
      val (file, _, ids, attrs) = EvolveEntry.parse(line)
      EvolveFilePartition(path, file, ids, attrs.getOrElse("dv", ""))
    }
    override def streamReaderFactory: PartitionReaderFactory = {
      val fs = fields
      (p: InputPartition) =>
        new EvolveFileReader(p.asInstanceOf[EvolveFilePartition], fs)
    }
    override def epochMarker(epochId: Long): String = s"ev-je$epochId-"
  }
}

/** Where one requested column sits in one committed data file: its CSV
  * cell position and parquet column name — or, when the file predates the
  * column (`csvPos < 0`), the existence `default` every row serves.
  */
private[graft] final case class FileCol(name: String, dataType: DataType,
    csvPos: Int, parquetName: String, default: Any = null) {
  def present: Boolean = csvPos >= 0
}

/** The CSV plane's cell rules, shared by both flavors' writers and by
  * [[TableRows]]: cells are comma-separated, rows newline-terminated, and
  * `\N` is NULL.
  */
private[sources] object CsvCell {
  val Null = "\\N"

  /** A string cell as written — refused when it would not read back as
    * itself: a delimiter would shift every later column of the row, and a
    * real value equal to the sentinel would round-trip as NULL.
    */
  def string(label: String, v: String): String = {
    require(!v.exists(c => c == ',' || c == '\n' || c == '\r'),
      s"$label: string cell contains a delimiter: '$v'")
    require(v != Null, s"$label: string cell equals the null sentinel \\N")
    v
  }
}

/** THE row reader for one committed data file of either flavor: yields
  * `(file position, cells)`, cells aligned with `cols` in Spark's internal
  * form (Long / Double / UTF8String / null), dispatched on the FILE's byte
  * format. CSV lines parse positionally; parquet decodes only the present
  * columns of only the row groups [[TableRows.select]] keeps, with
  * file-global positions off the footer, so DV masks stay exact under
  * pruning. A request with no present column (`count(*)`, or a file that
  * predates every requested column) decodes no data at all: the footer's
  * row counts give the positions. `shard = (i, n)` reads only the i-th of
  * n equal position ranges of a parquet file. Close it when stopping
  * early (LIMIT): exhaustion alone releases the handle.
  */
private[graft] final class TableRows(path: String, file: String,
    cols: Seq[FileCol], zm: Map[String, (Long, Long)] = Map.empty,
    pts: Map[String, Set[Long]] = Map.empty, shard: (Int, Int) = (0, 1))
    extends Iterator[(Long, Array[Any])] with AutoCloseable {
  // the data-file-open observability the pruning locks count (q274/q279)
  DigestSink.fileReadEvents.incrementAndGet()
  private val f = Paths.get(path, file)
  /** The parquet row-group selection; null for a CSV file. */
  val groups: TableRows.Selection =
    if (ParquetData.isParquet(file)) TableRows.select(f, zm, pts, shard)
    else {
      require(shard._2 == 1,
        s"graft table: CSV file $file is not position-shardable")
      null
    }
  private var batches: ParquetData.BatchIterator = _
  private var lines: java.io.BufferedReader = _
  private val cs = cols.toArray

  private val rows: Iterator[(Long, Array[Any])] =
    if (groups == null) csvRows
    else if (!cols.exists(_.present))
      groups.kept.iterator.flatMap(g =>
        (math.max(g.rowStart, groups.lo) until
          math.min(g.rowStart + g.rows, groups.hi)).iterator
          .map(pos => (pos, cols.map(_.default).toArray[Any])))
    else parquetRows

  /** One row's cells, `cell(k)` giving the k-th present column's value. */
  private def cells(cell: Int => Any): Array[Any] = {
    val out = new Array[Any](cs.length)
    var k = 0
    while (k < cs.length) {
      out(k) = if (cs(k).present) cell(k) else cs(k).default
      k += 1
    }
    out
  }

  private def csvRows: Iterator[(Long, Array[Any])] = {
    lines = Files.newBufferedReader(f, StandardCharsets.UTF_8)
    new Iterator[(Long, Array[Any])] {
      private var pos = -1L
      private var line = lines.readLine()
      override def hasNext: Boolean = {
        if (line == null) close()
        line != null
      }
      override def next(): (Long, Array[Any]) = {
        val a = line.split(",", -1)
        line = lines.readLine()
        pos += 1
        (pos, cells { k =>
          val t = a(cs(k).csvPos)
          if (t == CsvCell.Null) null
          else cs(k).dataType match {
            case LongType => t.toLong
            case DoubleType => t.toDouble
            case StringType => UTF8String.fromString(t)
          }
        })
      }
    }
  }

  private def parquetRows: Iterator[(Long, Array[Any])] = {
    val present = cs.filter(_.present)
    val slot = cs.map(c => present.indexWhere(_ eq c))
    batches = new ParquetData.BatchIterator(f,
      StructType(present.map(c =>
        StructField(c.parquetName, c.dataType, nullable = true))),
      groups.kept)
    batches.flatMap { case (b, start) =>
      (0 until b.numRows()).iterator
        .filter(i => start + i >= groups.lo && start + i < groups.hi)
        .map { i =>
          (start + i, cells { k =>
            val v = b.column(slot(k))
            if (v.isNullAt(i)) null
            else cs(k).dataType match {
              case LongType => v.getLong(i)
              case DoubleType => v.getDouble(i)
              // the batch's buffers are reused by the next batch
              case StringType => v.getUTF8String(i).copy()
            }
          })
        }
    }
  }

  override def hasNext: Boolean = rows.hasNext
  override def next(): (Long, Array[Any]) = rows.next()
  override def close(): Unit = {
    if (batches != null) batches.close()
    if (lines != null) { lines.close(); lines = null }
  }
}

private[graft] object TableRows {
  /** One parquet file's row groups for one read: `all` within the
    * position range `[lo, hi)`, `kept` after the stats and bloom layers,
    * and how many probed columns' bloom layers bowed out.
    */
  final case class Selection(all: Seq[ParquetData.RowGroup],
      kept: Seq[ParquetData.RowGroup], lo: Long, hi: Long, bloomSkips: Long) {
    def pruned: Long = (all.size - kept.size).toLong
  }

  /** Row-group selection with ONE footer open (the listing and the bloom
    * probes come from the same reader): the `shard`'s position range,
    * then the pushed closed ranges `zm` against the per-group stats, then
    * the per-group blooms against the points `pts` (columns by parquet
    * name). Updates the row-group and bloom-bow-out counters — the one
    * place every parquet read of a committed file does.
    */
  def select(file: Path, zm: Map[String, (Long, Long)],
      pts: Map[String, Set[Long]], shard: (Int, Int) = (0, 1)): Selection = {
    // the bloom layer's bow-out must be OBSERVABLE: a pruning regression
    // from an oversized In-set otherwise surfaces only as a slow scan
    val bloomSkips =
      pts.count(_._2.size > ParquetData.BloomProbeMaxPoints).toLong
    if (bloomSkips > 0) DigestSink.bloomProbeSkippedEvents.addAndGet(bloomSkips)
    val (all, ex) = ParquetData.rowGroupsWithBloomExclusions(file, pts)
    // physical row count from the footer, not the entry's DV-netted one
    val (i, n) = shard
    val phys = all.map(_.rows).sum
    val (lo, hi) =
      if (n <= 1) (0L, Long.MaxValue) else (i * phys / n, (i + 1) * phys / n)
    val groups = all.filter(g => g.rowStart < hi && g.rowStart + g.rows > lo)
    val kept = ParquetData.survivingGroups(groups, zm)
      .filterNot(g => ex.contains(g.index))
    DigestSink.rowGroupReadEvents.addAndGet(kept.size.toLong)
    DigestSink.rowGroupSkipEvents.addAndGet((groups.size - kept.size).toLong)
    Selection(groups, kept, lo, hi, bloomSkips)
  }
}

/** Abort cleanup for every job and epoch writer: removes the staged
  * (never committed) task outputs in `path` whose names match `name`.
  */
private[sources] object StagedFiles {
  def sweep(path: String, name: String => Boolean = _ => true): Unit = {
    val dir = Paths.get(path)
    if (Files.isDirectory(dir)) {
      val listing = Files.list(dir)
      try listing.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".staged") && name(n)) Files.deleteIfExists(p)
      } finally listing.close()
    }
  }
}

/** One committed data file in a task's commit message: its name, its row
  * count, and the writer-observed (min, max) zones and encoded blooms
  * ([[BloomCodec]]) keyed by FILE column name (`doc_id`/`n_chars` on
  * digest, `c<id>` on evolve). The layout's [[TableLayout.lines]] decides
  * how the manifest entry records them, so range and point scans can skip
  * the file without opening it (q253/q257/q278).
  */
case class CommittedFile(fileName: String, rows: Long,
    zones: Map[String, (Long, Long)] = Map.empty,
    blooms: Map[String, String] = Map.empty)

/** What every table task writer commits: its files, in the order opened. */
case class TableCommitMessage(files: Seq[CommittedFile])
    extends WriterCommitMessage

/** THE task writer of every table insert — batch INSERT/overwrite, the
  * group-based rewrite, the insert halves of DV DELETE/UPDATE/MERGE and
  * the epoch streaming write — for both flavors. One open file per stem
  * ([[TableLayout.stemOf]]): staged as
  * `<stem>[j<tag>-]part-<partition>-attempt-<task>.staged`, keyed by the
  * ATTEMPT, and renamed on commit to `<stem>[j<tag>-]part-<partition><ext>`,
  * keyed by the PARTITION — rename-on-commit makes exactly one attempt's
  * output visible however many attempts ran, and the job tag makes the
  * final names unique per job. CSV cells are comma-separated with `\N`
  * for NULL ([[CsvCell]]); parquet columns are the layout's file schema.
  * `cols` addresses the incoming rows ([[TableLayout.rowIdx]]).
  */
private[graft] final class TableDataWriter(path: String, layout: TableLayout,
    partitionId: Int, taskId: Long, jobTag: String,
    cols: Array[Int] = Array.empty) extends DataWriter[InternalRow] {
  private val tagPart = if (jobTag.isEmpty) "" else s"j$jobTag-"
  private val schema = layout.fileSchema
  private val types = schema.fields.map(_.dataType)
  private val nullable = schema.fields.map(_.nullable)
  private val zoneAt = layout.observedZones.map(schema.fieldIndex).toArray
  private val bloomAt = layout.observedBlooms.map(schema.fieldIndex).toArray
  private lazy val message =
    ParquetData.messageType(layout.label, schema.fields.toSeq)
  private var idx: Array[Int] = _
  Files.createDirectories(Paths.get(path))

  private final class OpenFile(stem: String) {
    private val name = f"$stem${tagPart}part-$partitionId%05d"
    private val staged = Paths.get(path, s"$name-attempt-$taskId.staged")
    private val csv =
      if (layout.plane.parquet) null
      else Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
    private val pq =
      if (!layout.plane.parquet) null
      else new ParquetData.GenericRowsWriter(staged, message,
        layout.plane.rowGroupBytes, layout.plane.rowGroupRows,
        layout.parquetBlooms)
    private var rows = 0L
    private val lo = Array.fill(zoneAt.length)(Long.MaxValue)
    private val hi = Array.fill(zoneAt.length)(Long.MinValue)
    // NULL cells are skipped: a null neither widens a zone nor equals a
    // probed point
    private val blooms = Array.fill(bloomAt.length)(BloomCodec.newBuild())

    def write(cells: Array[Any]): Unit = {
      if (pq != null) pq.write(cells)
      else {
        var i = 0
        while (i < cells.length) {
          if (i > 0) csv.write(',')
          csv.write(cells(i) match {
            case null => CsvCell.Null
            case v: String => CsvCell.string(layout.label, v)
            case v => v.toString
          })
          i += 1
        }
        csv.write('\n')
      }
      var k = 0
      while (k < zoneAt.length) {
        cells(zoneAt(k)) match {
          case v: Long => lo(k) = math.min(lo(k), v); hi(k) = math.max(hi(k), v)
          case _ => ()
        }
        k += 1
      }
      k = 0
      while (k < bloomAt.length) {
        cells(bloomAt(k)) match {
          case v: Long => BloomCodec.add(blooms(k), v)
          case _ => ()
        }
        k += 1
      }
      rows += 1
    }

    private def close(): Unit = if (pq != null) pq.close() else csv.close()

    def commit(): CommittedFile = {
      close()
      val fin = name + layout.plane.ext
      Files.move(staged, Paths.get(path, fin), StandardCopyOption.REPLACE_EXISTING)
      CommittedFile(fin, rows,
        zoneAt.indices.filter(k => lo(k) <= hi(k))
          .map(k => schema(zoneAt(k)).name -> (lo(k), hi(k))).toMap,
        // saturation-gated: an over-full filter excludes nothing, so it is
        // omitted (absent = always kept)
        bloomAt.indices.flatMap(k => BloomCodec.encodeIfUseful(blooms(k), rows)
          .map(schema(bloomAt(k)).name -> _)).toMap)
    }

    def abort(): Unit = { close(); Files.deleteIfExists(staged) }
  }

  private val open = mutable.LinkedHashMap.empty[String, OpenFile]
  layout.fixedStem.foreach(s => open(s) = new OpenFile(s))

  override def write(r: InternalRow): Unit = {
    if (idx == null) idx = layout.rowIdx(r.numFields, cols)
    val cells = new Array[Any](types.length)
    var i = 0
    while (i < cells.length) {
      val j = idx(i)
      cells(i) =
        if (nullable(i) && r.isNullAt(j)) null
        else types(i) match {
          case LongType => r.getLong(j)
          case DoubleType => r.getDouble(j)
          case StringType => r.getUTF8String(j).toString
        }
      i += 1
    }
    val stem = layout.stemOf(cells)
    open.getOrElseUpdate(stem, new OpenFile(stem)).write(cells)
  }

  override def commit(): TableCommitMessage =
    TableCommitMessage(open.values.map(_.commit()).toSeq)

  override def abort(): Unit = open.values.foreach(_.abort())

  override def close(): Unit = ()
}

/** Insert task writers of a layout, for batch jobs (one job tag) and for
  * streaming epochs (the EPOCH is the tag, so a replayed epoch rewrites
  * its own byte-identical final names). A top-level case class: it ships
  * to tasks, and an inner class would drag its non-serializable outer
  * write along.
  */
private[graft] case class LayoutWriterFactory(path: String,
    layout: TableLayout, jobTag: String = "", cols: Array[Int] = Array.empty)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TableDataWriter(path, layout, partitionId, taskId, jobTag, cols)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new TableDataWriter(path, layout, partitionId, taskId, s"e$epochId", cols)
}

/** THE job commit of a batch table write, for both flavors: an append
  * (`retired` empty) or a replace that retires every listed entry whose
  * file name `retired` accepts — the whole listing for an evolve truncate,
  * the matched langs for a digest overwrite-by-filter (q186), everything
  * for the group-based rewrite (q203/q204).
  *
  * No batch job may REUSE a committed file name. For history-retaining
  * tables an in-place rewrite would silently corrupt every older
  * `_MANIFEST.v<N>` that names it; for plain tables a SECOND APPEND whose
  * task partition ids repeat would rename over a committed file while the
  * manifest keeps both entries — double-counted metadata over clobbered
  * data (caught live by q242's second commit re-using a lang). So each JOB
  * gets a unique tag woven into its final file names, chosen once at
  * construction (one tag per job however many tasks/attempts run), and
  * the commit REFUSES a fresh name that survives in the listing, so the
  * bug class stays loud, not silent.
  */
class TableBatchWrite(path: String, layout: TableLayout,
    ref: String = DigestManifest.MainRef,
    retired: Option[String => Boolean] = None,
    retainHistory: Boolean = false,
    cols: Array[Int] = Array.empty) extends BatchWrite {
  private val jobTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    LayoutWriterFactory(path, layout, jobTag, cols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    def name(line: String): String = line.takeWhile(_ != ',')
    val fresh = messages.toSeq.flatMap(layout.lines).sorted
    // plan against the REGISTERED head, remembering its version: an
    // append rebases onto any commit that lands between this read and the
    // publish (cross-process CAS), a replace aborts
    val (baseVersion, old) = DigestManifest.head(path, ref)
    val (dead, surviving) =
      retired.fold((Seq.empty[String], old))(r => old.partition(l => r(name(l))))
    // a fresh file may share a name only with an entry this very commit
    // RETIRES (the legacy rename-in-place overwrite), never with one that
    // survives
    val survivingNames = surviving.map(name).toSet
    val clashes = fresh.map(name).filter(survivingNames.contains)
    require(clashes.isEmpty,
      s"${layout.label}: job would commit file names already in the manifest " +
        s"(${clashes.mkString(",")}) — jobs must write job-unique names")
    // job-level commit point: publish the listing atomically FIRST, so it
    // never names an already-deleted file. ORDER CONTRACT: `surviving`
    // keeps its committed order untouched and `fresh` appends after it —
    // merge-on-read replays delta entries in manifest order, and
    // job-unique `delta-j<tag>-` names do NOT sort chronologically
    if (retired.isEmpty) DigestManifest.publishAppend(path, fresh, baseVersion, ref)
    else DigestManifest.publishReplace(path, surviving ++ fresh, baseVersion, ref)
    // physical deletion of the retired files follows, skipped entirely
    // when the table retains history (old versions stay resolvable). A
    // fresh file may land on the SAME final name as the dead entry it
    // replaces (same lang, same partition id — rename-in-place): deleting
    // by old name would destroy the just-committed file, so the fresh
    // names are carved out of the deletion set
    if (!retainHistory) {
      val freshNames = fresh.map(name).toSet
      dead.map(name).filterNot(freshNames.contains)
        .foreach(f => Files.deleteIfExists(Paths.get(path, f)))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedFiles.sweep(path)
}

// ---------------------------------------------------------------------------
// DELETION-VECTOR row-level operations (q252/q256, and the declared schema
// since round 18): `SupportsDelta` with rowId = (_file, _pos) — the
// table's METADATA COLUMNS, the Iceberg position-delete shape — makes
// Spark plan WriteDelta projecting each deleted row's physical
// coordinates. Deletes fold as bitmap growth on the entry, UPDATE/MERGE
// arrive as delete+insert pairs, insert halves land as fresh files, and
// the whole change publishes as ONE replace against the version the scan
// planned from. Base files stay byte-identical.
// ---------------------------------------------------------------------------
class DvOperation(path: String, layout: TableLayout,
    cmd: RowLevelOperation.Command, ref: String = DigestManifest.MainRef)
    extends RowLevelOperation with SupportsDelta {

  // the version the operation's scan plans against: the commit validates
  // the head has not moved past it (a DV computed from stale positions
  // must never be folded into a listing it did not read)
  private val baseVersion = DigestManifest.currentVersion(path, ref)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"${layout.label} dv $cmd"

  // UPDATE/MERGE ride the SAME two primitives as DELETE (q256): an
  // update is a position delete of the old row plus an append of the new
  // one — the Iceberg merge-on-read UPDATE shape — so the writer only
  // ever sees the two verbs it can commit as metadata + fresh files
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    layout.dvScan(path, ref)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val rid = info.rowIdSchema().orElseThrow(() => new IllegalStateException(
      s"${layout.label} dv: WriteDelta planned without a rowId schema"))
    val fileIdx = rid.fieldIndex("_file")
    val posIdx = rid.fieldIndex("_pos")
    // inserts (from MERGE NOT MATCHED and the insert half of updates)
    // arrive in the rewritten query's column order — resolve BY NAME. A
    // pure DELETE plans an EMPTY data schema (only rowId is projected):
    // no insert verb can arrive, so no data columns to resolve.
    val sch = info.schema()
    val cols =
      if (layout.insertCols.forall(sch.fieldNames.contains))
        layout.insertCols.map(sch.fieldIndex).toArray
      else Array.empty[Int]
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch(): DeltaBatchWrite =
          new DvBatchWrite(path, layout, baseVersion, fileIdx, posIdx, cols, ref)
      }
    }
  }
}

case class DvCommitMessage(deletes: Map[String, Array[Long]],
    inserts: Option[TableCommitMessage] = None)
    extends WriterCommitMessage

/** DV task writer: position deletes accumulate in memory (they are pure
  * metadata), inserts stream through the layout's staged writer — one
  * task commit message carries both halves. A top-level case class: it
  * ships to executors.
  */
case class DvWriterFactory(path: String, layout: TableLayout,
    fileIdx: Int, posIdx: Int, cols: Array[Int], jobTag: String)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dels = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
      private var ins: TableDataWriter = _
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
          mutable.ArrayBuffer.empty) += id.getLong(posIdx)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new IllegalStateException(
          s"${layout.label} dv: updates must arrive as delete+insert pairs")
      override def insert(row: InternalRow): Unit = {
        require(cols.nonEmpty,
          s"${layout.label} dv: insert arrived without resolvable data columns")
        if (ins == null)
          ins = new TableDataWriter(path, layout, partitionId, taskId, jobTag, cols)
        ins.write(row)
      }
      override def reinsert(meta: InternalRow, row: InternalRow): Unit = insert(row)
      override def commit(): WriterCommitMessage =
        DvCommitMessage(dels.view.mapValues(_.toArray).toMap,
          Option(ins).map(_.commit()))
      override def abort(): Unit = if (ins != null) ins.abort()
      override def close(): Unit = ()
    }
}

class DvBatchWrite(path: String, layout: TableLayout, baseVersion: Int,
    fileIdx: Int, posIdx: Int, cols: Array[Int],
    ref: String = DigestManifest.MainRef) extends DeltaBatchWrite {

  // one unique tag per job (same contract as TableBatchWrite): insert
  // halves land as globally-unique final file names
  private val jobTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    DvWriterFactory(path, layout, fileIdx, posIdx, cols, jobTag)

  // job commit: fold every task's (file → positions) into the listing —
  // union with any existing DV, decrement the entry's live-row count —
  // append the insert halves' fresh entries, and publish ONE replace
  // against the version the scan planned from (positions computed
  // against a moved head would mask the wrong rows, so a stale base
  // aborts loudly). Deletes and inserts commit atomically: no reader can
  // see an update's halves separately.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val merged = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    val fresh = mutable.ArrayBuffer.empty[String]
    messages.foreach {
      case DvCommitMessage(dels, ins) =>
        dels.foreach { case (f, ps) =>
          merged.getOrElseUpdate(f, mutable.ArrayBuffer.empty) ++= ps
        }
        ins.foreach(fresh ++= layout.lines(_))
      case m => throw new IllegalStateException(s"${layout.label} dv: unexpected $m")
    }
    if (merged.isEmpty && fresh.isEmpty) return // matched no rows: no commit
    val (hv, lines) = DigestManifest.head(path, ref)
    if (hv != baseVersion)
      throw new java.util.ConcurrentModificationException(
        s"${layout.label}: DV operation planned against version $baseVersion " +
          s"but the head is now $hv; re-run it")
    val known = lines.map(_.split(",")(0)).toSet
    val unknown = merged.keys.filterNot(known.contains)
    require(unknown.isEmpty,
      s"${layout.label} dv: deletes target files absent from the listing: $unknown")
    // the insert halves are real data files — they carry the table's
    // DECLARED zone/bloom attrs exactly like a plain INSERT's files, or
    // point-lookup pruning silently degrades as the table is mutated
    val adds = fresh.toSeq.sorted
    val clashes = adds.map(_.split(",")(0)).filter(known.contains)
    require(clashes.isEmpty,
      s"${layout.label} dv: job would commit file names already in the " +
        s"manifest (${clashes.mkString(",")})")
    // the commit KNOWS its own change records (in-place DV mutations +
    // appended insert halves) — collected while building the listing, so
    // the publish never re-diffs O(table) lines
    val records = mutable.ArrayBuffer.empty[String]
    val mutatedLines = lines.map { l =>
      val (file, dv0) = layout.fileAndDv(l)
      merged.get(file).fold(l) { ps =>
        var dv = DvCodec.decode(dv0)
        ps.foreach { p =>
          // the scan masks already-deleted positions, so a repeat here
          // means two writers raced the same base — the require is the
          // loud backstop behind the version check above
          require(!DvCodec.contains(dv, p),
            s"${layout.label} dv: position $p of $file is already deleted")
          dv = DvCodec.add(dv, p)
        }
        val nl = layout.withDv(l, DvCodec.encode(dv), ps.size.toLong)
        records += s"~$l|$nl"
        nl
      }
    }
    records ++= adds.map("+" + _)
    DigestManifest.publishReplace(path, mutatedLines ++ adds, baseVersion,
      ref, Some(records.toSeq))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedFiles.sweep(path)
}

// ---------------------------------------------------------------------------
// STREAMING: the table's commit log as a sink (q234) and as a source
// (q242/q244).
// ---------------------------------------------------------------------------

/** `writeStream.toTable(...)` into a table's OWN commit log (q234): each
  * epoch writes through the layout's insert writers with the EPOCH as its
  * job tag, so a replayed epoch (driver failure between sink commit and
  * checkpoint write-ahead) rewrites its own byte-identical final names,
  * and the epoch's manifest append skips the entries the log already
  * holds. Every epoch becomes one `_MANIFEST.v<N>` version carrying the
  * declared zone/bloom attrs like any batch commit, so batch readers,
  * time travel and partition DDL see streamed data the moment its epoch
  * commits — the [[EpochSink]] exactly-once shape, inside the table.
  */
class TableStreamingWrite(path: String, layout: TableLayout,
    ref: String = DigestManifest.MainRef) extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    LayoutWriterFactory(path, layout)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (baseVersion, old) = DigestManifest.head(path, ref)
    // replay idempotency: entries the manifest already holds win. Only
    // THIS epoch's own names can collide (they carry its marker), so the
    // dedup set is O(epoch files), not the whole folded listing — the
    // O(changes)-per-commit discipline at 10⁶+ entry tables
    val marker = layout.epochMarker(epochId)
    val epochNames = old.iterator.map(_.split(",")(0))
      .filter(_.contains(marker)).toSet
    val lines = messages.toSeq.flatMap(layout.lines).sorted
      .filterNot(l => epochNames.contains(l.split(",")(0)))
    if (lines.nonEmpty)
      DigestManifest.publishAppend(path, lines, baseVersion, ref)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    StagedFiles.sweep(path, _.contains(layout.epochMarker(epochId)))
}

/** STREAMING READ of a table (q242): the commit log doubles as a stream —
  * offsets ARE manifest versions, and each micro-batch reads exactly the
  * files ADDED in `(start, end]`. This is the "table as queue" capability
  * every lakehouse format ships: downstream jobs consume a 100 TB table
  * incrementally, paying O(new files) per trigger, with exactly-once
  * delivery riding on the engine's offset checkpointing (offsets are
  * durable versions, so replanning a batch after restart yields the same
  * files). On the declared schema each file's cells resolve BY FIELD ID
  * against the reader's schema, so a mid-stream RENAME never re-keys
  * history.
  *
  * Append-only by contract: a version that REMOVES files (overwrite,
  * DELETE, compaction) or grows a deletion vector is not expressible as
  * an append stream — the planner REFUSES it loudly instead of silently
  * re-emitting or dropping rows (restart from a fresh checkpoint, or
  * consume the changes feed, which does represent deletes).
  */
class TableMicroBatchStream(path: String, layout: TableLayout,
    ref: String = DigestManifest.MainRef,
    maxVersionsPerTrigger: Option[Int] = None) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def offset(v: Int) = DigestVersionOffset(v)

  // ADMISSION CONTROL (q243): `maxVersionsPerTrigger` caps how many
  // COMMITS one micro-batch absorbs — the bounded-backfill control every
  // production table-stream ships (Delta's maxFilesPerTrigger, Kafka's
  // maxOffsetsPerTrigger). Under Trigger.AvailableNow the drain TARGET is
  // pinned before batch one, so the run processes exactly the pinned
  // backlog in ⌈backlog/n⌉ batches and terminates even while new commits
  // keep landing.
  @volatile private var pinned: Option[Int] = None
  private def live: Int =
    pinned.getOrElse(DigestManifest.currentVersion(path, ref))

  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(DigestManifest.currentVersion(path, ref))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.fold(ReadLimit.allAvailable())(n => ReadLimit.maxFiles(n))

  override def initialOffset(): Offset = offset(0)
  override def latestOffset(): Offset = offset(live)
  override def reportLatestOffset(): Offset = offset(live)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DigestVersionOffset].v
    val step = limit match {
      case mf: ReadMaxFiles => mf.maxFiles()
      case _ => math.max(live - s, 0)
    }
    offset(math.min(s + math.max(step, 1), live))
  }

  override def deserializeOffset(json: String): Offset = offset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DigestVersionOffset].v
    val e = end.asInstanceOf[DigestVersionOffset].v
    val label = s"${layout.label} streaming"
    // REGISTERED versions only (see [[DigestChanges.registeredVersions]]):
    // an orphaned claim from a crashed committer leaves a snapshot file
    // whose content was never committed — diffing against it would serve
    // phantom rows
    val registered = DigestChanges.registeredVersions(path, ref)
    val versions = registered.filter(v => v > s && v <= e)
    // (file, dv, line) per entry of one version
    def entriesAt(v: Int): Seq[(String, String, String)] =
      if (v == 0) Seq.empty
      else {
        require(Files.exists(
            Paths.get(path, s"${DigestManifest.mName(ref)}.v$v")),
          s"$label: version $v of ref '$ref' is not resolvable at $path " +
            "(expired? snapshots must be retained)")
        DigestManifest.listingAt(path, ref, v).map { l =>
          val (file, dv) = layout.fileAndDv(l)
          (file, dv, l)
        }
      }
    // snap the diff base to the last REGISTERED version <= s: an
    // admission-control step can checkpoint an offset that lands exactly
    // on an orphaned claim, and diffing against that phantom listing
    // would wedge the stream at that checkpoint forever
    var prevV = registered.filter(_ <= s).lastOption.getOrElse(0)
    versions.flatMap { v =>
      val prev = entriesAt(prevV).map(en => en._1 -> en._2).toMap
      val curE = entriesAt(v)
      prevV = v
      val removed = prev.keySet -- curE.map(_._1).toSet
      require(removed.isEmpty,
        s"$label: version $v removed files " +
          s"${removed.toSeq.sorted.mkString(",")} — a streaming read is " +
          "append-only; restart from a fresh checkpoint or read the changes feed")
      // a deletion-vector commit (q252) modifies a surviving entry in
      // place — deletes are no more representable in an append stream
      // than file removals, so refuse just as loudly
      val masked = curE.filter(en => prev.get(en._1).exists(_ != en._2))
      require(masked.isEmpty,
        s"$label: version $v committed deletion vectors on " +
          s"${masked.map(_._1).sorted.mkString(",")} — a streaming read " +
          "is append-only; read the changes feed")
      val added = curE.filterNot(en => prev.contains(en._1))
      require(!added.exists(_._1.startsWith("delta-")),
        s"$label: version $v committed delta-log files — " +
          "stream the compacted table instead")
      added.map(en => layout.streamPartition(path, en._3))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    layout.streamReaderFactory
}

/** Streaming form of a change feed (q244): offsets are manifest versions
  * (as in [[TableMicroBatchStream]]) but each batch carries the CHANGE
  * rows of its version range — including deletes and compaction skips,
  * which the append-only table stream cannot represent. Downstream CDC
  * consumers tail the table's commit log, paying O(changes) per trigger;
  * `readers` materializes the flavor's change rows.
  */
class ChangesMicroBatchStream(path: String, from: Int, ref: String,
    readers: PartitionReaderFactory) extends MicroBatchStream {
  private def offset(v: Int) = DigestVersionOffset(v)
  override def initialOffset(): Offset = offset(from)
  override def latestOffset(): Offset =
    offset(DigestManifest.currentVersion(path, ref))
  override def deserializeOffset(json: String): Offset = offset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    DigestChanges.plan(path,
      start.asInstanceOf[DigestVersionOffset].v,
      end.asInstanceOf[DigestVersionOffset].v, ref).toArray
  override def createReaderFactory(): PartitionReaderFactory = readers
}
