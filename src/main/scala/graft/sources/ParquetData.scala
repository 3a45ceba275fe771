package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
// the OLD-API split class: Spark's reader base casts its mapreduce split
// to mapred.FileSplit, which (Hadoop 2+) extends the mapreduce one
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The COLUMNAR data plane of the graft digest table
  * (TBLPROPERTIES `'format'='parquet'`): data files are Parquet —
  * dictionary/RLE-encoded, snappy-compressed, multi-row-group — served
  * through Spark's own vectorized `ColumnarBatch` reader with per-ROW-GROUP
  * statistics pruning layered UNDER the manifest's per-file zone maps
  * (q253). The metadata plane (manifest, DVs, CDF, zones) is byte-format
  * agnostic: an entry names a file and the reader dispatches on its
  * extension, so CSV- and parquet-backed files can even coexist in one
  * table across a format migration.
  *
  * At 100 TB this layer is the dominant cost: a row-CSV plane re-parses
  * every byte of every surviving file per scan; this plane decodes only
  * the requested columns of only the row groups whose (min, max) overlap
  * the pushed ranges, in 4k-row vectorized batches that feed whole-stage
  * codegen directly.
  */
object ParquetData {
  val Ext = ".parquet"
  def isParquet(file: String): Boolean = file.endsWith(Ext)

  /** One Hadoop conf per use: RAW local fs (no `.crc` sidecars — staged
    * files are renamed into place, which would orphan checksums), cache
    * disabled so the raw override actually takes effect (the global
    * FileSystem cache keys by scheme, not by conf).
    */
  private[sources] def hconf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** One row group's footer view: its global row offset (DV positions are
    * file-global row indexes — group offsets recover them under pruning),
    * byte extent (for midpoint-addressed split reads), and per-column
    * (min, max) for the zone-mappable columns.
    */
  case class RowGroup(index: Int, rowStart: Long, rows: Long,
      startPos: Long, bytes: Long, mins: Map[String, Long],
      maxs: Map[String, Long])

  private def groupsOf(r: ParquetFileReader): Seq[RowGroup] = {
    var rowStart = 0L
    r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
      // every INT64 column's (min, max) — generic: the digest plane
      // prunes on its zone-map columns, the evolve plane on any of its
      // declared BIGINT zone columns (id-addressed `c<id>` names)
      val stats = b.getColumns.asScala.flatMap { c =>
        val name = c.getPath.toDotString
        val s = c.getStatistics
        if (s == null || !s.hasNonNullValue) None
        else (s.genericGetMin, s.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            Some(name -> (mn.longValue(), mx.longValue()))
          case _ => None
        }
      }.toMap
      val g = RowGroup(i, rowStart, b.getRowCount, b.getStartingPos,
        b.getCompressedSize, stats.view.mapValues(_._1).toMap,
        stats.view.mapValues(_._2).toMap)
      rowStart += b.getRowCount
      g
    }
  }

  /** Probed-point cap per column for row-group bloom exclusion: past
    * this, plan-time probing is O(groups × ids) against filters that
    * exclude almost nothing (a large join-delivered In-set nearly always
    * hits SOME id per group), so — like Spark's own runtime-filter
    * thresholds — the bloom layer bows out and the (min,max) stats layer
    * alone prunes. Declining to probe never drops data; it only declines
    * an exclusion.
    */
  val BloomProbeMaxPoints: Int = 256

  /** Footer read + bloom probing in ONE file open: the row-group listing
    * and the bloom-excluded indexes come from the same
    * `ParquetFileReader`, so point-set planning costs one footer
    * round-trip per file instead of two.
    */
  def rowGroupsWithBloomExclusions(file: Path,
      points: Map[String, Set[Long]]): (Seq[RowGroup], Set[Int]) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file.toUri), hconf()))
    try (groupsOf(r), bloomExclusions(r, points)) finally r.close()
  }

  /** Row-group indexes whose stored BLOOM FILTER excludes EVERY probed
    * point of some column (round-19): the in-file layer of the q278
    * point-lookup rule, for large files where the manifest-attr filter
    * is saturation-gated off and shuffled ingest leaves the row-group
    * (min,max) stats wide. A group without a filter for a probed column
    * is never excluded — absent metadata never drops data; a column
    * probed with more than [[BloomProbeMaxPoints]] ids is not probed at
    * all (the exclusion would almost never fire and the probing is
    * O(groups × ids); [[TableRows.select]] counts the bow-out).
    */
  private def bloomExclusions(r: ParquetFileReader,
      points: Map[String, Set[Long]]): Set[Int] = {
    val probed = points.filter { case (_, ids) =>
      ids.nonEmpty && ids.size <= BloomProbeMaxPoints
    }
    if (probed.isEmpty) return Set.empty
    r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, i) =>
      val bfr = r.getBloomFilterDataReader(b)
      val excluded = probed.exists { case (colName, ids) =>
        b.getColumns.asScala.find(_.getPath.toDotString == colName)
          .exists { c =>
            val bf = bfr.readBloomFilter(c)
            bf != null && !ids.exists(p => bf.findHash(bf.hash(p)))
          }
      }
      if (excluded) Some(i) else None
    }.toSet
  }

  /** Row groups surviving the pushed closed ranges (`col -> [lo, hi]`):
    * the per-ROW-GROUP layer of the same data-skipping rule the scan
    * applies per FILE off the manifest zones — a group missing stats for
    * a ranged column is always kept (absent metadata never drops data).
    */
  def survivingGroups(groups: Seq[RowGroup],
      ranges: Map[String, (Long, Long)]): Seq[RowGroup] =
    groups.filter { g =>
      ranges.forall { case (c, (lo, hi)) =>
        (g.mins.get(c), g.maxs.get(c)) match {
          case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
          case _ => true
        }
      }
    }

  /** Open Spark's vectorized reader over one CONTIGUOUS byte range of
    * row groups (parquet's split semantics pick every group whose
    * midpoint falls inside the range, so exact group extents select
    * exactly those groups). `requested` drives in-file COLUMN pruning:
    * only its columns' chunks are read and decoded.
    */
  def openRange(file: Path, requested: StructType, start: Long,
      length: Long): VectorizedParquetRecordReader = {
    val reader = new VectorizedParquetRecordReader(false, 4096)
    val conf = hconf()
    conf.set(org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport].getName)
    // the session-conf keys Spark's file source plants before handing the
    // conf to this reader (it reads them raw, with no defaults)
    val sc = org.apache.spark.sql.internal.SQLConf
    conf.setBoolean(sc.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(sc.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(sc.CASE_SENSITIVE.key, false)
    conf.setBoolean(sc.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(sc.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    conf.setBoolean(sc.NESTED_SCHEMA_PRUNING_ENABLED.key, true)
    conf.set(sc.SESSION_LOCAL_TIMEZONE.key, java.time.ZoneId.systemDefault().getId)
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val split = new FileSplit(new HPath(file.toUri), start, length,
      Array.empty[String])
    try {
      reader.initialize(split, ctx)
      reader.initBatch(new StructType(), InternalRow.empty)
      reader
    } catch { case t: Throwable => reader.close(); throw t }
  }

  /** Contiguous runs of selected groups — one vectorized reader per run
    * instead of per group.
    */
  def contiguousRuns(selected: Seq[RowGroup]): Seq[Seq[RowGroup]] =
    selected.foldLeft(Vector.empty[Vector[RowGroup]]) { (runs, g) =>
      if (runs.nonEmpty && runs.last.last.index + 1 == g.index)
        runs.init :+ (runs.last :+ g)
      else runs :+ Vector(g)
    }

  /** Vectorized batch iterator over the selected row groups, tagged with
    * each batch's FILE-GLOBAL starting row position (how DV masks stay
    * position-exact under row-group pruning). Closes readers as runs
    * drain; `close()` for early termination (limits).
    */
  final class BatchIterator(file: Path, requested: StructType,
      selected: Seq[RowGroup]) extends Iterator[(ColumnarBatch, Long)]
      with AutoCloseable {
    private val runs = contiguousRuns(selected).iterator
    private var reader: VectorizedParquetRecordReader = _
    private var rowCursor = 0L
    private var pending: ColumnarBatch = _
    private var runExpected = 0L
    private var runServed = 0L

    private def advance(): Unit = {
      while (pending == null) {
        if (reader == null) {
          if (!runs.hasNext) return
          val run = runs.next()
          rowCursor = run.head.rowStart
          runExpected = run.map(_.rows).sum
          runServed = 0L
          // observability for the column-pruning lock (q272): chunks
          // decoded = groups in the run × columns actually requested
          DigestSink.columnChunkReadEvents.addAndGet(
            run.size.toLong * requested.fields.length)
          // split length from BLOCK OFFSETS, not a sum of compressed
          // sizes: parquet split selection is midpoint-based against
          // actual block extents, and any inter-block gap (padding, bloom
          // filters, a future writer) would make the size-sum undercount
          // the extent and silently drop the run's last group
          reader = openRange(file, requested, run.head.startPos,
            run.last.startPos + run.last.bytes - run.head.startPos)
        }
        if (reader.nextBatch()) pending = reader.resultBatch()
        else {
          reader.close(); reader = null
          // the DV masks key off file-global row positions derived from
          // the footer's per-group row counts — a reader that served a
          // different count would desynchronize every downstream mask
          require(runServed == runExpected,
            s"graft_digest parquet: run served $runServed rows, footer " +
              s"says $runExpected ($file) — split selection drifted")
        }
      }
    }

    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): (ColumnarBatch, Long) = {
      advance()
      val b = pending
      pending = null
      val at = rowCursor
      rowCursor += b.numRows()
      runServed += b.numRows()
      (b, at)
    }
    override def close(): Unit =
      if (reader != null) { reader.close(); reader = null }
  }

  // ---- the write side: one row writer for every table's data files -------

  /** The parquet message of a table's data-file columns: a column is
    * `required` exactly when its field is non-nullable (the digest
    * schema), `optional` otherwise. Column names are the caller's (the
    * evolve plane passes `c<fieldId>` so RENAME stays a metadata op —
    * bytes are addressed by id, never by the mutable name).
    */
  def messageType(name: String, cols: Seq[StructField]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      f.dataType match {
        case LongType => b.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case DoubleType => b.primitive(PrimitiveTypeName.DOUBLE, rep).named(f.name)
        case StringType => b.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case other => throw new IllegalArgumentException(
          s"graft parquet plane: unsupported column type ${other.sql} for '${f.name}'")
      }
    }
    b.named(name)
  }

  /** Candidate sizes of the adaptive bloom filter: they halve from
    * parquet's 1 MB maximum down to 32 bytes, and each row group keeps
    * the smallest candidate that holds its distinct values at the default
    * false-positive rate — a 1-row group no longer writes 1 MB.
    */
  val BloomCandidates: Int = 16

  /** Row-at-a-time writer onto a staged path; encoding is columnar inside
    * the writer (that is Parquet's job — the write side of a columnar
    * plane is always row-fed by the engine's `DataWriter` contract).
    * `values` align positionally with the schema's columns; null cells are
    * parquet nulls. `rowGroupBytes` bounds each row group, so files carry
    * MULTIPLE independently-prunable groups (the in-file twin of the
    * manifest's file zones); `bloomCols` carry a per-ROW-GROUP bloom
    * filter, parquet's own adaptive filter, read back through
    * BloomFilterReader at plan time.
    */
  final class GenericRowsWriter(staged: Path, schema: MessageType,
      rowGroupBytes: Long, rowGroupRows: Int = Int.MaxValue,
      bloomCols: Seq[String] = Nil) {
    private val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    private val w = {
      val b = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(new HPath(staged.toUri), hconf()))
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withRowGroupSize(rowGroupBytes)
        // the byte bound's size check only starts at ~100 buffered
        // records, so tiny-fixture tables additionally bound by ROW COUNT
        // to get multi-group files ('parquet.rowgroup.rows'); production
        // tables leave it unbounded and split by bytes
        .withRowGroupRowCountLimit(rowGroupRows)
        .withPageSize(math.max(1024L, math.min(rowGroupBytes / 4, 1L << 20)).toInt)
        .withDictionaryEncoding(true)
      bloomCols.foldLeft(b.withAdaptiveBloomFilterEnabled(bloomCols.nonEmpty))((bb, c) =>
        bb.withBloomFilterEnabled(c, true).withBloomFilterCandidateNumber(c, BloomCandidates))
        .build()
    }
    def write(values: Array[Any]): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < values.length) {
        values(i) match {
          case null => ()
          case v: Long => g.add(i, v)
          case v: Double => g.add(i, v)
          case v: String => g.add(i, v)
          case v => throw new IllegalArgumentException(
            s"graft parquet plane: unsupported cell $v at $i")
        }
        i += 1
      }
      w.write(g)
    }
    def close(): Unit = w.close()
  }
}
