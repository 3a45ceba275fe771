package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomCodec, DataPlane, EvolveField, TableLayout}

/** Golden output of the table task writers: fixed rows under a fixed job
  * tag, written through each flavor (flat digest, lang-split digest,
  * evolve) on each data plane (CSV, parquet), with declared zone and bloom
  * columns. Pins the final file names, the CSV bytes, the manifest lines
  * the layout renders and, for parquet, each column's repetition and which
  * columns carry an in-file bloom filter — the bytes every table's
  * metadata and the oracle hashes are computed over.
  */
class TableWriterSpec extends AnyFunSuite {

  private val Tag = "gold"
  private val Part = 3
  private val Task = 77L

  private def s(v: String) = UTF8String.fromString(v)
  private def bloom(ids: Long*): String = {
    val b = BloomCodec.newBuild()
    ids.foreach(BloomCodec.add(b, _))
    BloomCodec.encodeIfUseful(b, ids.size.toLong).get
  }

  private val digestRows =
    Seq(InternalRow(1L, s("en"), 10L), InternalRow(2L, s("de"), 20L),
      InternalRow(3L, s("en"), 30L))

  private val evolveFields = Seq(EvolveField(1, "id", LongType),
    EvolveField(2, "name", StringType), EvolveField(3, "score", DoubleType),
    EvolveField(4, "n", LongType))
  private val evolveRows =
    Seq(InternalRow(5L, s("a"), 1.5, 10L), InternalRow(2L, null, null, 20L),
      InternalRow(9L, s("c"), 0.25, null))

  /** One writer case: its layout, a constructor for its task writer in
    * `dir`, its rows, and per final file name (CSV bytes, manifest line).
    */
  private case class Case(name: String, layout: TableLayout,
      writer: String => DataWriter[InternalRow], rows: Seq[InternalRow],
      files: Map[String, (String, String)])

  private def digestLayout(plane: DataPlane, langSplit: Boolean) =
    TableLayout.Digest(plane, Set("doc_id", "n_chars"), Set("doc_id"), langSplit)

  private def cases(plane: DataPlane): Seq[Case] = {
    val ext = plane.ext
    val flat = digestLayout(plane, langSplit = false)
    val split = digestLayout(plane, langSplit = true)
    val evolve = TableLayout.Evolve(evolveFields, plane, Seq(1, 4), Seq(1))
    Seq(
      Case("flat digest", flat,
        dir => graft.sources.LayoutWriterFactory(dir, flat, Tag)
          .createWriter(Part, Task),
        digestRows,
        Map(s"jgold-part-00003$ext" -> ("1,en,10\n2,de,20\n3,en,30\n",
          s"jgold-part-00003$ext,3,bf=${bloom(1, 2, 3)},nmax=30,nmin=10," +
            "zmax=3,zmin=1"))),
      Case("lang-split digest", split,
        dir => graft.sources.LayoutWriterFactory(dir, split, Tag)
          .createWriter(Part, Task),
        digestRows,
        Map(
          s"lang_en-jgold-part-00003$ext" -> ("1,en,10\n3,en,30\n",
            s"lang_en-jgold-part-00003$ext,2,bf=${bloom(1, 3)},nmax=30," +
              "nmin=10,zmax=3,zmin=1"),
          s"lang_de-jgold-part-00003$ext" -> ("2,de,20\n",
            s"lang_de-jgold-part-00003$ext,1,bf=${bloom(2)},nmax=20," +
              "nmin=20,zmax=2,zmin=2"))),
      Case("evolve", evolve,
        dir => graft.sources.LayoutWriterFactory(dir, evolve, Tag)
          .createWriter(Part, Task),
        evolveRows,
        Map(s"ev-jgold-part-00003$ext" -> ("5,a,1.5,10\n2,\\N,\\N,20\n9,c,0.25,\\N\n",
          s"ev-jgold-part-00003$ext,3,bf.c1=${bloom(5, 2, 9)},ids=1;2;3;4," +
            "zmax.c1=9,zmax.c4=20,zmin.c1=2,zmin.c4=10"))))
  }

  private def listing(dir: java.nio.file.Path): Seq[String] = {
    val l = java.nio.file.Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toVector.sorted
    finally l.close()
  }

  /** A parquet file's footer message name and, per column, (name,
    * required?, carries an in-file bloom filter?).
    */
  private def parquetColumns(f: java.nio.file.Path)
      : (String, Seq[(String, Boolean, Boolean)]) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(f.toUri), new Configuration()))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val block = r.getFooter.getBlocks.get(0)
      val bf = r.getBloomFilterDataReader(block)
      (schema.getName, schema.getFields.asScala.toSeq.map { t =>
        val chunk = block.getColumns.asScala.find(_.getPath.toDotString == t.getName).get
        (t.getName, t.getRepetition == Repetition.REQUIRED,
          bf.readBloomFilter(chunk) != null)
      })
    } finally r.close()
  }

  private def run(c: Case): (java.nio.file.Path, Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_writer_golden_")
    val w = c.writer(dir.toString)
    c.rows.foreach(w.write)
    val lines = c.layout.lines(w.commit())
    w.close()
    (dir, lines)
  }

  test("CSV plane: every flavor's writer emits the golden file names, bytes " +
      "and manifest lines") {
    cases(DataPlane.Csv).foreach { c =>
      val (dir, lines) = run(c)
      assert(listing(dir) == c.files.keys.toSeq.sorted, c.name)
      c.files.foreach { case (f, (bytes, _)) =>
        assert(new String(java.nio.file.Files.readAllBytes(dir.resolve(f)),
          "UTF-8") == bytes, s"${c.name}: $f")
      }
      assert(lines.sorted == c.files.values.map(_._2).toSeq.sorted, c.name)
    }
  }

  test("parquet plane: every flavor's writer emits the golden file names " +
      "and manifest lines, required columns exactly where the schema is " +
      "non-nullable, and in-file blooms on the bloom columns") {
    val expectCols = Map(
      "flat digest" -> Seq(("doc_id", true, true), ("lang", true, false),
        ("n_chars", true, false)),
      "lang-split digest" -> Seq(("doc_id", true, true), ("lang", true, false),
        ("n_chars", true, false)),
      "evolve" -> Seq(("c1", false, true), ("c2", false, false),
        ("c3", false, false), ("c4", false, false)))
    cases(DataPlane("parquet")).foreach { c =>
      val (dir, lines) = run(c)
      assert(listing(dir) == c.files.keys.toSeq.sorted, c.name)
      assert(lines.sorted == c.files.values.map(_._2).toSeq.sorted, c.name)
      c.files.keys.foreach { f =>
        assert(parquetColumns(dir.resolve(f)) == (c.layout.label, expectCols(c.name)),
          s"${c.name}: $f")
      }
    }
  }

  test("a retried task attempt publishes one final file and one manifest " +
      "entry and leaves nothing staged: batch insert, epoch and delta-log " +
      "writers") {
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import graft.sources.{DigestDeltaBatchWrite, DigestManifest, TableBatchWrite, TableStreamingWrite}
    val layout = TableLayout.Evolve(evolveFields)
    // a task attempt that wrote one row: its task commit and task abort
    type Attempt = (() => WriterCommitMessage, () => Unit)
    def data(w: DataWriter[InternalRow], row: InternalRow): Attempt = {
      w.write(row)
      (() => w.commit(), () => w.abort())
    }
    // per writer: start attempt `task` of partition `Part`, and the job
    // or epoch commit over the task messages
    def writers(dir: String): Seq[(String, Long => Attempt, Array[WriterCommitMessage] => Unit)] = {
      val batch = new TableBatchWrite(dir, layout)
      val stream = new TableStreamingWrite(dir, layout)
      val delta = new DigestDeltaBatchWrite(dir, Array(0, 1, 2))
      Seq(
        ("batch insert",
          t => data(batch.createBatchWriterFactory(null).createWriter(Part, t),
            evolveRows.head),
          ms => batch.commit(ms)),
        ("epoch",
          t => data(stream.createStreamingWriterFactory(null)
            .createWriter(Part, t, 5L), evolveRows.head),
          ms => stream.commit(5L, ms)),
        ("delta log",
          { t =>
            val w = delta.createBatchWriterFactory(null).createWriter(Part, t)
            w.insert(digestRows.head)
            (() => w.commit(), () => w.abort())
          },
          ms => delta.commit(ms)))
    }
    for (killed <- Seq(true, false); i <- 0 until 3) {
      val dir = java.nio.file.Files.createTempDirectory("graft_retry_spec_")
      val (name, attempt, commitJob) = writers(dir.toString)(i)
      // attempt 1 is left staged, as a killed task leaves it, or aborted
      val first = attempt(1L)
      if (!killed) first._2()
      // attempt 2 of the same partition commits, then the job or epoch
      commitJob(Array(attempt(2L)._1()))
      val what = s"$name, first attempt ${if (killed) "killed" else "aborted"}"
      val files = listing(dir).filterNot(_.startsWith("_"))
      assert(files.size == 1 && !files.head.endsWith(".staged"), s"$what: $files")
      val entries = DigestManifest.listingFor(dir.toString, "_MANIFEST")
      assert(entries.map(_.takeWhile(_ != ',')) == files, s"$what: $entries")
    }
  }
}
