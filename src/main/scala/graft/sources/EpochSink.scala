package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The STREAMING half of the custom DataSource V2 write surface
  * ([[DigestSink]] is the batch half): `Write.toStreaming` → per-epoch
  * writer factory → epoch-scoped two-phase commit. This is the
  * exactly-once contract every transactional streaming sink (Kafka EOS,
  * table-format streaming commits) implements, reduced to its protocol
  * skeleton:
  *
  *   - `StreamingDataWriterFactory.createWriter(partition, task, EPOCH)`
  *     — the epoch (micro-batch id) reaches every task, so all output is
  *     epoch-addressed: staged as `epoch-E-part-P-attempt-T.staged`,
  *     finalized as `epoch-E-part-P.csv`. Attempt-keyed staging means
  *     speculative/retried attempts never collide; partition-keyed final
  *     names mean however many attempts ran, exactly one wins the rename.
  *   - `StreamingWrite.commit(epoch, messages)` — the epoch-level commit
  *     point: publish `_EPOCH_E_COMMIT` (write-temp + ATOMIC_MOVE)
  *     listing each committed file with its row count. CRITICALLY this
  *     is IDEMPOTENT: after a driver failure between sink commit and
  *     checkpoint write-ahead, Spark REPLAYS the epoch and calls
  *     `commit(E, …)` again — a marker that already exists wins, the
  *     replayed attempt's (byte-identical, because the source offsets
  *     are checkpointed) files simply overwrote the same final names,
  *     and downstream readers that honor markers observe the epoch
  *     exactly once.
  *   - `abort(epoch, …)` deletes that epoch's staged leftovers; an
  *     uncommitted epoch leaves no visible output (readers only trust
  *     files listed in a marker).
  *
  * Rows are (event_id, ts_us, user_id, event_type) — three longs and a
  * short token serialized as one CSV line; timestamps travel as epoch
  * micros so the round trip is bit-exact (no string-format ambiguity).
  *
  * Scale shape: one writer per task — output parallelism IS the query's
  * partitioning, no driver funnel; per-epoch commit work on the driver is
  * O(files), not O(rows). At 100 TB/day the same protocol holds with the
  * rename swapped for an object-store multipart-complete and the marker
  * for a table-format snapshot commit — the reference's own gather stage
  * (calculate_average_reserves.py:15-21) is this "nothing visible until
  * the job-level commit point" shape.
  */
class EpochSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EpochSink.rowSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EpochSinkTable(properties.get("path"))
}

object EpochSink {
  val rowSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** Files of all COMMITTED epochs under `path`, i.e. exactly the union of
    * the `_EPOCH_*_COMMIT` manifests — staged files and files of an
    * uncommitted epoch are invisible to readers that come through here.
    */
  def committedFiles(path: String): Seq[String] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    val listing = Files.list(dir)
    val markers =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.matches("_EPOCH_\\d+_COMMIT"))
        .toVector.sortBy(_.getFileName.toString)
      finally listing.close()
    markers.flatMap { m =>
      Files.readAllLines(m, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty)
        .map(line => dir.resolve(line.split(",", 2)(0)).toString)
    }
  }
}

class EpochSinkTable(path: String) extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "EpochSink requires a path option")
  override def name(): String = s"graft_epoch_sink($path)"
  override def schema(): StructType = EpochSink.rowSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new EpochStreamingWrite(path)
      }
    }
}

class EpochStreamingWrite(path: String) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new EpochWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val marker = Paths.get(path, s"_EPOCH_${epochId}_COMMIT")
    // Replay idempotency: the first committed marker for an epoch WINS.
    // A re-delivered epoch re-wrote byte-identical files under the same
    // final names (offsets are checkpointed), so skipping the manifest
    // rewrite leaves a consistent epoch — and never tears a manifest a
    // reader may be holding open.
    if (Files.exists(marker)) return
    val lines = messages.collect { case m: EpochCommitMessage =>
      s"${m.fileName},${m.rows}"
    }.sorted
    val tmp = Paths.get(path, s"._epoch_${epochId}_commit.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    StagedFiles.sweep(path, _.startsWith(s"epoch-$epochId-"))
}

case class EpochCommitMessage(epochId: Long, fileName: String, rows: Long)
    extends WriterCommitMessage

class EpochWriterFactory(path: String) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new EpochDataWriter(path, partitionId, taskId, epochId)
}

/** One (epoch, task attempt) writer: staged name keyed by the ATTEMPT,
  * final name keyed by (EPOCH, PARTITION) — rename-on-commit publishes
  * exactly one attempt per partition per epoch, and an epoch replay
  * overwrites its own previous files rather than duplicating them.
  */
class EpochDataWriter(path: String, partitionId: Int, taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {
  private val staged: Path =
    Paths.get(path, f"epoch-$epochId-part-$partitionId%05d-attempt-$taskId.staged")
  Files.createDirectories(staged.getParent)
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
  private var rows = 0L

  override def write(r: InternalRow): Unit = {
    out.write(s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getUTF8String(3)}\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    val fin = Paths.get(path, f"epoch-$epochId-part-$partitionId%05d.csv")
    Files.move(staged, fin, StandardCopyOption.REPLACE_EXISTING)
    EpochCommitMessage(epochId, fin.getFileName.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
