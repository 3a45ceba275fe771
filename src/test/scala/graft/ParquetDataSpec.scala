package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{DigestSink, ParquetData, TableLayout, TableRows}

/** Mechanics of the parquet data plane in isolation (no SparkSession):
  * multi-row-group writes, footer stats, row-group selection by pushed
  * range, midpoint-addressed vectorized range reads with exact global row
  * positions, and in-file column pruning via the requested schema.
  */
class ParquetDataSpec extends AnyFunSuite {

  private def writeFile(n: Int, rowGroupBytes: Long): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_")
    dir.toFile.deleteOnExit()
    val f = dir.resolve("part-00000.parquet")
    val w = new ParquetData.GenericRowsWriter(f,
      ParquetData.messageType("graft_digest", DigestSink.rowSchema.fields.toSeq),
      rowGroupBytes, bloomCols = Seq("doc_id"))
    (0 until n).foreach(i => w.write(Array(i.toLong, s"l${i % 3}", (i * 7).toLong)))
    w.close()
    f
  }

  test("multi-row-group file: footer exposes cumulative row offsets and " +
      "per-group (min, max) stats for the zone-mappable columns") {
    val f = writeFile(20000, 16 * 1024)
    val gs = ParquetData.rowGroupsWithBloomExclusions(f, Map.empty)._1
    assert(gs.size >= 3, s"expected several row groups, got ${gs.size}")
    assert(gs.map(_.rows).sum == 20000)
    assert(gs.head.rowStart == 0)
    gs.sliding(2).foreach { case Seq(a, b) =>
      assert(b.rowStart == a.rowStart + a.rows)
    case _ => () }
    // doc_id written ascending → group stats tile the range
    gs.foreach { g =>
      assert(g.mins("doc_id") == g.rowStart)
      assert(g.maxs("doc_id") == g.rowStart + g.rows - 1)
      assert(g.mins.contains("n_chars") && g.maxs.contains("n_chars"))
    }
  }

  test("row-group pruning: a doc_id range keeps exactly the overlapping " +
      "groups, and the vectorized range read serves exactly their rows " +
      "with exact global positions") {
    val f = writeFile(20000, 16 * 1024)
    val gs = ParquetData.rowGroupsWithBloomExclusions(f, Map.empty)._1
    val lo = gs(1).rowStart
    val hi = gs(1).rowStart + gs(1).rows - 1
    val kept = ParquetData.survivingGroups(gs, Map("doc_id" -> (lo, hi)))
    assert(kept.map(_.index) == Seq(1))
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("lang", org.apache.spark.sql.types.StringType, false),
      StructField("n_chars", LongType, false)))
    val it = new ParquetData.BatchIterator(f, schema, kept)
    var rows = 0L
    var expectPos = kept.head.rowStart
    it.foreach { case (batch, startPos) =>
      assert(startPos == expectPos)
      val rit = batch.rowIterator()
      var i = 0
      while (rit.hasNext) {
        val r = rit.next()
        // doc_id IS the global row position by construction
        assert(r.getLong(0) == startPos + i)
        assert(r.getLong(2) == (startPos + i) * 7)
        i += 1
      }
      rows += batch.numRows()
      expectPos += batch.numRows()
    }
    assert(rows == gs(1).rows)
  }

  test("non-contiguous group selection reads each contiguous run with one " +
      "reader and keeps positions exact across the gap") {
    val f = writeFile(30000, 16 * 1024)
    val gs = ParquetData.rowGroupsWithBloomExclusions(f, Map.empty)._1
    assert(gs.size >= 4)
    val picked = Seq(gs(0), gs(2), gs(3))
    assert(ParquetData.contiguousRuns(picked).map(_.map(_.index))
      == Seq(Seq(0), Seq(2, 3)))
    val schema = StructType(Seq(StructField("doc_id", LongType, false)))
    val it = new ParquetData.BatchIterator(f, schema, picked)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    it.foreach { case (batch, startPos) =>
      val rit = batch.rowIterator()
      var i = 0
      while (rit.hasNext) { seen += rit.next().getLong(0); i += 1 }
      assert(seen.takeRight(i).head == startPos)
    }
    assert(seen.toSeq == picked.flatMap(g => g.rowStart until (g.rowStart + g.rows)))
  }

  test("in-file column pruning: a 1-column requested schema decodes just " +
      "that column, and the plain row iterator round-trips the full file") {
    val f = writeFile(5000, 1 << 20)
    val schema = StructType(Seq(StructField("n_chars", LongType, false)))
    val it = new ParquetData.BatchIterator(f, schema,
      ParquetData.rowGroupsWithBloomExclusions(f, Map.empty)._1)
    var sum = 0L
    var rows = 0L
    it.foreach { case (batch, _) =>
      assert(batch.numCols() == 1)
      val rit = batch.rowIterator()
      while (rit.hasNext) { sum += rit.next().getLong(0); rows += 1 }
    }
    assert(rows == 5000 && sum == (0 until 5000).map(_ * 7L).sum)
    val reader = new TableRows(f.getParent.toString, f.getFileName.toString,
      TableLayout.Digest().fileCols(Nil))
    val all = try reader.map { case (_, c) =>
      (c(0).asInstanceOf[Long], c(1).toString, c(2).asInstanceOf[Long])
    }.toVector finally reader.close()
    assert(all.size == 5000)
    assert(all(4999) == ((4999L, "l" + (4999 % 3), 4999L * 7)))
  }
}
