package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
import org.apache.spark.sql.connector.read.{Scan, SupportsPushDownFilters}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.GraftCatalog

/** The one manifest scan serves both table flavors: a digest table and an
  * evolve table declaring the same zone and bloom columns prune the same
  * files for the same predicates, report the same pushed filters, keep
  * every filter residual, and serve exactly the rows an unpruned read
  * filtered by Spark serves.
  */
class TableScanSpec extends SparkSpec {

  private val flavors = Seq("graft_digest", "graft_evolve")

  /** Four single-task commits of ten `en` rows each, banded on doc_id (0-9, 10-19,
    * 20-29, 30-39) with `n_chars = doc_id * 10 + 1`: one file per commit,
    * each with a tight zone on both columns and a bloom on doc_id.
    */
  private def table(provider: String): (GraftCatalog, Identifier) = {
    val name = s"scanspec_${provider}_${System.nanoTime()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_spec_")
    spark.sql(s"""CREATE TABLE graft.ns.$name (doc_id BIGINT, lang STRING, n_chars BIGINT)
                 |USING $provider TBLPROPERTIES ('path'='$dir',
                 |  'zonemap.columns'='doc_id,n_chars', 'bloom.columns'='doc_id')"""
      .stripMargin)
    (0 until 4).foreach { band =>
      val rows = (band * 10 until band * 10 + 10)
        .map(id => s"($id, 'en', ${id * 10 + 1})").mkString(", ")
      spark.sql(s"INSERT INTO graft.ns.$name SELECT /*+ COALESCE(1) */ * FROM VALUES $rows")
    }
    val cat = new GraftCatalog
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    (cat, Identifier.of(Array("ns"), name))
  }

  private def scan(cat: GraftCatalog, id: Identifier, filters: Array[Filter])
      : (Array[Filter], Array[Filter], Scan) = {
    val b = cat.loadTable(id).asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val pushing = b.asInstanceOf[SupportsPushDownFilters]
    val residual = pushing.pushFilters(filters)
    (residual, pushing.pushedFilters(), b.build())
  }

  /** Every row the scan's planned partitions serve, as Spark rows. */
  private def rowsOf(s: Scan): Seq[Row] = {
    val batch = s.toBatch
    val readers = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { p =>
      val r = readers.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      try while (r.next()) {
        val row = r.get()
        out += Row(row.getLong(0), row.getUTF8String(1).toString, row.getLong(2))
      } finally r.close()
      out.toSeq
    }
  }

  test("both flavors prune the same files, push the same filters and serve " +
      "the rows an unpruned read filtered by Spark serves") {
    // (case, pushed filters, the same predicate in SQL for the row check,
    // which of the pushed filters the scan reports, files planned of 4)
    val cases: Seq[(String, Array[Filter], String, Seq[Int], Int)] = Seq(
      ("=", Array(EqualTo("doc_id", 15L)), "doc_id = 15", Seq(0), 1),
      (">", Array(GreaterThan("doc_id", 25L)), "doc_id > 25", Seq(0), 2),
      (">=", Array(GreaterThanOrEqual("n_chars", 301L)), "n_chars >= 301", Seq(0), 1),
      ("<", Array(LessThan("doc_id", 10L)), "doc_id < 10", Seq(0), 1),
      ("<=", Array(LessThanOrEqual("n_chars", 101L)), "n_chars <= 101", Seq(0), 2),
      ("IN", Array(In("doc_id", Array[Any](5L, 35L))), "doc_id IN (5, 35)", Seq(0), 2),
      ("range and point conjoined", Array(GreaterThanOrEqual("doc_id", 10L),
        In("doc_id", Array[Any](5L, 15L, 35L))),
        "doc_id >= 10 AND doc_id IN (5, 15, 35)", Seq(0, 1), 2),
      ("a non-numeric literal", Array(EqualTo("doc_id", "15")), "doc_id = 15", Nil, 4),
      ("an undeclared column", Array(GreaterThan("lang", "a")), "lang > 'a'", Nil, 4),
      ("IN on a zone-only column", Array(In("n_chars", Array[Any](11L, 21L))),
        "n_chars IN (11, 21)", Nil, 4))
    flavors.foreach { provider =>
      val (cat, id) = table(provider)
      val (_, _, unpruned) = scan(cat, id, Array.empty)
      val all = rowsOf(unpruned)
      assert(all.size == 40, s"$provider: fixture rows")
      assert(unpruned.toBatch.planInputPartitions().length == 4,
        s"$provider: one file per commit")
      cases.foreach { case (what, filters, sql, pushedIdx, planned) =>
        val (residual, pushed, pruned) = scan(cat, id, filters)
        assert(residual.sameElements(filters),
          s"$provider $what: every filter must stay residual")
        assert(pushed.toSeq == pushedIdx.map(filters(_)),
          s"$provider $what: pushed ${pushed.toSeq}")
        assert(pruned.toBatch.planInputPartitions().length == planned,
          s"$provider $what: planned files")
        val byScan = spark.createDataFrame(
            spark.sparkContext.parallelize(rowsOf(pruned), 1), TableScanSpec.schema)
          .where(sql).collect().map(_.toString).toSeq.sorted
        val bySpark = spark.createDataFrame(
            spark.sparkContext.parallelize(all, 1), TableScanSpec.schema)
          .where(sql).collect().map(_.toString).toSeq.sorted
        assert(byScan == bySpark, s"$provider $what: rows")
        assert(bySpark.nonEmpty, s"$provider $what: the case must select rows")
      }
    }
  }
}

object TableScanSpec {
  val schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("n_chars", LongType)))
}
