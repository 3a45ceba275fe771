package graft.tools

import graft.sources.Formats

/** Dev-only: measure the DML WRITE paths themselves at scale (PLANS.md
  * "soak part 3"). The sf1 soak parts 1–2 deliberately excluded
  * q202/q203/q204/q207/q211/q214 because their TempDirs staging is
  * memoized per JVM — min-of-3 over the memoized fixture times only the
  * post-DML READ-back, never the rewrite job. This main stages a FRESH
  * table per rep (unique temp dir + table identifier, nothing memoized)
  * and times each verb's committed job on its own:
  *
  *   insert       — base append through the 2PC lang-split writer
  *   update       — group-based ReplaceData rewrite (q203's plan)
  *   merge_group  — group-based MERGE rewrite (q204's plan)
  *   merge_delta  — WriteDelta O(changes) commit (q207's plan)
  *   compact      — snapshot + truncate-overwrite (q211's cycle)
  *   dyn_overwrite— parquet dynamic partition overwrite (q214's path)
  *
  * Usage: runMain graft.tools.SoakDml [sfDir] [reps]
  * Prints one line per verb: `verb,rep_secs...,min`.
  */
object SoakDml {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.t(spark, sfDir, "documents").createOrReplaceTempView("soak_docs")
    // one scan to warm the docs cacheless-read path so rep 1 of the first
    // verb isn't charged the session's first-parquet-touch costs
    spark.table("soak_docs").count()

    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Double]]
    def timed(verb: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - t0) / 1e9
      times(verb) = times.getOrElse(verb, Vector.empty) :+ secs
    }

    val mergeSql = (tbl: String) =>
      s"""MERGE INTO $tbl t
         |USING (
         |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'U' AS tag
         |  FROM soak_docs WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, n_chars, 'D' AS tag
         |  FROM soak_docs WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, n_chars, 'I' AS tag
         |  FROM soak_docs WHERE doc_id % 50 = 0) u
         |ON t.doc_id = u.doc_id
         |WHEN MATCHED AND u.tag = 'U' THEN UPDATE SET n_chars = u.n_chars
         |WHEN MATCHED AND u.tag = 'D' THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
         |  VALUES (u.doc_id, u.lang, u.n_chars)""".stripMargin

    (1 to reps).foreach { rep =>
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)

      // ---- group-based flavor (rowlevel): insert → update → merge ----
      val rloDir = java.nio.file.Files.createTempDirectory(s"soak_rlo_$rep-")
      val rlo = s"graft.ns.soakrlo_$tag"
      Formats.createTable(spark, rlo, "graft_digest", Formats.digestCols, "path" -> rloDir,
        "rowlevel" -> "true")
      timed("insert") {
        spark.sql(s"INSERT INTO $rlo SELECT doc_id, lang, n_chars FROM soak_docs")
      }
      timed("update") {
        spark.sql(s"UPDATE $rlo SET n_chars = n_chars + 1000 WHERE lang = 'de'")
      }
      timed("merge_group") { spark.sql(mergeSql(rlo)) }
      spark.sql(s"DROP TABLE $rlo")

      // ---- delta flavor: insert (untimed) → delta merge → compact ----
      val dDir = java.nio.file.Files.createTempDirectory(s"soak_delta_$rep-")
      val dlt = s"graft.ns.soakdelta_$tag"
      Formats.createTable(spark, dlt, "graft_digest", Formats.digestCols, "path" -> dDir,
        "delta" -> "true")
      spark.sql(s"INSERT INTO $dlt SELECT doc_id, lang, n_chars FROM soak_docs")
      timed("merge_delta") { spark.sql(mergeSql(dlt)) }
      // the UNCOMPACTED merge-on-read serve (round-18 item 4): verb logs
      // are read and folded task-side, inserts serve from hash shards —
      // this scan's cost must track the log, never a driver fold
      timed("delta_scan_unc") {
        spark.sql(s"SELECT COUNT(*) c, SUM(n_chars) s FROM $dlt").collect()
      }
      // ROLLBACK ACROSS THE LIVE VERB LOG (round-20): the O(changes)
      // undo — publish the restored listing (v3 = v1) and read the
      // rollback version's NET-INVERSE change batch; both must track the
      // verb count, never the table
      timed("rollback_inverse") {
        spark.sql(s"CALL graft.system.rollback(table => 'ns.soakdelta_$tag', " +
          "version => 1)").collect()
      }
      timed("rollback_feed") {
        val n = spark.read.format("graft.sources.DigestSink")
          .option("path", dDir.toString)
          .option("changesFrom", "2").option("changesTo", "3")
          .load().count()
        require(n > 0, "the rollback inverse batch must carry rows")
      }
      // restore a live log so compact below has verbs to retire
      spark.sql(mergeSql(dlt))
      timed("compact") {
        val r = spark.sql(s"CALL graft.system.compact(table => 'ns.soakdelta_$tag')")
          .head()
        require(r.getLong(0) >= 1, "compact retired nothing")
      }
      spark.sql(s"DROP TABLE $dlt")

      // ---- dv flavor (q252/q256): position-delete DELETE, dv MERGE ----
      val vDir = java.nio.file.Files.createTempDirectory(s"soak_dv_$rep-")
      val dv = s"graft.ns.soakdv_$tag"
      Formats.createTable(spark, dv, "graft_digest", Formats.digestCols, "path" -> vDir,
        "dv" -> "true")
      spark.sql(s"INSERT INTO $dv SELECT doc_id, lang, n_chars FROM soak_docs")
      timed("dv_delete") {
        spark.sql(s"DELETE FROM $dv WHERE doc_id % 17 = 3")
      }
      timed("dv_merge") { spark.sql(mergeSql(dv)) }
      spark.sql(s"DROP TABLE $dv")

      // ---- parquet DATA PLANE (q266/q267, round-17 item 1): the same
      // dv-flavor verbs with columnar data files — insert writes parquet
      // through the 2PC lang-split writer, deletes/merges grow bitmaps
      // with zero parquet bytes rewritten, and the scan reads vectorized
      val pqDir = java.nio.file.Files.createTempDirectory(s"soak_pq_$rep-")
      val pq = s"graft.ns.soakpq_$tag"
      Formats.createTable(spark, pq, "graft_digest", Formats.digestCols, "path" -> pqDir,
        "dv" -> "true", "format" -> "parquet")
      timed("pq_insert") {
        spark.sql(s"INSERT INTO $pq SELECT doc_id, lang, n_chars FROM soak_docs")
      }
      timed("pq_dv_delete") {
        spark.sql(s"DELETE FROM $pq WHERE doc_id % 17 = 3")
      }
      timed("pq_dv_merge") { spark.sql(mergeSql(pq)) }
      timed("pq_scan") {
        spark.sql(s"SELECT lang, COUNT(*), SUM(n_chars) FROM $pq GROUP BY lang")
          .collect()
      }
      // RUNTIME id-set FILE SKIPPING (q280 shape, round-20 rung): a
      // broadcast join delivers an In(doc_id) set at runtime; the scan's
      // cost must track the id set (zone/bloom-pruned file opens), not
      // the table
      timed("runtime_id_skip") {
        spark.sql(
          s"""SELECT COUNT(*) c, SUM(t.n_chars) s FROM $pq t
             |JOIN (SELECT doc_id FROM soak_docs WHERE doc_id % 5000 = 17) d
             |ON t.doc_id = d.doc_id""".stripMargin).collect()
      }
      spark.sql(s"DROP TABLE $pq")

      // ---- parquet dynamic partition overwrite ----
      val pDir = java.nio.file.Files.createTempDirectory(s"soak_dyn_$rep-")
      val docs = spark.table("soak_docs")
        .select("doc_id", "n_chars", "lang")
      docs.write.partitionBy("lang").mode("overwrite").parquet(s"$pDir/t")
      timed("dyn_overwrite") {
        docs.filter("lang = 'de'")
          .withColumn("n_chars", org.apache.spark.sql.functions.col("n_chars") + 1000)
          .write.partitionBy("lang")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(s"$pDir/t")
      }

      // reclaim the rep's staging before the next one
      Seq(rloDir, dDir, vDir, pqDir, pDir).foreach { d =>
        try {
          val walk = java.nio.file.Files.walk(d)
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => { val _ = java.nio.file.Files.deleteIfExists(f) })
          finally walk.close()
        } catch { case _: Throwable => () }
      }
    }

    println(s"# SoakDml sf=$sfDir reps=$reps cpus=$cpus")
    times.foreach { case (verb, ts) =>
      println((verb +: ts.map(t => f"$t%.2f") :+ f"min=${ts.min}%.2f").mkString(","))
    }
    spark.stop()
  }
}
