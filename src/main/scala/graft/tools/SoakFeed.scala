package graft.tools

import graft.sources.Formats

/** Dev-only: measure the ROUND-14 connector paths at scale (PLANS.md
  * "round 14 part 8"). Same protocol as [[SoakDml]]: a FRESH table +
  * staging dir per rep (nothing memoized), each verb's committed job
  * timed on its own, `verb,rep_secs...,min` per line. Run at sf0.1 and
  * sf1 (tools/GenScale) and compare the minima — the scale claims these
  * paths make are only real if the ratio is ≤ ~10× for data-bound verbs
  * and ~flat for metadata-bound ones:
  *
  *   ctas         — atomic CTAS: staged 2PC write + registry pointer swap (q237)
  *   rtas         — atomic REPLACE TABLE AS SELECT over the prior generation (q237)
  *   spj_join     — zero-shuffle zero-sort storage-partitioned lang join (q238/q239)
  *   meta_count   — manifest-served GROUP BY lang COUNT(*) (q240; must be ~flat)
  *   changes_feed — CDF read over insert+insert+MERGE history (q241)
  *   stream_read  — AvailableNow table-to-table replication (q242)
  *
  * Usage: runMain graft.tools.SoakFeed [sfDir] [reps]
  */
object SoakFeed {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.t(spark, sfDir, "documents").createOrReplaceTempView("soak_docs")
    spark.table("soak_docs").count()

    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Double]]
    def timed(verb: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - t0) / 1e9
      times(verb) = times.getOrElse(verb, Vector.empty) :+ secs
    }
    var n = 0
    def freshIds(): (String, java.nio.file.Path) = {
      n += 1
      val p = java.nio.file.Files.createTempDirectory(s"soak_feed_$n-")
      (s"graft.ns.soakfeed_${n}_${p.getFileName.toString.takeRight(6)}", p)
    }

    (1 to reps).foreach { _ =>
      // ---- ctas / rtas (q237) --------------------------------------------
      val (t1, p1) = freshIds()
      timed("ctas") {
        spark.sql(s"""CREATE TABLE $t1 USING graft_digest TBLPROPERTIES ('path'='${p1.resolve("r")}')
                     |AS SELECT doc_id, lang, n_chars FROM soak_docs""".stripMargin)
      }
      timed("rtas") {
        spark.sql(s"""REPLACE TABLE $t1 USING graft_digest TBLPROPERTIES ('path'='${p1.resolve("r")}')
                     |AS SELECT doc_id, lang, n_chars * 2 AS n_chars FROM soak_docs""".stripMargin)
      }
      // ---- spj_join (q238/q239) + meta_count (q240) ----------------------
      val (t2, p2) = freshIds()
      Formats.createTable(spark, t2, "graft_digest", Formats.digestCols, "path" -> p2.resolve("b"))
      spark.sql(s"INSERT INTO $t2 SELECT MIN(doc_id), lang, COUNT(*) FROM soak_docs GROUP BY lang")
      graft.Tables.withConf(spark,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        timed("spj_join") {
          spark.table(t1).join(spark.table(t2).select(
              org.apache.spark.sql.functions.col("lang")), "lang")
            .groupBy("lang").count().collect()
        }
      }
      timed("meta_count") {
        spark.sql(s"SELECT lang, COUNT(*) FROM $t1 GROUP BY lang").collect()
      }
      // ---- changes_feed (q241) over real history --------------------------
      val (t3, p3) = freshIds()
      val sink3 = p3.resolve("sink")
      Formats.createTable(spark, t3, "graft_digest", Formats.digestCols, "path" -> sink3,
        "delta" -> "true")
      spark.sql(s"INSERT INTO $t3 SELECT doc_id, lang, n_chars FROM soak_docs WHERE lang <> 'zh'")
      spark.sql(s"INSERT INTO $t3 SELECT doc_id, lang, n_chars FROM soak_docs WHERE lang = 'zh'")
      spark.sql(s"""MERGE INTO $t3 t
                   |USING (SELECT doc_id, lang, n_chars + 1 AS n_chars
                   |       FROM soak_docs WHERE doc_id % 3 = 0) u
                   |ON t.doc_id = u.doc_id
                   |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars""".stripMargin)
      timed("changes_feed") {
        spark.read.format("graft.sources.DigestSink")
          .option("path", sink3.toString)
          .option("changesFrom", "0").option("changesTo", "3").load()
          .groupBy("_commit_version", "_change_type").count().collect()
      }
      // ---- cdc_apply (q250): change stream → latest-wins fold → MERGE -----
      val (t5, p5) = freshIds()
      Formats.createTable(spark, t5, "graft_digest", Formats.digestCols,
        "path" -> p5.resolve("state"), "delta" -> "true")
      timed("cdc_apply") {
        val fold = (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => {
          b.createOrReplaceTempView("soak_cdc_batch")
          b.sparkSession.sql(
            s"""MERGE INTO $t5 t
               |USING (
               |  SELECT doc_id, lang, n_chars, _change_type FROM (
               |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               |      ORDER BY _commit_version DESC) AS rn
               |    FROM soak_cdc_batch) x WHERE rn = 1) u
               |ON t.doc_id = u.doc_id
               |WHEN MATCHED AND u._change_type = 'delete' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET lang = u.lang, n_chars = u.n_chars
               |WHEN NOT MATCHED AND u._change_type <> 'delete' THEN
               |  INSERT (doc_id, lang, n_chars) VALUES (u.doc_id, u.lang, u.n_chars)""".stripMargin)
          ()
        }
        val q = spark.readStream.format("graft.sources.DigestSink")
          .option("path", sink3.toString).option("changesFrom", "0").load()
          .writeStream.foreachBatch(fold)
          .option("checkpointLocation", p5.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // ---- stream_read (q242): replicate 2 commits ------------------------
      val (t4, p4) = freshIds()
      Formats.createTable(spark, t4, "graft_digest", Formats.digestCols,
        "path" -> p4.resolve("dst"))
      timed("stream_read") {
        val q = spark.readStream.table(t1)
          .writeStream.outputMode("append")
          .option("checkpointLocation", p4.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(t4)
        q.awaitTermination()
      }
    }

    // ---- plan_ochanges: CDF planning cost vs table file count -----------
    // One append commit on a 1k-file and a 10k-file manifest; planning 50
    // times through the commit's change record (v2's delta body) must be
    // FLAT in file count (O(changes)), while the snapshot-diff fallback
    // (v2 rewritten as a full base without a record) scales with the
    // listing — the measured gap IS the claim the record layer makes for
    // 10⁶-entry tables.
    Seq(1000, 10000).foreach { files =>
      val p = java.nio.file.Files.createTempDirectory(s"soak_plan_$files-")
      val lines = (0 until files).map(i => f"lang_en-jx-part-$i%05d.csv,10")
      graft.sources.DigestManifest.publish(p.toString, lines)
      graft.sources.DigestManifest.publishAppend(p.toString,
        Seq("lang_en-jy-part-00000.csv,5"))
      timed(s"plan_rec_$files") {
        (1 to 50).foreach(_ => graft.sources.DigestChanges.plan(p.toString, 1, 2))
      }
      java.nio.file.Files.write(p.resolve("_MANIFEST.v2"),
        graft.sources.DigestManifest.listingAt(p.toString,
          graft.sources.DigestManifest.MainRef, 2)
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      timed(s"plan_diff_$files") {
        (1 to 50).foreach(_ => graft.sources.DigestChanges.plan(p.toString, 1, 2))
      }
    }

    times.foreach { case (verb, secs) =>
      println((verb +: secs.map(s => f"$s%.2f")).mkString(",") +
        f",min=${secs.min}%.2f")
    }
    spark.stop()
  }
}
