package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

/** Per-operator sanity specs over sf0.001 (full cross-engine equivalence is
  * the DuckDB oracle gate; these pin semantics and invariants).
  */
class OperatorSpec extends SparkSpec {

  test("every declared query returns a readable non-degenerate DataFrame") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q1 aggregates partition the filtered lineitem exactly") {
    val df = ops.Relational.q1PricingSummary(spark, sf)
    val total = df.agg(sum("count_order")).first().getLong(0)
    val expected = Tables.t(spark, sf, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz")).count()
    assert(total == expected)
  }

  test("semi + anti join partition orders' customers") {
    val c = Tables.t(spark, sf, "customer")
    val o = Tables.t(spark, sf, "orders").select("o_custkey")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(semi + anti == c.count())
  }

  test("exact dedup groups cover all documents") {
    val df = ops.Dedup.q40DedupExact(spark, sf)
    val covered = df.agg(sum("n_copies")).first().getLong(0)
    assert(covered == Tables.t(spark, sf, "documents").count())
  }

  test("jaccard pairs are canonical (id_a < id_b) and within [0.8, 1]") {
    val rows = ops.Dedup.q41NgramJaccard(spark, sf).collect()
    assert(rows.nonEmpty, "expected planted near-dups")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("id_a")) < r.getLong(r.fieldIndex("id_b")))
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(j >= 0.8 && j <= 1.0)
    }
  }

  test("q41 from the shared pair memo equals the raw pair relation, cold and warm") {
    // planted corpus: every doc its own vocabulary, so only the planted
    // overlaps pair up
    def words(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val planted = java.nio.file.Files.createTempDirectory("graft_q41_memo_").toString
    spark.createDataFrame(Seq(
      // 9 shingles each, 8 in common: jaccard 8/10 = 0.8 and containment
      // 8/9 exactly, ON the memo's 9·n_common ≥ 8·min(n_a, n_b) prefilter
      1L -> words("a", 1 to 11), 2L -> (words("a", 1 to 10) + " b11"),
      3L -> words("a", 1 to 11), // exact copy of doc 1
      // 7 of 9 shingles in common: under both thresholds
      4L -> words("e", 1 to 11), 5L -> (words("e", 1 to 9) + " f10 f11"),
      // doc 6 inside doc 7: in the memo (containment 1), jaccard 9/29
      6L -> words("g", 1 to 11), 7L -> (words("g", 1 to 11) + " " + words("h", 1 to 20)),
      8L -> "", 9L -> "x y"))
      .toDF("doc_id", "text").write.parquet(s"$planted/documents.parquet")
    val raw = (d: String) =>
      ops.Dedup.jaccardPairs(ops.Dedup.pairCounts(spark, d)).collect().toSeq
    Seq(sf, planted).foreach { d =>
      val want = raw(d)
      assert(want.nonEmpty, s"expected near-dup pairs in $d")
      SessionCache.invalidate(spark)
      assert(ops.Dedup.q41NgramJaccard(spark, d).collect().toSeq == want,
        s"cold memo: q41 differs from the raw pair relation on $d")
      assert(ops.Dedup.q41NgramJaccard(spark, d).collect().toSeq == want,
        s"warm memo: q41 differs from the raw pair relation on $d")
    }
    val pairs = raw(planted).map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(pairs == Seq((1L, 2L, 0.8), (1L, 3L, 1.0), (2L, 3L, 0.8)),
      s"planted pairs: $pairs")
  }

  test("an invalidated staged index build is rebuilt on next use") {
    import java.nio.file.Files
    var builds = 0
    def stage() = TempDirs.stagedBuild("staged_build_spec") { p =>
      builds += 1
      Files.writeString(p.resolve("artifact"), builds.toString)
    }
    val first = stage()
    assert(stage() == first && builds == 1, "a live build must be reused")
    SessionCache.invalidate(spark)
    assert(!Files.exists(first), "invalidation must delete the build")
    val second = stage()
    assert(builds == 2 && Files.readString(second.resolve("artifact")) == "2",
      "the next use must build again")
    // the persisted ANN index follows the same rule
    val idx = ops.Similarity.annIndexDir(spark, sf)
    SessionCache.invalidate(spark)
    assert(!Files.exists(idx), "invalidation must delete the ANN index")
    val rebuilt = ops.Similarity.annIndexDir(spark, sf)
    assert(Files.exists(rebuilt.resolve("pq_codes")), "the ANN index must be rebuilt")
  }

  test("minhash-LSH candidates recover the high-jaccard exact pairs") {
    val exact = ops.Dedup.q41NgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = ops.Dedup.q42MinhashLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0
      else exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} pairs")
  }

  test("dedup clusters match a driver-side union-find of the pair list") {
    val pairs = ops.Dedup.q41NgramJaccard(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "expected planted near-dup pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = ops.Dedup.q44DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"clusters differ: ${got.size} vs ${expected.size} nodes")
  }

  test("embedding dedup clusters match a union-find of the q53 pair list") {
    val pairs = ops.Similarity.q53EmbedDedup(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = ops.Similarity.q56EmbedDedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("curation keeps only gated, deduped, representative documents") {
    val out = ops.Curation.q45CurateCorpus(spark, sf).collect()
    assert(out.nonEmpty, "curated corpus must not be empty")
    val total = Tables.t(spark, sf, "documents").count()
    assert(out.length < total, "curation must drop something")
    // no surviving doc may be a non-representative member of a cluster
    val keep = ops.Dedup.q44DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      assert(keep.get(id).forall(_ == id), s"doc $id is a non-representative dup")
      assert(r.getDouble(3) >= 0.5 && r.getInt(2) >= 10)
    }
    // fingerprints unique after exact dedup
    val fps = out.map(_.getString(4))
    assert(fps.distinct.length == fps.length)
  }

  test("simhash candidates recover the high-jaccard exact pairs") {
    val exact = ops.Dedup.q41NgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = ops.Dedup.q43Simhash(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0
      else exact.intersect(sh).size.toDouble / exact.size
    assert(recall >= 0.9, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("brute-force ANN returns ranked top-k neighbors per query vector") {
    val rows = ops.Similarity.q51AnnBruteForce(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { g =>
      assert(g.length <= 5)
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to g.length), "ranks 1..k")
      // cos non-increasing with rank
      val sorted = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(2), "self-match excluded")
      val cos = r.getDouble(3)
      assert(cos >= -1.0001 && cos <= 1.0001)
    }
  }

  test("IVF ANN recovers the exact top-1 neighbor for most queries") {
    val exact = ops.Similarity.q51AnnBruteForce(spark, sf)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ivf = ops.Similarity.q55IvfAnn(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = exact.count { case (q, n) => ivf.get(q).contains(n) }
    val recall = if (exact.isEmpty) 1.0 else hits.toDouble / exact.size
    assert(recall >= 0.8, s"IVF top-1 recall $recall over ${exact.size} queries")
  }

  test("q137: IVF serve from the reloaded index equals the in-session q55 probe") {
    // the persisted index round-trip must be lossless: routing on the
    // RELOADED centroids + probing the RELOADED postings has to reproduce
    // the in-session probe bit-for-bit (both paths are integer-exact)
    val served = ops.Similarity.ivfServeFromIndex(spark, sf).collect().toSeq
    val inSession = ops.Similarity.q55IvfAnn(spark, sf).collect().toSeq
    assert(served.nonEmpty, "serve path returned no neighbors")
    assert(served == inSession, "reloaded-index probe diverged from q55")
  }

  test("q137: the postings artifact is cell-partitioned and a cell filter prunes it") {
    // the inverted file is WRITTEN partitionBy(cell), so a probe that
    // pins cells becomes a partition-pruned directory read — the layout
    // claim behind serving IVF from the artifact (q49's discipline)
    val idx = ops.Similarity.annIndexDir(spark, sf)
    val postings = idx.resolve("ivf_postings")
    val cellDirs = {
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      val listing = java.nio.file.Files.list(postings)
      try listing.forEach(p => if (p.getFileName.toString.startsWith("cell="))
        buf += p.getFileName.toString)
      finally listing.close()
      buf.toSeq
    }
    assert(cellDirs.size == 8, s"expected 8 cell partitions, got $cellDirs")
    val pruned = spark.read.parquet(postings.toString).filter(col("cell") === 3)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "cell filter must prune partition directories, not scan rows")
  }

  test("q141: probed ADC scores are a subset of the full ADC scoring") {
    // cell restriction may only DROP candidates, never change a score: every
    // (vec_id, adc_dist) the IVFPQ serve returns must appear with the same
    // distance in the unrestricted q122/q137 scoring
    val full = ops.Similarity.q122PqAdc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = ops.Similarity.q141IvfPqServe(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(probed.nonEmpty)
    probed.foreach { case (id, d) =>
      // q122 is top-10 of the full corpus; a probed candidate outside that
      // top-10 can't be cross-checked against it — only matched ids must agree
      full.get(id).foreach(fd => assert(fd == d, s"vec $id: $d vs full $fd"))
    }
  }

  test("sessionize: session counts per user sum to user event counts") {
    val sess = ops.Events.q62Sessionize(spark, sf)
    val total = sess.agg(sum("n_events")).first().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("streaming hourly agg equals its batch twin") {
    val stream = streaming.EventStream.q63StreamHourly(spark, sf)
      .select("hour_start", "event_type", "n", "total_value")
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), ops.Num.dsum(col("value")).as("total_value"))
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("approx_count_distinct (HLL) lands within 5% of exact") {
    val row = Tables.t(spark, sf, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey")).as("approx"))
      .first()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("q34: every group's HLL estimate is within 5% of its exact count") {
    val exact = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_orderkey")).as("orders"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = ops.Relational.q34ApproxDistinct(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (ep, eo) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - ep).toDouble / ep < 0.05,
        s"${r.getString(0)} parts ${r.getLong(1)} vs $ep")
      assert(math.abs(r.getLong(2) - eo).toDouble / eo < 0.05,
        s"${r.getString(0)} orders ${r.getLong(2)} vs $eo")
    }
  }

  test("q110: per-day HLL estimates and the sketch-union rollup land within 5%") {
    val exact = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(countDistinct(col("user_id")).as("users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = Tables.events(spark, sf)
      .agg(countDistinct(col("user_id"))).first().getLong(0)
    val rollup = ops.Analytics.q110HllRollup(spark, sf).collect()
    assert(rollup.length == exact.size + 1)
    rollup.foreach { r =>
      val e = if (r.getString(0) == "ALL") exactAll else exact(r.getString(0))
      assert(math.abs(r.getLong(1) - e).toDouble / e < 0.05,
        s"day ${r.getString(0)}: est ${r.getLong(1)} vs exact $e")
    }
  }

  test("q82: every group's sketch percentile lands within 1% of exact (q26)") {
    val exact = ops.Relational.q26Percentile(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("median_qty"), r.getAs[Double]("p90_price"))).toMap
    val approx = ops.Relational.q82ApproxPercentile(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (em, ep) = exact(r.getString(0))
      val (am, ap) = (r.getAs[Double]("median_qty"), r.getAs[Double]("p90_price"))
      assert(math.abs(am - em) / em <= 0.01, s"${r.getString(0)} median $am vs $em")
      assert(math.abs(ap - ep) / ep <= 0.01, s"${r.getString(0)} p90 $ap vs $ep")
    }
  }

  test("q84: manifest respects every shard quota and the total budget") {
    val out = ops.Pipeline.q84WeightedSample(spark, sf).collect()
    assert(out.nonEmpty)
    // rk never exceeds the shard quota, and the manifest never exceeds
    // the configured budget (quotas are floors of ppm shares)
    assert(out.forall(r => r.getAs[Int]("rk") <= r.getAs[Long]("quota")))
    assert(out.length <= 500)
  }

  test("q91: HOF cosine equals the custom-expression dot product on the corpus") {
    import graft.functions.ArrayMath
    val q = Tables.t(spark, sf, "embeddings")
      .withColumn("qv", transform(col("embedding"), x => round(x.cast("double") * 1000)))
      .withColumn("n2", ArrayMath.dot_product(col("qv"), col("qv")))
    val ref = q.filter(col("vec_id") === 0).select(col("qv").as("rqv"))
    val expect = q.filter(col("vec_id") =!= 0 && col("n2") > 0)
      .crossJoin(broadcast(ref))
      .select(col("vec_id"), ArrayMath.dot_product(col("qv"), col("rqv")).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = ops.Similarity.q91HofCosine(spark, sf).collect()
    assert(got.nonEmpty && got.length == expect.size)
    got.foreach { r =>
      assert(r.getDouble(1) == expect(r.getLong(0)),
        s"vec ${r.getLong(0)}: HOF ${r.getDouble(1)} vs expr ${expect(r.getLong(0))}")
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12)
    }
  }

  test("multimodal PPM decode covers every document and fails loudly on bad bytes") {
    val n = ops.Multimodal.mediaRows(spark, sf).count()
    assert(n == Tables.t(spark, sf, "documents").count())
    val media = ops.Multimodal.q71DecodeMedia(spark, sf)
    assert(media.count() == n, "one decoded row per media payload")
    // the parser is REAL: a round-trip through an independent decode of a
    // hand-built image (with a header comment, which the encoder never
    // emits but the format allows) must parse; corrupt payloads must throw
    val ok = graft.ops.Multimodal.decodePpm(graft.ops.MediaRow(1L,
      ("P6\n# a netpbm comment\n2 3\n255\n" + "x" * 18).getBytes("US-ASCII"), "t"))
    assert(ok.width == 2 && ok.height == 3 && ok.n_bytes == 18 + 30
      && ok.first_r == 'x'.toInt)
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.decodePpm(graft.ops.MediaRow(2L,
        "P6\n2 2\n255\nshort".getBytes("US-ASCII"), "t"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.decodePpm(graft.ops.MediaRow(3L,
        "JFIF....".getBytes("US-ASCII"), "t"))
    }
  }

  test("q147: PNG chunk walker round-trips and rejects every corruption class") {
    import graft.ops.{MediaRow, Multimodal}
    val good = Multimodal.encodePng(42L, 137L)
    val dec = Multimodal.decodePngHeader(MediaRow(42L, good, "image/png"))
    assert(dec.width == 16 + 137 % 24 && dec.height == 16 + 42 % 16)
    assert(dec.bit_depth == 8 && dec.color_type == 2 && dec.n_chunks == 4)
    assert(dec.idat_bytes == 1 + 137 % 97 && dec.text_len == 4 + 2)
    assert(dec.n_bytes == good.length)
    // the CRC is REAL: flipping any single byte under a chunk seal throws.
    // Probe one byte inside each sealed region (IHDR dims, tEXt, IDAT).
    Seq(8 + 8 + 2, good.length - 12 - 4 - 3, 8 + 25 + 9).foreach { off =>
      val bad = good.clone(); bad(off) = (bad(off) ^ 0x40).toByte
      intercept[IllegalArgumentException] {
        Multimodal.decodePngHeader(MediaRow(1L, bad, "t"))
      }
    }
    // structural corruption: bad signature, truncation, trailing garbage,
    // and a lying chunk-length field all fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodePngHeader(MediaRow(2L, good.drop(1), "t"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePngHeader(MediaRow(3L, good.dropRight(5), "t"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePngHeader(MediaRow(4L, good :+ 0.toByte, "t"))
    }
    val lying = good.clone(); lying(8 + 3) = 14.toByte // IHDR length 13 → 14
    intercept[IllegalArgumentException] {
      Multimodal.decodePngHeader(MediaRow(5L, lying, "t"))
    }
  }

  test("q162: WAV walker round-trips, honors RIFF padding, rejects corruption") {
    import graft.ops.{MediaRow, Multimodal}
    val good = Multimodal.encodeWav(43L, 137L) // 2 channels; "doc43" is odd-length
    val dec = Multimodal.decodeWav(MediaRow(43L, good, "audio/wav"))
    assert(dec.n_channels == 2 && dec.sample_rate == 8000 + 1000 * (137 % 5))
    assert(dec.n_frames == 32 + 137 % 64 && dec.n_bytes == good.length)
    // features match a direct recomputation from the generator formula
    val frames = 32 + 137 % 64
    val samples = for (i <- 0 until frames; ch <- 0 until 2)
      yield ((43L * 31 + i * 17 + ch * 7) % 4001) - 2000
    assert(dec.energy == samples.map(s => s * s).sum)
    assert(dec.peak_abs == samples.map(math.abs).max)
    val ch0 = (0 until frames).map(i => ((43L * 31 + i * 17) % 4001) - 2000)
    assert(dec.zero_crossings ==
      ch0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    // the odd-length note chunk forces a REAL pad byte — whole file even
    assert(good.length % 2 == 0)
    // corruption classes: magic, size field, truncation, trailing bytes,
    // a lying chunk length, and an inconsistent blockAlign all fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(1L, good.drop(1), "t"))
    }
    val badSize = good.clone(); badSize(4) = (badSize(4) ^ 1).toByte
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(2L, badSize, "t"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(3L, good.dropRight(3), "t"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(4L, good ++ Array(0.toByte, 0.toByte), "t"))
    }
    val lying = good.clone(); lying(16) = (lying(16) + 1).toByte // fmt len 17
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(5L, lying, "t"))
    }
    val badAlign = good.clone(); badAlign(32) = 5.toByte // blockAlign 4 → 5
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(MediaRow(6L, badAlign, "t"))
    }
  }

  test("q163: V2 source round-trips; EqualTo seeks one partition; residuals apply") {
    import graft.sources.SeqSource
    val df = spark.read.format("graft.sources.SeqSource")
      .option("rows", "64").option("slices", "8").load()
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.length == 64)
    rows.foreach { case (id, h, v) =>
      assert(h == SeqSource.hOf(id) && v == SeqSource.vOf(id),
        s"row $id does not match the generator")
    }
    assert(df.rdd.getNumPartitions == 8, "ceil-slice must yield 8 partitions")
    // equality pushdown narrows the range to ONE row → one planned split
    val one = df.filter(col("id") === 17L)
    assert(one.rdd.getNumPartitions == 1, "EqualTo must collapse the range")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(17L))
    // a non-id predicate is returned as residual and re-applied by Spark
    val res = df.filter(col("id") >= 60L && col("v") % 2 === 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(res == (60L until 64L).filter(id => SeqSource.vOf(id) % 2 == 0),
      "residual filter semantics broken")
  }

  test("q175: Avro sync-marker splits tile the container exactly once") {
    // write ONE container with many small blocks (flush per ~50 records via
    // tiny sync interval is not exposed through our writer, so rely on the
    // default block size with enough rows), then force byte-range splits
    // far smaller than the file and assert the split read equals the
    // whole-file read row-for-row — any block read twice (overlap) or
    // skipped (gap at a range boundary) breaks the multiset equality
    import graft.sources.AvroSource
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_split_").toString
    val schemaJson =
      """{"type":"record","name":"r","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"payload","type":"string"}]}""".stripMargin
    AvroSource.write(
      spark.range(20000).selectExpr("id", "repeat(md5(CAST(id AS STRING)), 8) AS payload")
        .coalesce(1),
      dir, schemaJson)
    def read(split: Long) = spark.read.format("graft.sources.AvroSource")
      .option("path", dir).option("splitBytes", split.toString).load()
    val whole = read(Long.MaxValue)
    val len = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
      .map(_.length()).sum
    assert(len > 64 * 1024, s"fixture too small to split meaningfully: $len bytes")
    val split = read(64 * 1024)
    assert(split.rdd.getNumPartitions > 4,
      s"splitBytes=64k over $len bytes must plan multiple ranges")
    assert(split.count() == 20000L && whole.count() == 20000L)
    assert(split.exceptAll(whole).isEmpty && whole.exceptAll(split).isEmpty,
      "sync-marker split read diverged from the whole-file read")
  }

  test("q163: columnar and row read paths serve identical batches") {
    // same connector, both PartitionReaderFactory paths: the vectorized
    // reader (default) must be value-identical to the row reader across
    // multiple batches (rows > 4096 forces several ColumnarBatches per
    // partition) and under pushdown + pruning
    def read(columnar: Boolean) = spark.read.format("graft.sources.SeqSource")
      .option("rows", "20000").option("slices", "3")
      .option("columnar", columnar.toString).load()
      .filter(col("id") >= 100L && col("id") < 15000L)
      .select(col("h"), col("v"))
    val c = read(columnar = true)
    val r = read(columnar = false)
    assert(c.count() == 14900L)
    assert(c.exceptAll(r).isEmpty && r.exceptAll(c).isEmpty,
      "columnar read path diverged from the row path")
  }

  test("q168: sink two-phase commit — staged attempts, rename, abort cleanup") {
    import scala.jdk.CollectionConverters._
    import graft.sources.{LayoutWriterFactory, TableBatchWrite, TableCommitMessage, TableLayout}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_spec_")
    def files() = {
      val l = java.nio.file.Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector.sorted
      finally l.close()
    }
    // an aborted attempt leaves NO output at all
    val flat = TableLayout.Digest(langSplit = false)
    val w1 = LayoutWriterFactory(dir.toString, flat).createWriter(0, 101L)
    w1.write(InternalRow(1L, UTF8String.fromString("en"), 10L))
    w1.abort()
    assert(files().isEmpty, s"abort left ${files()}")
    // a committed attempt renames its staged file to the final name
    val w2 = LayoutWriterFactory(dir.toString, flat).createWriter(0, 102L)
    w2.write(InternalRow(1L, UTF8String.fromString("en"), 10L))
    w2.write(InternalRow(2L, UTF8String.fromString("fr"), 20L))
    val msg = w2.commit().asInstanceOf[TableCommitMessage]
    assert(msg.files.map(_.rows).sum == 2L && files() == Vector("part-00000.csv"))
    // the job-level commit publishes the manifest over the messages
    new TableBatchWrite(dir.toString, flat).commit(Array(msg))
    // the entry carries the frozen (file, rows) positions plus the
    // writer-observed doc_id zone map (q253) as attributes
    val entry = sources.ManifestEntry.parse(
      sources.DigestManifest.listingFor(dir.toString, "_MANIFEST").head)
    assert(entry.file == "part-00000.csv" && entry.rows == 2L &&
      entry.attrs.get("zmin").contains("1") && entry.attrs.get("zmax").contains("2"))
    // end-to-end through the engine: round-trip digest equals a direct
    // aggregation of the source parquet
    val got = sources.Formats.q168DsV2Sink(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val direct = Tables.t(spark, sf, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sc"),
        md5(expr("array_join(transform(array_sort(collect_list(doc_id)), " +
          "x -> CAST(x AS STRING)), ',')").cast("binary")).as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.sorted.toSeq == direct.sorted.toSeq,
      "sink round-trip digest differs from the source table")
  }

  test("q186: overwrite-by-filter commit — only matched langs' files replaced, " +
      "rename-in-place survives") {
    import scala.jdk.CollectionConverters._
    import graft.sources.{DigestWrite, LayoutWriterFactory, TableBatchWrite, TableCommitMessage, TableLayout}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_ow_spec_")
    def row(id: Long, lang: String, n: Long) =
      InternalRow(id, UTF8String.fromString(lang), n)
    def lines(f: String) =
      java.nio.file.Files.readAllLines(dir.resolve(f)).asScala.toSeq
    // baseline: one task carrying two langs → two files, one manifest
    val w0 = LayoutWriterFactory(dir.toString, TableLayout.Digest()).createWriter(0, 1L)
    w0.write(row(1L, "en", 10L)); w0.write(row(2L, "de", 20L))
    val m0 = w0.commit().asInstanceOf[TableCommitMessage]
    assert(m0.files.map(_.fileName).sorted ==
      Seq("lang_de-part-00000.csv", "lang_en-part-00000.csv"))
    new TableBatchWrite(dir.toString, TableLayout.Digest()).commit(Array(m0))
    val enBefore = lines("lang_en-part-00000.csv")
    // overwrite lang='de' with updated content; the fresh de file lands on
    // the SAME partition id → same final name (rename-in-place) — the
    // commit must not delete what it just renamed
    val w1 = LayoutWriterFactory(dir.toString, TableLayout.Digest()).createWriter(0, 2L)
    w1.write(row(2L, "de", 999L))
    val m1 = w1.commit().asInstanceOf[TableCommitMessage]
    new DigestWrite(dir.toString, TableLayout.Digest(), requireDist = false,
      Some(Array(EqualTo("lang", "de")))).toBatch.commit(Array(m1))
    assert(lines("lang_de-part-00000.csv") == Seq("2,de,999"),
      "overwrite did not replace the matched lang's file content")
    assert(lines("lang_en-part-00000.csv") == enBefore,
      "overwrite disturbed an unmatched lang's file")
    val manifest = graft.sources.DigestManifest
      .listingFor(dir.toString, "_MANIFEST").map(graft.sources.ManifestEntry.parse)
    assert(manifest.map(e => (e.file, e.rows)).sorted ==
      Seq(("lang_de-part-00000.csv", 1L), ("lang_en-part-00000.csv", 1L)),
      s"manifest merge wrong: $manifest")
  }

  test("q242 guard: an append commit refuses a fresh file name that is " +
      "already committed (the clobbered-append bug class stays loud)") {
    import graft.sources.{CommittedFile, DigestManifest, DigestWrite, TableBatchWrite, TableCommitMessage, TableLayout}
    val dir = java.nio.file.Files.createTempDirectory("graft_dupname_spec_")
    DigestManifest.publish(dir.toString, Seq("lang_de-part-00000.csv,2"))
    val clash = TableCommitMessage(Seq(CommittedFile("lang_de-part-00000.csv", 3)))
    val e = intercept[IllegalArgumentException] {
      new TableBatchWrite(dir.toString, TableLayout.Digest())
        .commit(Array(clash))
    }
    assert(e.getMessage.contains("job-unique names"))
    // ...while the legacy rename-in-place OVERWRITE of that same name
    // (which retires the old entry in the same commit) stays legal
    new DigestWrite(dir.toString, TableLayout.Digest(), requireDist = false,
      Some(Array(org.apache.spark.sql.sources.EqualTo("lang", "de"))))
      .toBatch.commit(Array(clash))
    assert(DigestManifest.listingFor(dir.toString, "_MANIFEST")
      .head == "lang_de-part-00000.csv,3")
  }

  test("q192: DELETE honesty gate — row-level predicates refused; lang delete " +
      "is metadata-only and the table read follows the manifest") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val dir = java.nio.file.Files.createTempDirectory("graft_del_spec_")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ns.delspec " +
      s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_digest " +
      s"TBLPROPERTIES ('path'='$dir')")
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("doc_id", "lang", "n_chars")
      .writeTo("graft.ns.delspec").append()
    // a predicate finer than the lang-split layout must be REFUSED (the
    // sink cannot express it as whole-file deletion), never approximated
    val e = intercept[Throwable] {
      spark.sql("DELETE FROM graft.ns.delspec WHERE n_chars > 15")
    }
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("delete"),
      s"wrong refusal: $e")
    assert(spark.sql("SELECT COUNT(*) FROM graft.ns.delspec")
      .first().getLong(0) == 3L, "refused delete must not remove anything")
    // a layout-aligned predicate executes as metadata-only file drop and
    // the V2 read path (manifest-gated) observes exactly the survivors
    spark.sql("DELETE FROM graft.ns.delspec WHERE lang = 'de'")
    assert(spark.sql("SELECT doc_id FROM graft.ns.delspec ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "post-delete table read must follow the shrunk manifest")
    spark.sql("DROP TABLE graft.ns.delspec")
  }

  test("q199: UDT storage stays open — the parquet reads as a plain array<double>") {
    // run the query once so the staged parquet exists (and oracle-shape holds)
    assert(SparkEntry.queries("q199_udt_roundtrip")(spark, sf).count() > 0)
    val staged = graft.TempDirs.staged(s"udt_roundtrip:$sf")()
    // a reader WITHOUT the UDT in its requested schema must see the
    // underlying sqlType — vendor-neutral storage, not an engine-private
    // encoding (any engine reading array<double> gets the numbers)
    val plain = spark.read
      .schema("event_id LONG, event_type STRING, vec ARRAY<DOUBLE>")
      .parquet(s"$staged/vecs")
    val r = plain.selectExpr("sum(vec[0])", "sum(vec[1])", "count(*)").first()
    val expect = Tables.events(spark, sf)
      .selectExpr("sum(CAST(round(value * 100) AS BIGINT))", "sum(user_id)",
        "count(*)").first()
    assert(r.getDouble(0) == expect.getLong(0).toDouble &&
      r.getDouble(1) == expect.getLong(1).toDouble &&
      r.getLong(2) == expect.getLong(2),
      s"plain-schema read of the UDT file diverged: $r vs $expect")
  }

  test("q174: epoch sink commit sequencing — replayed epoch commits " +
      "idempotently, uncommitted epochs stay invisible") {
    import scala.jdk.CollectionConverters._
    import graft.sources.{DigestManifest, EvolveSchema, LayoutWriterFactory, ManifestEntry, TableCommitMessage, TableLayout, TableStreamingWrite}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_epoch_spec_")
    // q174's sink table: an evolve layout over its four columns
    val layout = TableLayout.Evolve(EvolveSchema.parse(
      streaming.EventStream.q174Sink(dir.toString)("evolveSchema"))._2)
    def row(id: Long, us: Long, uid: Long, tpe: String) =
      InternalRow(id, us, uid, UTF8String.fromString(tpe))
    def listing() = DigestManifest.listingFor(dir.toString, "_MANIFEST")
    def entries() = listing().map(ManifestEntry.parse).map(e => (e.file, e.rows))
    def files() = {
      val l = java.nio.file.Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector.sorted
      finally l.close()
    }
    val factory = LayoutWriterFactory(dir.toString, layout)
    val write = new TableStreamingWrite(dir.toString, layout)
    // epoch 0, attempt 11: task-commit renames staged → epoch-keyed final
    val w0 = factory.createWriter(0, 11L, 0L)
    w0.write(row(1L, 1000L, 7L, "click"))
    w0.write(row(2L, 2000L, 7L, "view"))
    val m0 = w0.commit().asInstanceOf[TableCommitMessage]
    assert(m0.files.map(f => (f.fileName, f.rows)) == Seq(("ev-je0-part-00000.csv", 2L)))
    // BEFORE the epoch commit, manifest readers see NOTHING
    assert(listing().isEmpty, "uncommitted epoch leaked into the committed view")
    write.commit(0L, Array[WriterCommitMessage](m0))
    val visible1 = listing()
    assert(entries() == Seq(("ev-je0-part-00000.csv", 2L)))
    val bytes0 = java.nio.file.Files.readAllBytes(dir.resolve("ev-je0-part-00000.csv"))
    // REPLAY: driver died between sink commit and checkpoint — Spark
    // re-runs epoch 0 (same offsets → same bytes, new attempt id) and
    // calls commit(0, …) again. The replayed task overwrites the SAME
    // final file; the second epoch commit publishes nothing — not a
    // crash, not a duplicate entry, not a new version.
    val w0r = factory.createWriter(0, 42L, 0L)
    w0r.write(row(1L, 1000L, 7L, "click"))
    w0r.write(row(2L, 2000L, 7L, "view"))
    val m0r = w0r.commit().asInstanceOf[TableCommitMessage]
    assert(m0r.files.map(_.fileName) == m0.files.map(_.fileName))
    write.commit(0L, Array[WriterCommitMessage](m0r))
    assert(listing() == visible1, "epoch replay changed the committed view")
    assert(DigestManifest.currentVersion(dir.toString) == 1,
      "epoch replay published a version")
    assert(java.nio.file.Files.readAllBytes(dir.resolve("ev-je0-part-00000.csv"))
      .sameElements(bytes0), "epoch replay changed the epoch's file")
    // an aborted attempt of a LATER epoch leaves no trace: staged file
    // removed, no entry, committed view unchanged
    val w1 = factory.createWriter(0, 13L, 1L)
    w1.write(row(3L, 3000L, 8L, "error"))
    w1.abort()
    write.abort(1L, Array.empty)
    assert(listing() == visible1)
    val leftover = files().filter(_.contains("je1"))
    assert(leftover.isEmpty, s"aborted epoch left $leftover")
    // epoch 1 then commits for real — the committed view appends it
    val w1b = factory.createWriter(0, 14L, 1L)
    w1b.write(row(3L, 3000L, 8L, "purchase"))
    val m1 = w1b.commit().asInstanceOf[TableCommitMessage]
    write.commit(1L, Array[WriterCommitMessage](m1))
    assert(entries() == Seq(("ev-je0-part-00000.csv", 2L), ("ev-je1-part-00000.csv", 1L)))
  }

  test("q174: a full stream re-run into the same sink dir is idempotent " +
      "end-to-end — the live replay path, not just the protocol calls") {
    // fresh checkpoint + same sink dir = every epoch re-delivered and
    // re-committed against the entries already listed; the committed view
    // and the collapsed result must not change
    val first = streaming.EventStream.q174StreamEpochSink(spark, sf).collect()
    val sinkDir = graft.TempDirs.staged(s"epoch_sink:$sf")().toString
    def listing() = graft.sources.DigestManifest.listingFor(sinkDir, "_MANIFEST")
    val before = listing()
    // same staged feed, same sink, FRESH checkpoint → full re-delivery
    streaming.EventStream.q174Stream(spark,
      graft.TempDirs.staged(s"events_cdc:$sf")().toString, sinkDir,
      java.nio.file.Files.createTempDirectory("graft_epoch_replay_").toString)
    assert(listing() == before, "re-delivered epochs changed the committed view")
    val second = streaming.EventStream.q174StreamEpochSink(spark, sf).collect()
    assert(second.toSeq == first.toSeq,
      "epoch replay changed the collapsed CDC result")
  }

  test("q143: the appended index covers base ∪ batch exactly once") {
    // the serve oracle pins the top-10; this pins APPEND COMPLETENESS —
    // a silently dropped or duplicated vector would not necessarily
    // surface in a 10-row result
    import org.apache.spark.sql.functions._
    val idx = ops.Similarity.annIndexIncrDir(spark, sf)
    val emb = Tables.t(spark, sf, "embeddings")
    val posts = spark.read.parquet(s"$idx/ivf_postings")
    assert(posts.count() == emb.count(), "postings must cover every vector")
    assert(posts.select("vec_id").distinct().count() == posts.count(),
      "append must not duplicate any base posting")
    val codes = spark.read.parquet(s"$idx/pq_codes")
    val encodable = emb.filter(col("vec_id") =!= 0 &&
      array_max(transform(col("embedding"), x => abs(x.cast("double")))) > 0)
    assert(codes.count() == encodable.count() * 8,
      "8 subspace codes per encodable vector, base and batch alike")
  }

  test("q146: compaction writes exactly one file per planned bin, no rows lost") {
    import scala.jdk.CollectionConverters._
    val out = graft.ops.Analytics.compactionDir(spark, sf)
      .resolve("documents_compact")
    // every (source=…/bin=…) leaf directory must hold EXACTLY one part
    // file, and the total must equal the q105 plan's bin count — that is
    // the execution claim (small files → one file per target-size bin)
    val binDirs = java.nio.file.Files.walk(out).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p)
        && p.getFileName.toString.startsWith("bin="))
      .toSeq
    val planBins = graft.ops.Analytics.q105CompactionPlan(spark, sf).count()
    assert(binDirs.size.toLong == planBins,
      s"${binDirs.size} bin dirs vs $planBins planned bins")
    binDirs.foreach { d =>
      val parts = java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"$d holds ${parts.size} files, want 1")
    }
    // fidelity: the rewrite drops and duplicates nothing
    val reread = spark.read.parquet(out.toString)
    assert(reread.count() == Tables.t(spark, sf, "documents").count())
    assert(reread.select("doc_id").distinct().count() == reread.count())
  }

  test("q115: fixed-point PageRank matches an exact in-memory reference") {
    // independent re-derivation: collect the edge list (tiny at sf0.001)
    // and run the same fixed-point recurrence in plain Scala longs — pins
    // the distributed program against the algorithm itself, independently
    // of the unrolled SQL oracle twin
    val edges = Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .join(Tables.t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tele = 150000000L / n
    var pr = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 5) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        val share = pr(u) / vs.length
        vs.foreach(v => in(v) += share)
      }
      val dang = nodes.filterNot(out.contains).map(pr).sum
      pr = nodes.map(v => v -> (tele + ((in(v) + dang / n) * 85) / 100)).toMap
    }
    val got = ops.Analytics.q115PageRank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pr, s"${got.size} nodes vs reference ${pr.size}")
    // dangling suppliers exist and receive mass (the redistribution path
    // is genuinely exercised, not vacuous)
    assert(nodes.exists(v => !out.contains(v)))
  }

  test("q121: codebook vectors PQ-encode to themselves with zero error") {
    // the 16 md5-sampled vectors ARE the codebook entries, so their argmin
    // must land on their own entry at distance 0 in every subspace —
    // pins the quantize→slice→assign path end-to-end
    val cbIds = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy("h", "vec_id").limit(16)
      .collect().map(_.getLong(0)).toSet
    val rows = ops.Similarity.q121PqCodes(spark, sf).collect()
    val cbRows = rows.filter(r => cbIds(r.getLong(0)))
    assert(cbRows.length == cbIds.size * 8, "every codebook vector needs 8 codes")
    cbRows.foreach(r => assert(r.getLong(3) == 0,
      s"codebook vec ${r.getLong(0)} sub ${r.getInt(1)} dist ${r.getLong(3)}"))
    // and every vector gets exactly 8 codes in [0, 16)
    assert(rows.length % 8 == 0)
    rows.foreach(r => assert(r.getInt(2) >= 0 && r.getInt(2) < 16))
  }

  test("q122: ADC search returns a bounded, totally-ordered corpus top-k") {
    val rows = ops.Similarity.q122PqAdc(spark, sf).collect()
    assert(rows.length == 10)
    val dists = rows.map(_.getLong(1))
    assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
      "ADC distances must be non-decreasing")
    val corpus = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") =!= 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(corpus(r.getLong(0)), "hit outside the corpus"))
  }

  test("q123: span plan hits the 15% budget with in-bounds disjoint spans") {
    val rows = ops.Corpus.q123SpanCorruption(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, start, len) = (r.getInt(1), r.getInt(3), r.getInt(4))
      assert(start >= 1 && len >= 1 && start + len - 1 <= n,
        s"span out of bounds: doc ${r.getLong(0)} start $start len $len n $n")
    }
    // spans within a doc are stride-separated (20 > 3 ⇒ disjoint)
    rows.groupBy(_.getLong(0)).foreach { case (_, spans) =>
      val starts = spans.sortBy(_.getInt(2)).map(_.getInt(3))
      starts.zip(starts.tail).foreach { case (a, b) => assert(b - a == 20) }
    }
    // corpus-wide masked budget ≈ spanLen/stride = 15%
    val masked = rows.map(_.getInt(4).toLong).sum.toDouble
    val total = rows.groupBy(_.getLong(0)).map(_._2.head.getInt(1).toLong).sum.toDouble
    assert(masked / total > 0.10 && masked / total < 0.20,
      s"masked fraction ${masked / total}")
  }

  test("pageRank matches the exact recurrence on arbitrary random graphs") {
    // beyond q115's one fixed graph: self-loops, duplicate edges, chains,
    // isolated stars — any shape the generator produces must land on the
    // same int64 fixpoint as the plain-Scala recurrence
    import spark.implicits._
    val genEdges = Gen.chooseNum(1, 30).flatMap(m =>
      Gen.listOfN(m, for {
        u <- Gen.chooseNum(0L, 12L)
        v <- Gen.chooseNum(0L, 12L)
      } yield (u, v)))
    val prop = forAll(genEdges) { es =>
      val got = ops.Graph.pageRank(es.toDF("src", "dst"), 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val edges = es.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val n = nodes.length
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val tele = 150000000L / n
      var pr = nodes.map(_ -> 1000000000L / n).toMap
      for (_ <- 1 to 3) {
        val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        out.foreach { case (u, vs) =>
          val share = pr(u) / vs.length
          vs.foreach(v => in(v) += share)
        }
        val dang = nodes.filterNot(out.contains).map(pr).sum
        pr = nodes.map(v => v -> (tele + ((in(v) + dang / n) * 85) / 100)).toMap
      }
      got == pr
    }
    // each case runs the full distributed loop — keep the sample small
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(8))
    assert(res.passed, res.status.toString)
  }

  test("winnowing guarantee: a shared >= k+w-1 token run shares a fingerprint") {
    // Schleimer et al.'s core property: any verbatim token run of length
    // >= k + w - 1 (= 6 here) contains at least one full gram window in
    // both documents, so both select the same window minimum. Two docs
    // sharing a 12-token quote inside otherwise-disjoint text MUST share
    // a fingerprint; two disjoint-vocabulary docs must share none.
    import spark.implicits._
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val docs = Seq(
      (1L, s"one two three four five six seven $quote eight nine ten"),
      (2L, s"uno dos tres cuatro $quote cinco seis siete ocho nueve"),
      (3L, "red orange yellow green blue indigo violet magenta cyan maroon olive navy")
    ).toDF("doc_id", "text")
    val fps = ops.Dedup.winnowFingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "docs sharing a 12-token run must share a winnowed fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint-vocabulary docs must not collide")
    // density: selected fingerprints are a strict, non-empty subset of grams
    assert(byDoc(3L).nonEmpty && byDoc(3L).size < 12 - 2,
      s"expected a winnowed sample, got ${byDoc(3L).size} of 10 grams")
  }

  test("native WinnowFingerprints is bit-identical to the lambda spelling") {
    // the codegen expression replaces the nested-lambda composition on
    // the hot path (one md5 per gram instead of w per gram); it must
    // select EXACTLY the same fingerprints on real corpus text — same
    // hashes, same per-doc multiset
    val native = ops.Dedup.winnowFingerprints(Tables.t(spark, sf, "documents"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val lambda = ops.Dedup.winnowFingerprintsLambda(Tables.t(spark, sf, "documents"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(native.nonEmpty, "fingerprint relation must not be empty")
    assert(native == lambda, "native and lambda winnowing diverged")
  }

  test("jump consistent hash: codegen path matches the published algorithm") {
    // independent re-statement of the Lamping–Veach loop, compared
    // against the native expression evaluated through a real plan — pins
    // both the algorithm and the doGenCode path
    import spark.implicits._
    def ref(key: Long, buckets: Int): Int = {
      var k = key; var b = -1L; var j = 0L
      while (j < buckets) {
        b = j
        k = k * 2862933555777941757L + 1L
        j = ((b + 1) * (2147483648.0 / (((k >>> 33) + 1).toDouble))).toLong
      }
      b.toInt
    }
    val keys = (1 to 200).map(i => i.toLong * 0x9e3779b97f4a7c15L)
    Seq(1, 2, 7, 16, 17, 1000).foreach { n =>
      val got = keys.toDF("key")
        .select(col("key"), functions.JumpConsistentHash.jump_hash(col("key"), n).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(got(k) == ref(k, n), s"key $k buckets $n")
        assert(got(k) >= 0 && got(k) < n, s"bucket out of range for n=$n")
      }
    }
  }

  test("jump consistent hash: growing n moves only keys into the NEW bucket") {
    // the defining consistency property: jump(k, n+1) is either
    // jump(k, n) (key stays) or n (key moves to the added shard) — no
    // key ever moves BETWEEN existing shards; and the moved fraction is
    // ~1/(n+1)
    val keys = (1 to 4000).map(i => i.toLong * 0x9e3779b97f4a7c15L + 17)
    Seq(4, 16, 63).foreach { n =>
      var moved = 0
      keys.foreach { k =>
        val a = functions.JumpConsistentHash.jump(k, n)
        val b = functions.JumpConsistentHash.jump(k, n + 1)
        assert(b == a || b == n, s"key $k moved between existing shards: $a -> $b")
        if (b != a) moved += 1
      }
      val expect = keys.size.toDouble / (n + 1)
      assert(moved > expect * 0.6 && moved < expect * 1.5,
        s"n=$n moved $moved, expected ≈ ${expect.toInt}")
    }
  }

  test("kCore matches brute-force peeling on arbitrary random graphs") {
    import spark.implicits._
    val genCase = for {
      m <- Gen.chooseNum(1, 40)
      es <- Gen.listOfN(m, for {
        u <- Gen.chooseNum(0L, 10L)
        v <- Gen.chooseNum(0L, 10L)
      } yield (u, v))
      k <- Gen.chooseNum(1, 4)
    } yield (es, k)
    val prop = forAll(genCase) { case (es, k) =>
      val got = ops.Graph.kCore(es.toDF("u", "v"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference peel on the canonical undirected simple graph
      var e = es.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      var stable = false
      while (!stable) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val next = e.filter(p => deg(p._1) >= k && deg(p._2) >= k)
        stable = next == e
        e = next
      }
      val want = e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      got == want && got.values.forall(_ >= k)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(8))
    assert(res.passed, res.status.toString)
  }

  test("kCore peeling cascades to the fixpoint") {
    import spark.implicits._
    // a path peels from both ends, one vertex per round, to nothing —
    // the case a single-pass degree filter gets wrong
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("u", "v")
    assert(ops.Graph.kCore(path, 2).count() == 0,
      "a path has no 2-core; single-pass filtering would keep the middle")
    // a cycle with a pendant chain: the cycle IS the 2-core, chain peels
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L))
    val (core, rounds) = ops.Graph.kCoreWithRounds((cycle ++ chain).toDF("u", "v"), 2)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be exactly the cycle, got $got")
    // the chain peels one vertex per round (12, 11, 10) — the reported
    // round count is what q129's oracle-unroll guard keys on
    assert(rounds == 3, s"expected 3 effective peel rounds, got $rounds")
  }

  test("q139: converged ranking equals the fixed-iteration twin at its observed count") {
    // pageRankConverged must return EXACTLY pageRank(edges, rounds) for
    // the rounds it reports — the convergence stop may only choose WHEN to
    // stop, never alter the recurrence (the invariance pin behind the
    // rows-only q139; the tolerance-fixpoint property has its own spec)
    val orders = Tables.t(spark, sf, "orders").select(col("o_orderkey"), col("o_custkey"))
    val edges = orders
      .join(Tables.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val (pr, rounds) = ops.Graph.pageRankConvergedWithRounds(edges)
    assert(rounds > 0, "convergence must take at least one round")
    val twin = ops.Graph.pageRank(edges, rounds)
    assert(pr.exceptAll(twin).isEmpty && twin.exceptAll(pr).isEmpty,
      s"converged ranking diverged from pageRank(edges, $rounds)")
    assert(pr.count() > 0)
  }

  test("q126: sketched NDV within 5% of exact stats, all other columns exact") {
    val exact = ops.Analytics.q111TableStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val sk = ops.Analytics.q126SketchStats(spark, sf).collect()
    assert(sk.length == exact.size, "one stats row per column")
    sk.foreach { r =>
      val c = r.getString(0)
      val e = exact(c)
      assert(r.getLong(1) == e.getLong(1), s"$c: n_rows must be exact")
      assert(r.getLong(3) == e.getLong(3), s"$c: null count must be exact")
      assert(r.getString(4) == e.getString(4), s"$c: min must be exact")
      assert(r.getString(5) == e.getString(5), s"$c: max must be exact")
      val (est, ndv) = (r.getLong(2).toDouble, e.getLong(2).toDouble)
      assert(math.abs(est - ndv) <= math.max(1.0, 0.05 * ndv),
        s"$c: sketched NDV $est vs exact $ndv exceeds 5%")
    }
  }

  test("pageRankConverged lands on a tolerance fixpoint") {
    // one more exact-recurrence step applied to the CONVERGED ranks (in
    // plain Scala, bit-identical math) must move no node by more than the
    // tolerance — i.e. the returned ranking is a fixpoint at tolPpb, not
    // an arbitrary iteration cut. Graph: a ring with chords + a dangling
    // sink, so every term (in-sum, damping, dangling mass) is exercised.
    import spark.implicits._
    val es = ((0L to 9L).map(i => (i, (i + 1) % 10)) ++
      Seq((0L, 5L), (3L, 8L), (7L, 2L), (4L, 10L))) // 10 is dangling
    val tol = 500000L
    val got = ops.Graph.pageRankConverged(es.toDF("src", "dst"), tol, 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val out = es.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    out.foreach { case (u, vs) =>
      val share = got(u) / vs.length
      vs.foreach(v => in(v) += share)
    }
    val dang = nodes.filterNot(out.contains).map(got).sum
    val tele = 150000000L / n
    nodes.foreach { v =>
      val next = tele + ((in(v) + dang / n) * 85) / 100
      assert(math.abs(next - got(v)) <= tol,
        s"node $v moved ${math.abs(next - got(v))} > $tol after convergence")
    }
  }

  test("pageRank fails loudly on an empty edge list") {
    import spark.implicits._
    assertThrows[IllegalArgumentException] {
      ops.Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"), 3)
    }
  }

  test("triangleCount matches brute force on arbitrary random graphs") {
    // self-loops, duplicate and reversed edges, cliques, stars — whatever
    // the generator produces, the degree-ordered count must equal the
    // O(n³) reference
    import spark.implicits._
    val genEdges = Gen.chooseNum(1, 40).flatMap(m =>
      Gen.listOfN(m, for {
        u <- Gen.chooseNum(0L, 10L)
        v <- Gen.chooseNum(0L, 10L)
      } yield (u, v)))
    val prop = forAll(genEdges) { es =>
      val got = ops.Graph.triangleCount(es.toDF("u", "v"))
        .collect().head.getLong(0)
      val adj = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).toSet
      val nodes = adj.map(_._1).toSeq.sorted
      val want = (for {
        a <- nodes; b <- nodes if a < b && adj((a, b))
        c <- nodes if b < c && adj((a, c)) && adj((b, c))
      } yield 1).size.toLong
      got == want
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(8))
    assert(res.passed, res.status.toString)
  }

  test("triangleCount orients a hot vertex's edges inward (bounded fan-out)") {
    // the curse-of-the-last-reducer scenario: one vertex in a near-dup
    // pair with 200 others (boilerplate cluster). A naive wedge join
    // proposes C(200,2) ≈ 20k wedges at the hub; degree ordering points
    // every hub edge INTO the hub, so the hub proposes none and the only
    // wedges come from the leaves (out-degree ≤ 2).
    import spark.implicits._
    val hub = (1L to 200L).map(i => (0L, i))
    val rim = Seq((1L, 2L), (3L, 4L)) // two triangles through the hub
    val edges = (hub ++ rim).toDF("u", "v")
    val got = ops.Graph.triangleCount(edges).collect().head.getLong(0)
    assert(got == 2L, s"expected 2 triangles, got $got")
    // reproduce the orientation and check the bound that makes it scale:
    // max out-degree ≤ max leaf degree (3), NEVER the hub's 200
    val e = (hub ++ rim).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.size).toMap
    val outDeg = e.map { case (u, v) =>
        if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v
      }.groupBy(identity).view.mapValues(_.size)
    assert(outDeg.values.max <= 3,
      s"degree ordering must bound fan-out, saw ${outDeg.values.max}")
    assert(!outDeg.contains(0L) || outDeg(0L) == 0,
      "the hub must propose no wedges")
  }

  test("q113: paragraph dedup keeps exactly one copy of every segment") {
    val out = ops.Corpus.q113ParagraphDedup(spark, sf).collect()
    val nKept = out.map(_.getLong(2)).sum
    val nSegs = out.map(_.getLong(1)).sum
    // corpus-wide: kept segments = distinct segment texts; every doc keeps
    // no more than it has
    val docs = Tables.t(spark, sf, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(explode(sequence(lit(1), size(col("ws")), lit(16))).as("start"), col("ws"))
      .select(concat_ws(" ", slice(col("ws"), col("start"), lit(16))).as("seg"))
    assert(nSegs == docs.count(), "segment explode must cover the corpus")
    assert(nKept == docs.distinct().count(), "kept = one per distinct segment")
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q153: distributed BPE equals a plain-Scala reference implementation") {
    // third check beyond the SQL twin: classic sequential BPE (mutable
    // symbol vectors, no string-replace trick) over the collected word
    // frequencies must yield the identical merge table
    val wf = Tables.t(spark, sf, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("w").count().collect()
      .map(r => (r.getString(0).toVector.map(_.toString), r.getLong(1)))
    var words = wf
    val ref = (1 to 12).map { k =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      words = words.map { case (syms, f) =>
        val out = scala.collection.mutable.Buffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2 // greedy left-to-right, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        (out.toVector, f)
      }
      (k, l, r, l + r, cnt)
    }
    val got = ops.TextOps.q153BpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == ref, s"merge tables differ:\n got $got\n ref $ref")
  }

  test("q153/q154: the greedy merge walk handles back-to-back pair " +
      "occurrences — the shapes a single non-overlapping replace drops") {
    import spark.implicits._
    // plain-Scala subword-nmt walk (i += 2 after a match)
    def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.Buffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    def engine(streams: Seq[Seq[String]], l: String, r: String): Seq[String] =
      streams.map(_.mkString(" ")).toDF("sym")
        .select(expr("array_join(" +
          ops.TextOps.greedyMergeArr("split(sym, ' ')", l, r) + ", ' ')"))
        .collect().map(_.getString(0)).toSeq
    // the exact adversaries from the replace-trick failure mode: adjacent
    // occurrences share the boundary space (' a b a b ' has two matches
    // of ' a b ' overlapping at one space), and same-symbol runs
    val hard = Seq(
      (Seq("a", "b", "a", "b"), ("a", "b")),
      (Seq("a", "a", "a", "a", "a", "a"), ("a", "a")),
      (Seq("a", "a", "a", "a", "a"), ("a", "a")),
      (Seq("b", "a", "b", "a", "b"), ("a", "b")),
      (Seq("x", "a", "b", "y"), ("a", "b")),
      (Seq("a"), ("a", "a")))
    hard.foreach { case (syms, (l, r)) =>
      val got = engine(Seq(syms), l, r).head
      assert(got == applyMerge(syms, l, r).mkString(" "),
        s"walk diverged on $syms with merge ($l,$r): $got")
    }
    // randomized cross-check over a tiny alphabet, one engine pass per pair
    val rnd = new scala.util.Random(11)
    val alpha = Vector("a", "b", "ab", "c")
    val streams =
      Seq.fill(60)(Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size))))
    Seq(("a", "b"), ("a", "a"), ("b", "a"), ("ab", "c")).foreach { case (l, r) =>
      engine(streams, l, r).zip(streams).foreach { case (g, syms) =>
        assert(g == applyMerge(syms, l, r).mkString(" "),
          s"walk diverged on $syms with merge ($l,$r): $g")
      }
    }
  }

  test("q151: count-min sketch is merge-invariant and only overcounts") {
    // mergeability: elementwise addition commutes, so the sketch must be
    // bit-identical whether built from 1 partition or 32; one-sided error:
    // every audit estimate ≥ the exact count
    import graft.functions.CountMinAgg.count_min
    val keyed = Tables.events(spark, sf).select(
      when(col("event_type") === "error", concat(lit("u"), col("user_id")))
        .otherwise(concat(lit("e"), col("event_id"))).as("key"))
    val one = keyed.repartition(1).agg(count_min(col("key")).as("sk"))
      .collect().head.getSeq[Long](0)
    val many = keyed.repartition(32).agg(count_min(col("key")).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(one == many, "sketch must not depend on partitioning/merge order")
    assert(one.sum == keyed.count() * 4, "each row increments d buckets")
    ops.Analytics.q151CountMin(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) >= 0L, s"CMS undercounted key ${r.getString(0)}")
    }
  }

  test("q157: HLL registers are merge- and multiplicity-invariant; " +
      "rollup ≡ direct; estimator within 3σ") {
    import graft.functions.HllAgg
    import graft.functions.HllAgg.hll_registers
    val keys = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey").cast("string").as("k"))
    val one = keys.repartition(1).agg(hll_registers(col("k")).as("r"))
      .collect().head.getSeq[Long](0)
    val many = keys.repartition(32).agg(hll_registers(col("k")).as("r"))
      .collect().head.getSeq[Long](0)
    assert(one == many, "sketch must not depend on partitioning/merge order")
    val dedup = keys.distinct().agg(hll_registers(col("k")).as("r"))
      .collect().head.getSeq[Long](0)
    assert(dedup == one, "register max must absorb duplicate keys")

    // JVM bucket/rho agrees with an independent hex-string re-derivation
    // (the same walk the DuckDB oracle performs)
    def refBucketRho(key: String): (Int, Long) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = Integer.parseInt(h.substring(0, 2), 16)
      val lt = h.substring(2, 17).dropWhile(_ == '0')
      if (lt.isEmpty) (b, HllAgg.RhoCap)
      else {
        val v = Integer.parseInt(lt.substring(0, 1), 16)
        (b, 4L * (15 - lt.length) + 5L - (32 - Integer.numberOfLeadingZeros(v)))
      }
    }
    for (k <- Seq("0", "1", "42", "6000", "graft", "", "éclair"))
      assert(HllAgg.bucketRho(k) == refBucketRho(k), s"bucket/rho differ for '$k'")

    // the ALL row is the register-wise-max rollup of the group sketches —
    // it must equal the sketch built directly over the ungrouped keys
    val out = ops.Analytics.q157HllExact(spark, sf).collect()
    val directDigest = {
      val joined = keys.agg(hll_registers(col("k")).as("r"))
        .collect().head.getSeq[Long](0).mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val allRow = out.find(_.getString(0) == "ALL").get
    assert(allRow.getString(1) == directDigest,
      "ALL rollup digest must equal the direct ungrouped sketch")
    out.foreach { r =>
      val (est, exact) = (r.getLong(4), r.getLong(5))
      assert(math.abs(est - exact) * 5 <= exact,
        s"${r.getString(0)}: est $est vs exact $exact — outside 20% (3σ at m=256)")
    }
  }

  test("q160: OLS slope matches a plain-BigInt reference fit, group by group") {
    val monthly = Tables.t(spark, sf, "orders")
      .join(Tables.t(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("midx"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("n_name", "midx").agg(sum("cents").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val ref = monthly.groupBy(_._1).map { case (nation, rows) =>
      val mn = rows.map(_._2).min
      val pts = rows.map(t => (BigInt(t._2 - mn), BigInt(t._3)))
      val n = BigInt(pts.size)
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      nation -> (n * sxy - sx * sy, n * sxx - sx * sx)
    }
    val got = ops.Analytics.q160OlsTrend(spark, sf).collect()
    assert(got.length == ref.size)
    got.foreach { r =>
      val (num, den) = ref(r.getString(0))
      assert(BigInt(r.getLong(2)) == num && BigInt(r.getLong(3)) == den,
        s"${r.getString(0)}: moments differ from reference")
      assert(r.getInt(4) == num.signum, s"${r.getString(0)}: sign")
      assert(BigInt(r.getLong(5)) == (BigInt(1000000) * num.abs) / den,
        s"${r.getString(0)}: ppm magnitude")
    }
  }

  test("q167: bitmap index is merge/multiplicity-invariant and exact") {
    import graft.functions.BitmapAgg
    val cust = Tables.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
    val words = (cust.agg(max("c_custkey")).first().getLong(0) / 63 + 1).toInt
    val keys = cust.select(col("c_custkey"))
    val one = keys.repartition(1)
      .agg(BitmapAgg.bitmap(col("c_custkey"), words).as("b"))
      .collect().head.getSeq[Long](0)
    val many = keys.union(keys).repartition(32) // duplicates must be absorbed
      .agg(BitmapAgg.bitmap(col("c_custkey"), words).as("b"))
      .collect().head.getSeq[Long](0)
    assert(one == many, "bitmap must not depend on partitioning or multiplicity")
    // bit-for-bit against a plain-Scala reference build
    val ref = new Array[Long](words)
    val rows = cust.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    rows.foreach { case (k, _, _) => ref((k / 63).toInt) |= 1L << (k % 63).toInt }
    assert(one == ref.toSeq, "bitmap words differ from reference")
    // contingency cells from the index equal direct GROUP BY counts
    val direct = rows.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
    val nNation = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val out = ops.Analytics.q167BitmapIndex(spark, sf).collect()
    assert(out.length == nNation.size * rows.map(_._3).distinct.length)
    out.foreach { r =>
      val (n, g) = (r.getLong(0), r.getString(1))
      assert(r.getLong(2) == nNation(n), s"popcount nation $n")
      assert(r.getLong(4) == direct.getOrElse((n, g), 0), s"intersect ($n,$g)")
      assert(r.getLong(5) == r.getLong(2) + r.getLong(3) - r.getLong(4),
        s"inclusion-exclusion fails for ($n,$g)")
    }
  }

  test("q169: clean constraints pass; the planted partial-loss check fails exactly") {
    val out = ops.Warehouse.q169ConstraintAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val planted = out("fk_lineitem_orders_after_partial_loss")
    val expected = Tables.t(spark, sf, "lineitem")
      .filter(col("l_orderkey") % 50 === 3).count()
    assert(planted == (expected, false),
      s"planted orphans: got $planted, expected ($expected, false)")
    // a GENUINE finding: this corpus's lineitem does not follow TPC-H
    // (orderkey, linenumber) uniqueness — the audit must report exactly
    // the duplicated-pair count, not pass vacuously
    val dupPairs = Tables.t(spark, sf, "lineitem")
      .groupBy("l_orderkey", "l_linenumber").count().filter(col("count") > 1)
      .count()
    assert(dupPairs > 0 && out("unique_lineitem_pk") == (dupPairs, false),
      s"lineitem pk audit: got ${out("unique_lineitem_pk")}, expected ($dupPairs, false)")
    (out - "fk_lineitem_orders_after_partial_loss" - "unique_lineitem_pk")
      .foreach { case (name, (v, p)) =>
        assert(v == 0L && p, s"clean check $name reported $v violations")
      }
  }

  test("q170: histogram-refined quantiles equal the sorted-array reference") {
    val sorted = Tables.t(spark, sf, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      .collect().map(_.getLong(0)).sorted
    val n = sorted.length.toLong
    val got = ops.Analytics.q170ExactQuantiles(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(50, 90, 99))
    got.foreach { case (pct, r, v) =>
      assert(r == (n * pct + 99) / 100, s"p$pct rank")
      assert(v == sorted((r - 1).toInt), s"p$pct value: got $v")
    }
  }

  test("q172: length-bucketed batching wastes far less padding than arrival") {
    val out = ops.Pipeline.q172PaddingStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (_, realA, slotsA, wasteA) = out("arrival")
    val (_, realB, slotsB, wasteB) = out("length_bucketed")
    assert(realA == realB, "both strategies carry the same real tokens")
    assert(slotsA >= realA && slotsB >= realB, "slots can never undercount")
    assert(wasteB * 2 <= wasteA,
      s"length bucketing should at least halve waste: $wasteB vs $wasteA ppm")
    // conservation: waste_ppm is exactly the integral of (slots - real)
    assert(wasteA == (slotsA - realA) * 1000000 / slotsA)
    assert(wasteB == (slotsB - realB) * 1000000 / slotsB)
  }

  test("q171: observed metrics ride the job's single scan") {
    val out = ops.Warehouse.q171ObservedMetrics(spark, sf).collect().head
    val direct = Tables.t(spark, sf, "lineitem")
      .agg(count(lit(1)), count(when(col("l_returnflag") === "R", 1)),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")))
      .collect().head
    assert(out.getLong(0) == direct.getLong(0), "n_scanned")
    assert(out.getLong(2) == direct.getLong(1), "n_returned")
    assert(out.getLong(3) == direct.getLong(2), "sum_cents")
    assert(out.getLong(1) == out.getLong(0) - out.getLong(2), "kept identity")
    val plan = ops.Warehouse.q171LastPlan
    assert(plan.contains("CollectMetrics"), "metrics node missing from the job")
    val scans = plan.split("Scan parquet|FileScan parquet").length - 1
    assert(scans == 1, s"job must read lineitem exactly once, saw $scans scans")
  }

  test("q166: hourly concurrency peaks match a sequential sweep reference") {
    val hourUs = 3600000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gap = 30L * 60 * 1000000
    val sessions = ev.groupBy(_._1).values.flatMap { rows =>
      val ts = rows.sortBy(t => (t._2, t._3)).map(_._2)
      val out = scala.collection.mutable.Buffer[(Long, Long)]()
      var (s0, last) = (ts.head, ts.head)
      ts.tail.foreach { t =>
        if (t - last > gap) { out += ((s0, last)); s0 = t }
        last = t
      }
      out += ((s0, last)); out
    }.toSeq
    val deltas = sessions.flatMap { case (a, b) => Seq((a, 1), (b + 1, -1)) }
    val probes = deltas.map(_._1 / hourUs).distinct.map(hb => (hb * hourUs, 0))
    var level = 0L
    val swept = (deltas ++ probes).sortBy(identity).map { case (t, dd) =>
      level += dd; (t / hourUs, t, level)
    }
    val ref = swept.groupBy(_._1).map { case (hb, pts) =>
      val mx = pts.map(_._3).max
      hb -> (mx, pts.filter(_._3 == mx).map(_._2).min)
    }
    assert(swept.last._3 == 0, "sweep must end with every session closed")
    assert(swept.forall(_._3 >= 0), "negative concurrency")
    val got = ops.Events.q166MaxConcurrency(spark, sf).collect()
      .map(r => (r.getLong(2) /* peak_at_us */, r.getLong(1))).toMap
    assert(got.size == ref.size, s"hours: got ${got.size} vs ref ${ref.size}")
    ref.values.foreach { case (mx, at) =>
      assert(got.get(at).contains(mx), s"peak $mx at $at missing or wrong")
    }
  }

  test("q165: gap fill is dense and LOCF matches a sequential reference") {
    val daily = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id", "d").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val (mn, mx) = (daily.map(_._2).min(Ordering.by[java.time.LocalDate, Long](
      _.toEpochDay)), daily.map(_._2).maxBy(_.toEpochDay))
    val nDays = mx.toEpochDay - mn.toEpochDay + 1
    val byUser = daily.groupBy(_._1)
    val got = ops.Events.q165GapFillLocf(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getDate(1).toLocalDate),
        (r.getLong(2), r.getBoolean(3), r.getInt(4)))).toMap
    assert(got.size == byUser.size * nDays, "spine must be dense: |users|×|days|")
    byUser.foreach { case (u, rows) =>
      val obs = rows.map(t => t._2 -> t._3).toMap
      var lastDay: java.time.LocalDate = null
      (0L until nDays).map(mn.plusDays).foreach { day =>
        if (obs.contains(day)) lastDay = day
        val (cents, isObs, stale) = got((u, day))
        assert(isObs == obs.contains(day), s"user $u day $day observed flag")
        if (lastDay == null)
          assert(cents == 0L && stale == -1, s"user $u leading day $day")
        else {
          assert(cents == obs(lastDay), s"user $u day $day LOCF value")
          assert(stale == (day.toEpochDay - lastDay.toEpochDay), s"user $u day $day staleness")
        }
      }
    }
  }

  test("q164: BFS distances carry a valid shortest-path certificate") {
    val e = Tables.t(spark, sf, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(p => (p._2, p._1))).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val d = ops.Analytics.q164BfsDistances(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val allNodes = adj.keySet
    val src = allNodes.min
    assert(d(src) == 0 && d.count(_._2 == 0) == 1, "unique zero at the min node")
    // certificate: every covered edge moves distance by at most 1, and
    // every non-source node has a parent witness one hop closer
    e.foreach { case (u, v) =>
      (d.get(u), d.get(v)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) <= 1, s"edge ($u,$v)")
        case (None, None) => ()
        case _ => fail(s"edge ($u,$v) half-covered by the distance table")
      }
    }
    d.foreach { case (n, dd) =>
      if (dd > 0) assert(adj(n).exists(m => d.get(m).contains(dd - 1)),
        s"node $n at dist $dd has no neighbor at ${dd - 1}")
    }
    // coverage is exactly the source's component (reference reachability)
    val reach = scala.collection.mutable.Set(src)
    var frontier = Set(src)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)).diff(reach)
      reach ++= frontier
    }
    assert(d.keySet == reach, "distance table must cover exactly the component")
  }

  test("q161: skyline equals brute-force dominance; two-phase ≡ one global sweep") {
    val got = ops.Analytics.q161Skyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val all = Tables.t(spark, sf, "part").select(
        col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    val ref = all.filter(b => !all.exists(a => dominates(a, b)))
    assert(got.toSet == ref.toSet && got.length == ref.length,
      s"skyline ${got.length} rows vs brute-force ${ref.length}")
    // every dropped row is witnessed dominated by some frontier row
    val frontier = got.toSet
    all.filterNot(frontier).foreach { b =>
      assert(got.exists(a => dominates(a, b)),
        s"$b dropped but no frontier row dominates it")
    }
  }

  test("q159: Merkle diff is ancestor-closed, sparse, and build-stable") {
    val widthDf = ops.Warehouse.merkleWidth(spark, sf)
    val v1 = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // two independent builds must agree digest-for-digest (collect_list
    // order is pinned by sort_array) — equivalently, a self-diff is empty
    def treeMap() = ops.Warehouse.merkleNodes(spark, v1, widthDf).collect()
      .map(r => (r.getInt(2), r.getLong(0)) -> r.getString(1)).toMap
    val t1 = treeMap()
    assert(t1 == treeMap(), "rebuild produced different digests")
    assert(t1.size == 2 * ops.Warehouse.merkleLeaves - 1, "511-node tree")

    val diff = ops.Warehouse.q159MerkleSync(spark, sf).collect()
    val nodes = diff.map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(nodes.contains((0, 0L)), "replicas differ, so the root must differ")
    nodes.filter(_._1 > 0).foreach { case (l, i) =>
      assert(nodes.contains((l - 1, i / 2)),
        s"node ($l,$i) differs but its parent doesn't — descent would miss it")
    }
    // the differing leaves cover exactly the changed keys, and there are
    // no more of them than changed docs (the sparsity claim)
    val w = widthDf.collect().head.getLong(0)
    val changed = Tables.t(spark, sf, "documents").select("doc_id").collect()
      .map(_.getLong(0)).filter(id => id % 499 == 7 || id % 97 == 13)
    val leafIdx = nodes.filter(_._1 == ops.Warehouse.merkleDepth).map(_._2)
    changed.foreach(id => assert(leafIdx.contains(id / w),
      s"changed doc $id not covered by any differing leaf"))
    assert(leafIdx.size <= changed.length && changed.nonEmpty,
      s"${leafIdx.size} differing leaves for ${changed.length} changed docs")
  }

  test("q150: LPA communities strictly refine the connected components") {
    // the differentiation claim: labels never cross an island boundary
    // (a community is contained in one component), and LPA finds MORE
    // structure than CC on the planted-block graph
    val edges = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.t(spark, sf, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_custkey") % 8 === col("l_suppkey") % 8)
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val cc = ops.Graph.connectedComponents(
        edges.select(col("src").as("u"), col("dst").as("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp = ops.Analytics.q150LabelProp(spark, sf).collect()
    val commRoot = scala.collection.mutable.Map[Long, Long]()
    lp.foreach { r =>
      val (node, comm) = (r.getLong(0), r.getLong(1))
      val root = cc(node)
      assert(commRoot.getOrElseUpdate(comm, root) == root,
        s"community $comm spans two components")
    }
    val nComms = lp.map(_.getLong(1)).distinct.length
    val nComps = cc.values.toSet.size
    assert(nComms > nComps,
      s"LPA found $nComms communities vs $nComps components — no refinement")
  }

  test("q145: packed blocks tile the token stream exactly") {
    // the concat-and-split invariant: every block holds exactly 128 tokens
    // (the last may be short), blocks are contiguous from 0, and each
    // doc's spans add back up to its token count — no token lost or
    // double-packed by the sharded prefix sum
    val rows = ops.TextOps.q145PackBlocks(spark, sf).collect()
    val perBlock = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getInt(4).toLong).sum)
    val maxBlock = perBlock.keys.max
    assert(perBlock.keys.min == 0L && perBlock.size == maxBlock + 1,
      "block ids must be contiguous from 0")
    perBlock.foreach { case (b, tot) =>
      if (b < maxBlock) assert(tot == 128L, s"block $b holds $tot tokens")
      else assert(tot >= 1L && tot <= 128L, s"tail block holds $tot")
    }
    val perDoc = rows.groupBy(_.getLong(1))
      .map { case (d, rs) => (rs.map(_.getInt(4).toLong).sum, rs.head.getInt(2).toLong) }
    perDoc.foreach { case (spanSum, n) =>
      assert(spanSum == n, "doc spans must sum to its token count") }
  }
}
