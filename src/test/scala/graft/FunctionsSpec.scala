package graft

import org.apache.spark.sql.functions._

import graft.functions.{ArrayMath, RandExponential}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product matches the built-in zip_with/aggregate composition") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)),
      (Array.empty[Double], Array.empty[Double]))
      .toDF("a", "b")
    val got = df.select(
      ArrayMath.dot_product(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
    assert(got(0).getDouble(0) == 32.0)
  }

  test("word_ngrams generator ≡ the built-in transform+posexplode composition") {
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val native = docs.selectExpr("doc_id", "word_ngrams(text, 3)")
    val composed = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"), expr(
        "posexplode(CASE WHEN size(ws) < 3 THEN CAST(array() AS array<string>) " +
          "ELSE transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', slice(ws, i + 1, 3))) END)"))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))
    assert(native.count() > 0)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty,
      "generator output differs from the built-in composition")
  }

  test("word_ngrams rejects bad arity and non-literal n at analysis time") {
    intercept[Exception] {
      spark.sql("SELECT word_ngrams('a b c')").collect()
    }
    intercept[Exception] {
      Tables.t(spark, sf, "documents")
        .selectExpr("word_ngrams(text, CAST(n_chars AS INT))").collect()
    }
  }

  test("dot_product null handling matches the builtin on every edge input") {
    // null array, length mismatch, null element: the builtin composition
    // yields NULL on all three (zip_with null-pads, null poisons the sum);
    // DotProduct must agree or RewriteDotProduct silently changes results.
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), None: Option[Seq[Option[Double]]]),
      (Some(Seq(Some(1.0), Some(2.0), Some(9.0))), Some(Seq(Some(3.0), Some(4.0)))),
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))),
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))))
      .toDF("a", "b")
    val rows = df.select(
      ArrayMath.dot_product(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null divergence: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
    }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
    assert(rows(3).getDouble(0) == 11.0)
  }

  test("dot_product rejects non-array inputs at analysis time") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", "b")).toDF("a", "b")
        .select(ArrayMath.dot_product(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"))
  }

  test("dot_product survives both codegen and interpreted eval") {
    val df = spark.range(1000)
      .select(transform(sequence(lit(0), lit(63)), i => (col("id") + i).cast("double")).as("v"))
    val viaExpr = df.select(ArrayMath.dot_product(col("v"), col("v")).as("d"))
    // force interpreted path too via filter on the value
    assert(viaExpr.filter(col("d") > 0).count() == 1000)
  }

  test("int_sq_l2 matches the zip_with/aggregate composition, nulls included") {
    // value rows + every null edge: null array, length mismatch, null
    // element — the composition yields NULL on all three; IntSqL2 must
    // agree bit-for-bit (it replaced the composition on the PQ hot path)
    val df = Seq(
      (Some(Seq(Some(1), Some(2), Some(3))), Some(Seq(Some(4), Some(6), Some(9)))),
      (Some(Seq(Some(-5), Some(0))), Some(Seq(Some(5), Some(0)))),
      (Some(Seq.empty[Option[Int]]), Some(Seq.empty[Option[Int]])),
      (Some(Seq(Some(1), Some(2))), None: Option[Seq[Option[Int]]]),
      (Some(Seq(Some(1), Some(2), Some(9))), Some(Seq(Some(3), Some(4)))),
      (Some(Seq(Some(1), None)), Some(Seq(Some(3), Some(4)))))
      .toDF("a", "b")
    val rows = df.select(
      ArrayMath.int_sq_l2(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0), (acc, x) => acc + x).as("builtin"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null divergence: $r")
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), r.toString)
    }
    assert(rows(0).getInt(0) == 9 + 16 + 36 && rows(1).getInt(0) == 100 &&
      rows(2).getInt(0) == 0)
    assert(rows(3).isNullAt(0) && rows(4).isNullAt(0) && rows(5).isNullAt(0))
  }

  test("cell_argmin + coalesce matches the struct-min composition, nulls and ties included") {
    // The composition it replaced on the Lloyd hot path:
    // array_min(array(struct(cnorm - 2.0*dot(v, cv), cell)...)).cell —
    // including a deliberate TIE (two identical centroids, distinct ids →
    // lowest id must win) and every null edge (null vector, null element,
    // wrong length → every per-cell d is null, and the struct-min resolves
    // to the SMALLEST cell id because a null field sorts first).
    val cents: Seq[(Int, Array[Double])] = Seq(
      3 -> Array(1.0, 2.0, 3.0),
      5 -> Array(-4.0, 0.0, 2.0),
      7 -> Array(1.0, 2.0, 3.0)) // tie twin of cell 3
    val composition = {
      val opts = cents.map { case (cellId, cv) =>
        val cnorm = cv.map(x => x * x).sum
        struct(
          (lit(cnorm) - lit(2.0) * ArrayMath.dot_product(col("v"), typedLit(cv.toSeq))).as("d"),
          lit(cellId).as("cell"))
      }
      array_min(array(opts: _*)).getField("cell")
    }
    val fused = coalesce(ArrayMath.cell_argmin(col("v"), cents),
      lit(cents.map(_._1).min))
    val vecs: Seq[Option[Seq[Option[Double]]]] = Seq(
      Some(Seq(Some(1.0), Some(2.0), Some(3.0))), // exact hit on the tie pair
      Some(Seq(Some(-9.0), Some(1.0), Some(4.0))),
      Some(Seq(Some(0.0), Some(0.0), Some(0.0))), // all d = cnorm: min cnorm wins
      None, // null vector
      Some(Seq(Some(1.0), None, Some(3.0))), // null element
      Some(Seq(Some(1.0), Some(2.0)))) // wrong length
    val rows = vecs.toDF("v").select(composition.as("comp"), fused.as("fus")).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"unexpected null: $r")
      assert(r.getInt(0) == r.getInt(1), s"divergence: $r")
    }
    assert(rows(0).getInt(1) == 3, "tie must break to the lowest cell id")
    assert(rows(3).getInt(1) == 3 && rows(4).getInt(1) == 3 && rows(5).getInt(1) == 3,
      "null edges must resolve to the smallest cell id")
  }

  test("dot_product is registered for SQL text") {
    ArrayMath.register(spark)
    val one = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .first().getDouble(0)
    assert(one == 11.0)
  }

  test("bloom membership has no false negatives and bounded false positives") {
    import graft.functions.BloomMembership
    val members = spark.range(0, 2000)
      .select(xxhash64(concat(lit("k"), col("id"))).as("h"))
    val bloom = members
      .agg(BloomMembership.bloom_filter_agg(col("h"), 10000L, 80000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // every member must pass (no false negatives — the semi-join-reduction
    // correctness condition)
    val hits = members.filter(BloomMembership.might_contain(bloom, col("h"))).count()
    assert(hits == 2000, s"false negatives: ${2000 - hits}")
    // non-members mostly fail (10k capacity / 80k bits → fpp ~< a few %)
    val fp = spark.range(2000, 12000)
      .select(xxhash64(concat(lit("k"), col("id"))).as("h"))
      .filter(BloomMembership.might_contain(bloom, col("h"))).count()
    assert(fp < 1000, s"false-positive count $fp out of 10000")
  }

  test("bloom functions are registered for SQL text via extensions") {
    val bf = spark.sql(
      "SELECT bloom_filter_agg(xxhash64(cast(id AS string)), 100L, 800L) AS bf FROM range(50)")
      .head().getAs[Array[Byte]]("bf")
    assert(bf != null && bf.nonEmpty)
  }

  test("misra_gries keeps every key above n/(k+1) with bounded undercount") {
    import graft.functions.MisraGriesAgg
    // 10 heavy keys × 200 + 20k singletons, shuffled across 8 partitions so
    // the partial/final MERGE path (the shuffle reduction) is exercised.
    // n = 22000, k = 512 ⇒ error bound n/(k+1) ≈ 42.9: every heavy key
    // (true count 200 > 42.9) MUST survive, with 200−43 ≤ estimate ≤ 200.
    val heavy = spark.range(2000).select(concat(lit("h"), col("id") % 10).as("key"))
    val tail = spark.range(20000).select(concat(lit("t"), col("id")).as("key"))
    val mg = heavy.union(tail).repartition(8)
      .agg(MisraGriesAgg.misra_gries(col("key"), 512).as("mg"))
      .head().getAs[Map[String, Long]]("mg")
    assert(mg.size <= 512, s"summary exceeded capacity: ${mg.size}")
    (0 until 10).foreach { i =>
      val est = mg.get(s"h$i")
      assert(est.isDefined, s"heavy key h$i evicted from the summary")
      assert(est.get <= 200 && est.get >= 200 - 43, s"h$i estimate ${est.get}")
    }
  }

  test("misra_gries is exact when distinct keys fit the capacity") {
    import graft.functions.MisraGriesAgg
    val mg = spark.range(1000).select(concat(lit("k"), col("id") % 7).as("key"))
      .repartition(4)
      .agg(MisraGriesAgg.misra_gries(col("key"), 64).as("mg"))
      .head().getAs[Map[String, Long]]("mg")
    // 7 distinct keys, capacity 64 → no decrements ever → exact counts
    assert(mg.size == 7)
    val expect = (0 until 7).map(i => s"k$i" -> (1000 / 7 + (if (i < 1000 % 7) 1 else 0)).toLong)
    expect.foreach { case (kk, c) => assert(mg(kk) == c, s"$kk: ${mg(kk)} != $c") }
  }

  test("rand_exponential has the right mean (CLT band, fixed seed)") {
    val n = 200000
    val mean = spark.range(n)
      .select(RandExponential.rand_exponential(lit(2.0), seed = 11L).as("x"))
      .agg(avg("x")).first().getDouble(0)
    // Exp(rate 2) has mean 0.5, sd 0.5 → 5σ band = 5·0.5/√n ≈ 0.0056
    assert(math.abs(mean - 0.5) < 0.006, s"mean=$mean")
    val floorMean = spark.range(n)
      .select(floor(RandExponential.rand_exponential(lit(1.0 / 10.0), seed = 12L)).as("k"))
      .agg(avg("k")).first().getDouble(0)
    // E[floor(Exp(mean 10))] = 1/(e^{1/10}−1) ≈ 9.5083 (SURVEY §2.4 identity)
    val expect = 1.0 / (math.exp(0.1) - 1.0)
    assert(math.abs(floorMean - expect) / expect < 0.02, s"floorMean=$floorMean vs $expect")
  }

  test("rand_exponential null rate → null sample") {
    val rows = Seq((Some(2.0)), (None: Option[Double])).toDF("rate")
      .select(RandExponential.rand_exponential(col("rate"), 5L)).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }

  test("reserve_trial's negative-binomial sampler matches NB(c, 1-q) moments and pmf") {
    import graft.functions.ReserveTrial
    val draws = 100000
    // per c, one term with the gamma rate λ ≈ c·theta below the Poisson
    // branch point (10, inversion) and one straddling it or above (PTRS)
    val cases = Seq((1L, 365.0), (1L, 3650.0), (3L, 365.0), (3L, 3650.0),
      (3000L, 60.0), (3000L, 3650.0))
    cases.zipWithIndex.foreach { case ((c, term), i) =>
      val theta = 1.0 / math.expm1(365.0 / term) // q/(1-q), q = e^{-365/term}
      val rng = new ReserveTrial.Stream(1000L + i)
      val xs = Array.fill(draws)(ReserveTrial.negBinomial(rng, c, theta).toDouble)
      val mean = xs.sum / draws
      val m2 = xs.map(x => (x - mean) * (x - mean)).sum / draws
      val m4 = xs.map(x => math.pow(x - mean, 4)).sum / draws
      val (mu, vr) = (c * theta, c * theta * (1.0 + theta)) // c·q/(1-q), c·q/(1-q)²
      val tag = s"c=$c term=$term"
      assert(math.abs(mean - mu) < 5.0 * math.sqrt(vr / draws), s"$tag mean=$mean vs $mu")
      assert(math.abs(m2 - vr) < 5.0 * math.sqrt((m4 - m2 * m2) / draws), s"$tag var=$m2 vs $vr")
      if (c == 1L) {
        val q = theta / (1.0 + theta)
        (0 to 3).foreach { k =>
          val p = (1.0 - q) * math.pow(q, k) // geometric pmf
          val f = xs.count(_ == k).toDouble / draws
          assert(math.abs(f - p) < 5.0 * math.sqrt(p * (1.0 - p) / draws), s"$tag P(N=$k)=$f vs $p")
        }
      }
    }
  }

  test("reserve_trial's table sampler draws the exact NB(c, 1-q) pmf; big strata fall back") {
    import graft.functions.ReserveTrial
    import org.apache.commons.math3.special.Gamma
    val draws = 100000
    val cases = for (c <- Seq(1L, 3L, 9L); years <- Seq(1, 10, 30)) yield (c, 365.0 * years)
    (cases :+ ((3000L, 3650.0))).zipWithIndex.foreach { case ((c, term), i) =>
      val theta = 1.0 / math.expm1(365.0 / term) // q/(1-q), q = e^{-365/term}
      val q = theta / (1.0 + theta)
      val tag = s"c=$c term=$term"
      val draw = ReserveTrial.stratum(c, theta)
      // (1-q)^3000 underflows at a 10-year term: the Gamma-Poisson draw
      if (c == 3000L) assert(draw.isInstanceOf[ReserveTrial.GammaPoisson], tag)
      else assert(draw.isInstanceOf[ReserveTrial.Guided], tag)
      val rng = new ReserveTrial.Stream(2000L + i)
      val xs = Array.fill(draws)(draw.next(rng).toDouble)
      val mean = xs.sum / draws
      val m2 = xs.map(x => (x - mean) * (x - mean)).sum / draws
      val m4 = xs.map(x => math.pow(x - mean, 4)).sum / draws
      val (mu, vr) = (c * theta, c * theta * (1.0 + theta))
      assert(math.abs(mean - mu) < 5.0 * math.sqrt(vr / draws), s"$tag mean=$mean vs $mu")
      assert(math.abs(m2 - vr) < 5.0 * math.sqrt((m4 - m2 * m2) / draws), s"$tag var=$m2 vs $vr")
      (0 to 3).foreach { k =>
        // NB pmf: C(k+c-1, k) (1-q)^c q^k
        val p = math.exp(Gamma.logGamma(k + c.toDouble) - Gamma.logGamma(c.toDouble) -
          Gamma.logGamma(k + 1.0) + c * math.log1p(-q) + k * math.log(q))
        val f = xs.count(_ == k).toDouble / draws
        assert(math.abs(f - p) < 5.0 * math.sqrt(p * (1.0 - p) / draws) + 1e-12,
          s"$tag P(N=$k)=$f vs $p")
      }
    }
  }

  test("reserve micro-units equal Spark's round(v, 6) cast to DECIMAL(28, 6)") {
    import graft.functions.ReserveTrial
    val rnd = new scala.util.Random(17L)
    // reserve-like values, exact half-micro ties and their neighbours
    val ties = Seq.fill(5000)((math.floor(rnd.nextDouble() * math.pow(10, 3 + rnd.nextInt(13))) + 0.5) / 1e6)
    val vs = Seq.fill(20000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 2)) ++
      ties.flatMap(t => Seq(t, math.nextUp(t), math.nextDown(t))) ++
      Seq(0.0, 1e9, 2.5e-7, 5e-7, 1e12 + 0.5e-6, 123456.0000005)
    val spark6 = vs.toDF("v")
      .select(round(col("v"), 6).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
      .collect().map(_.getDecimal(0).unscaledValue.longValueExact)
    vs.zip(spark6).foreach { case (v, want) =>
      assert(ReserveTrial.micros(v) == want, s"v=$v micros=${ReserveTrial.micros(v)} spark=$want")
    }
  }

  test("q54 rejects a ragged embedding by name, as a k-means seed or not") {
    def md5(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val ids = (1L to 20L).sortBy(md5)
    // the first id by md5 seeds k-means; the last is never a seed
    Seq(ids.head, ids.last).foreach { ragged =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ragged_").toString
      ids.map { id =>
        val n = if (id == ragged) 3 else 4
        (id, Array.tabulate(n)(j => ((id * 7 + j) % 5).toFloat), 0)
      }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      val e = intercept[Exception](graft.ops.Similarity.q54IvfCentroids(spark, dir).collect())
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("ragged embedding")), e)
    }
  }

  test("sketch aggregates reject mistyped input at analysis time, " +
      "not as an executor-side ClassCastException") {
    import graft.functions.{BitmapAgg, CountMinAgg, HllAgg, MinHashAgg, MisraGriesAgg, SimHashAgg}
    val df = Seq((1L, "k")).toDF("n", "s")
    def rejected(c: => org.apache.spark.sql.Column): Unit = {
      intercept[org.apache.spark.sql.AnalysisException] { df.agg(c).collect() }
      ()
    }
    // string-keyed sketches fed a long
    rejected(CountMinAgg.count_min(col("n")))
    rejected(HllAgg.hll_registers(col("n")))
    rejected(MisraGriesAgg.misra_gries(col("n")))
    // long-keyed sketches fed a string
    rejected(BitmapAgg.bitmap(col("s"), 8))
    rejected(MinHashAgg.minhash_agg(col("s")))
    rejected(SimHashAgg.simhash_agg(col("s")))
    // and the correctly-typed calls still analyze
    df.agg(CountMinAgg.count_min(col("s")).as("a"),
      BitmapAgg.bitmap(col("n"), 8).as("b")).collect()
  }
}
