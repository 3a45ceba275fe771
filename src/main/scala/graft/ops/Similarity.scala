package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Similarity search over the `embeddings` table (`Array[Float]` column):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the 100 TB scale path (candidate volume bounded
  * by bucket width, not n²).
  *
  * Determinism: vectors are quantized to integers (round(x·1000)) before
  * any dot product, so sums are exact in f64 regardless of accumulation
  * order — cosine values are bitwise identical across engines, making even
  * the top-k ranking oracle-checkable.
  */
object Similarity {

  /** Quantized vector + its squared norm (exact integer arithmetic). */
  private def quantized(df: DataFrame): DataFrame =
    df.withColumn("qv", transform(col("embedding"), x => round(x.cast("double") * 1000)))
      .withColumn("qnorm", graft.functions.ArrayMath.dot_product(col("qv"), col("qv")))

  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dot_product(a, b)

  // ---- q50: per-vector features (dims, quantized norm) --------------------
  def q50EmbedNorm(s: SparkSession, dir: String): DataFrame =
    quantized(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        col("qnorm").as("qnorm2"))
      .orderBy("vec_id")

  val q50Sql: String =
    """SELECT vec_id, label,
      |  CAST(len(embedding) AS INT) AS dim,
      |  list_dot_product(list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)),
      |                   list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))) AS qnorm2
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  // ---- q51: brute-force cosine top-1 neighbor (exact ANN baseline) --------
  // Queries = vec_id < 50; the small query side is broadcast against the
  // full corpus scan — one pass, no shuffle of the big side.
  def q51AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(t(s, dir, "embeddings")).filter(col("qnorm") > 0)
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("qv").as("qv_q"), col("qnorm").as("qn_q"))
    val pairs = emb.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("qnorm").as("qn_c"))
      .join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv_q"), col("qv_c")) / sqrt(col("qn_q") * col("qn_c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val q51Sql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q WHERE list_dot_product(qv, qv) > 0),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      |    list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < 50 AND a.vec_id <> b.vec_id)
      |SELECT query_id, CAST(rn AS INT) AS rank, cand_id AS neighbor_id, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      |  FROM pairs) r
      |WHERE rn <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---- q52: LSH-bucketed approximate top-1 (rows-only: scale path) --------
  // 8 tables × 6 random hyperplanes; hyperplane signs derived from seeded
  // xxhash64 so the "random" planes are deterministic and shippable in the
  // plan itself (no driver-side state). Candidates share a bucket in ≥1
  // table; exact cosine then ranks within candidates.
  /** Deterministic ±1 hyperplane component — seeded murmur3, so the
    * "random" planes are reproducible constants shipped in the plan.
    */
  private def planeSign(table: Int, p: Int, i: Int): Double = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix}
    val h = finalizeHash(mix(mix(0x9747b28c, table), p * 1024 + i), 2)
    if ((h & 1) == 0) 1.0 else -1.0
  }

  def q52AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val nTables = 8
    val bitsPerTable = 12 // 4096 buckets/table keeps candidate pairs ≈ n²/2^bits
    val dim = 64 // embedding dimensionality of the testdata tables
    // barrier: qv/qnorm become attributes, otherwise the quantization
    // transform is re-inlined into every one of the 48 signature planes
    val emb = quantized(t(s, dir, "embeddings")).filter(col("qnorm") > 0)
      .transform(graft.Tables.barrier(_, col("vec_id")))

    // all 48 hyperplane projections fused into ONE custom expression (one
    // generated loop nest, one pass over qv); planes are deterministic
    // driver-side constants shipped as a codegen reference object
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, bitsPerTable, dim)((tb, p, i) => planeSign(tb, p, i))
    val withSigs = emb.select(col("vec_id"),
      graft.functions.HyperplaneSignatures.hyperplane_signatures(col("qv"), planes).as("sigs"))
      .transform(graft.Tables.barrier(_, col("vec_id"))) // materialize signatures pre-explode
    val buckets = withSigs.select(col("vec_id"),
      posexplode_outer(col("sigs")).as(Seq("tbl", "sig")))
      .filter(col("sig").isNotNull)

    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig")
          && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("cand_id"))
      .distinct()

    val qs = emb.select(col("vec_id").as("query_id"), col("qv").as("qv_q"), col("qnorm").as("qn_q"))
    val cs = emb.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"), col("qnorm").as("qn_c"))
    val scored = cand.join(qs, "query_id").join(cs, "cand_id")
      .withColumn("cos", dot(col("qv_q"), col("qv_c")) / sqrt(col("qn_q") * col("qn_c")))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id")
  }

  // ---- q53: embedding near-dup pairs (rows-only) --------------------------
  // True LSH blocking: candidate pairs share a hyperplane-signature bucket
  // in ≥1 of 8 tables (coarser 4-bit signatures than q52's 12-bit routing —
  // dedup wants recall), then exact quantized cosine keeps pairs ≥ 0.45.
  // Exact dedup-by-embedding would union-find the surviving pairs; the
  // canonical (id_a < id_b) pair list is the one-pass variant.
  def q53EmbedDedup(s: SparkSession, dir: String): DataFrame = {
    val nTables = 8
    val bitsPerTable = 4
    val dim = 64
    val emb = quantized(t(s, dir, "embeddings")).filter(col("qnorm") > 0)
      .transform(graft.Tables.barrier(_, col("vec_id")))
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, bitsPerTable, dim)((tb, p, i) => planeSign(1000 + tb, p, i))
    val buckets = emb.select(col("vec_id"),
        graft.functions.HyperplaneSignatures.hyperplane_signatures(col("qv"), planes).as("sigs"))
      .select(col("vec_id"), posexplode_outer(col("sigs")).as(Seq("tbl", "sig")))
      .filter(col("sig").isNotNull)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val a = emb.select(col("vec_id").as("id_a"), col("qv").as("qv_a"), col("qnorm").as("qn_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("qv").as("qv_b"), col("qnorm").as("qn_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("cos", dot(col("qv_a"), col("qv_b")) / sqrt(col("qn_a") * col("qn_b")))
      .filter(col("cos") >= 0.45)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  // ---- q54: IVF coarse index — k-means cell centroids (oracle-checked) ----
  // A REAL index build: seeded Lloyd k-means over the quantized vectors,
  // derived from the vectors alone (no precomputed label column).
  //
  // Determinism (what makes an iterative clustering oracle-checkable):
  //  * init = the kCells vectors with the smallest md5(vec_id) — a
  //    deterministic hash-sample both engines compute identically;
  //  * vectors are integer-quantized and interim centroids are FLOORED to
  //    integers, so every squared distance is exact integer arithmetic in
  //    f64 — no accumulation-order sensitivity;
  //  * argmin ties break on the lowest cell id.
  //
  // Scale shape: each Lloyd iteration is a narrow map (centroids are k·dim
  // literals shipped in the plan — argmin over an array of structs, no
  // join, no shuffle of the corpus) plus one partial-agged groupBy(cell,
  // pos); only k·dim centroid rows ever reach the driver. That is the
  // standard distributed k-means loop and it is corpus-size-independent
  // per iteration.
  private[ops] val kCells = 8
  private[ops] val kmIters = 10

  /** Per-cell routing options over the literal centroid arrays: one
    * struct(d, cell) per cell with d = ‖c‖² − 2·v·c — the per-vector ‖v‖²
    * term is constant across cells and dropped, and all terms are exact
    * integers, so argmin AND its ties are identical to full squared L2.
    * The ONE routing formula, shared by the Lloyd assignment, the q55
    * probe, and the reloaded-index serves (q141): a tweak here moves all
    * of them together or their bit-equality specs fail.
    */
  private def cellOptions(cents: Seq[(Int, Array[Double])]): Seq[Column] =
    cents.map { case (cellId, cv) =>
      val cnorm = cv.map(x => x * x).sum
      struct(
        (lit(cnorm) - lit(2.0) * dot(col("qv"), typedLit(cv.toSeq))).as("d"),
        lit(cellId).as("cell"))
    }

  /** One Lloyd assignment as a narrow map: cell = argmin of [[cellOptions]],
    * fused into the native [[graft.functions.CellArgmin]] loop (r22): one
    * generated k×dim loop nest per row instead of k DotProduct expressions
    * plus a k-struct array + interpreted struct-min — same arithmetic, same
    * tie-break, bit-identical cells (FunctionsSpec pins the equivalence,
    * null edges included: the coalesce reproduces the struct-min's
    * smallest-cell-id resolution when every distance is null). The probe
    * paths that need the full RANKED cell list (q55/q141 nProbe slices)
    * stay on the [[cellOptions]] composition — they run per query vector,
    * not per corpus row.
    */
  private def assignCells(emb: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    emb.withColumn("cell",
      coalesce(graft.functions.ArrayMath.cell_argmin(col("qv"), cents),
        lit(cents.map(_._1).min)))

  /** Per-dimension sums `s0..s{dim-1}` of the group's `qv` vectors. A
    * vector without exactly `dim` elements is a named error: a longer one
    * would drop its extra elements from the centroid and a shorter one
    * would fail inside `element_at`.
    */
  private def dimSums(dim: Int): Seq[Column] = {
    val qv = when(size(col("qv")) === dim, col("qv")).otherwise(raise_error(concat(
      lit("ragged embedding: vec_id "), col("vec_id").cast("string"), lit(" has "),
      size(col("qv")).cast("string"), lit(s" elements, expected $dim"))))
    (0 until dim).map(i => sum(element_at(qv, i + 1)).as(s"s$i"))
  }

  // The build is deterministic, so its result is memoized per (session,
  // dir, k, iters) — q54 and q55 share one build instead of each paying
  // the Lloyd loop.
  private val kmeansCache =
    new graft.SessionCache[(Seq[(Int, Array[Double])], DataFrame)]()

  /** Runs the k-means build; returns the final centroids and the final
    * per-vector assignment (lazy DataFrame). `base` restricts the Lloyd
    * loop (seeds, assignments, recomputed means) to a slice of the corpus
    * — the incremental-index build clusters the BASE slice only, then
    * freezes the centroids for appended batches (q143); the tag keys the
    * memo.
    */
  private[ops] def kmeans(s: SparkSession, dir: String,
      k: Int = kCells, iters: Int = kmIters,
      base: Option[(Column, String)] = None): (Seq[(Int, Array[Double])], DataFrame) =
    kmeansCache.getOrCompute(s, s"$dir:$k:$iters:${base.map(_._2).getOrElse("all")}") {
      val emb = base.foldLeft(quantized(t(s, dir, "embeddings"))) {
          case (df, (pred, _)) => df.filter(pred)
        }
        .transform(graft.Tables.barrier(_, col("vec_id"))) // materialize qv once (see q52)
        .select(col("vec_id"), col("qv"), col("qnorm"))
        .persist() // re-read every Lloyd iteration; k-means is the one
                   // legitimately iterative operator in the library
      // deterministic hash-sample init: distributed top-k, never a full sort
      val seeds = emb
        .select(md5(col("vec_id").cast("string").cast("binary")).as("h"), col("vec_id"), col("qv"))
        .orderBy("h", "vec_id").limit(k)
        .collect()
      var cents: Seq[(Int, Array[Double])] =
        seeds.zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](2).toArray }.toSeq
      // Per-dimension sum columns instead of posexplode: the explode
      // multiplied every vector into `dim` (cell, pos, v) rows per
      // iteration — dim×|corpus| generated rows through the hash
      // aggregate, the dominant cost of the build (r22: q54 task CPU
      // 35.9 s → 9.5 s adjacent A/B). `dim` sum aggregates over the
      // un-exploded rows compute the SAME exact-integer sums (quantized
      // values are integers; f64 integer sums are order-independent), so
      // centroids — and the oracle hash — are bit-identical.
      val dim = cents.head._2.length
      require(cents.forall(_._2.length == dim),
        s"ragged embedding: k-means seeds of ${cents.map(_._2.length).distinct.mkString(" and ")} elements")
      val sumCols = dimSums(dim)
      var it = 1
      var converged = false
      while (it < iters && !converged) {
        val rows = assignCells(emb, cents)
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), sumCols: _*)
          .collect() // ≤ k rows — constant-size, corpus-independent
        val next: Seq[(Int, Array[Double])] =
          rows.map { r =>
            val n = r.getLong(1)
            // floor(sum / n) over exact-integer doubles — identical to the
            // previous floor(sum(v) / count(1)) per (cell, pos) group
            r.getInt(0) -> Array.tabulate(dim)(i =>
              math.floor(r.getDouble(2 + i) / n))
          }.toSeq.sortBy(_._1)
        // Early stop at a fixed point — semantics-preserving versus the
        // kmIters-unrolled oracle: identical centroids ⇒ identical
        // assignment ⇒ every remaining iteration is a no-op.
        converged = next.map { case (c, a) => (c, a.toSeq) } ==
          cents.map { case (c, a) => (c, a.toSeq) }
        cents = next
        it += 1
      }
      // Materialize the converged assignment ONCE (localCheckpoint is
      // eager): without it the memoized DataFrame is lazy and each
      // consumer (q54's aggregate, q55's probe — twice, once per join
      // branch) re-runs the assignment map over the persisted corpus.
      // Checkpointed, consumers read k+3 narrow columns from local blocks.
      val assigned = assignCells(emb, cents).localCheckpoint()
      emb.unpersist()
      (cents, assigned)
    }

  def q54IvfCentroids(s: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = kmeans(s, dir)
    // Per-dimension sums over the un-exploded assignment, then a tiny
    // k-row explode — the corpus-sized posexplode (dim×|corpus| generated
    // rows through the aggregate) was the query's dominant cost (r22; see
    // kmeans). Sums are exact-integer f64, so centroid = s_i / n and
    // n_vectors are bit-identical to the per-(cell, pos) aggregation.
    val dim = cents.head._2.length
    assigned
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), dimSums(dim): _*)
      .select(col("cell"), col("n"),
        posexplode(array((0 until dim).map(i => col(s"s$i")): _*))
          .as(Seq("pos", "v")))
      .select(col("cell"), col("pos"),
        (col("v") / col("n")).as("centroid"), col("n").as("n_vectors"))
      .orderBy("cell", "pos")
  }

  /** The seeded-Lloyd chain as plain SQL CTEs: c0 = hash-sample seeds,
    * then kmIters−1 × (assign → floored means), then a final assign
    * `a$kmIters`. Shared by the q54 oracle and (with the PQ chain) the
    * q141/q143 IVFPQ-serve oracles. `basePred` restricts the LLOYD LOOP
    * (seeds, per-iteration assignments — and hence the recomputed means,
    * which join the base-only a_i) to a slice of the corpus; the FINAL
    * assign `a$kmIters` always runs over ALL vectors — exactly the
    * frozen-centroid append: base vectors get their build-time cells, new
    * vectors are routed onto the converged clustering they never moved
    * (q143). NOTE: margins are stripped by the CONSUMING query's
    * `.stripMargin`.
    */
  private def kmeansCtesFor(basePred: Option[String]): String = {
    val lloydSrc = basePred.map(_ => "vb v").getOrElse("v")
    val assign = (c: String, a: String, src: String) =>
      s"""$a AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY SUM((v.val - c.cv) * (v.val - c.cv)), c.cell) AS rn
         |    FROM $src JOIN $c c ON v.pos = c.pos
         |    GROUP BY v.vec_id, c.cell) x
         |  WHERE rn = 1)"""
    // recompute joins a_i (base-only when basePred is set), so plain v is
    // already the base slice there
    val recompute = (a: String, c: String) =>
      s"""$c AS (
         |  SELECT cell, pos, floor(SUM(val) / COUNT(*)) AS cv
         |  FROM $a JOIN v USING (vec_id) GROUP BY cell, pos)"""
    val steps = (1 until kmIters).flatMap(i =>
      Seq(assign(s"c${i - 1}", s"a$i", lloydSrc), recompute(s"a$i", s"c$i"))) :+
      assign(s"c${kmIters - 1}", s"a$kmIters", "v")
    val vb = basePred
      .map(p => s"\n|vb AS (SELECT * FROM v WHERE $p),")
      .getOrElse("")
    s"""v AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |         round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS val
       |  FROM embeddings),$vb
       |init AS (
       |  SELECT vec_id, CAST(row_number() OVER w - 1 AS INT) AS cell
       |  FROM embeddings
       |  ${basePred.map(p => s"WHERE $p\n  |  ").getOrElse("")}WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
       |  QUALIFY row_number() OVER w <= $kCells),
       |c0 AS (SELECT cell, pos, val AS cv FROM init JOIN v USING (vec_id)),
       |${steps.mkString(",\n")}"""
  }

  private val kmeansCtes: String = kmeansCtesFor(None)

  /** The oracle twin unrolls the same seeded Lloyd chain as plain SQL;
    * the final assign's exact per-cell means are the output.
    */
  val q54Sql: String =
    s"""WITH $kmeansCtes
       |SELECT cell, pos, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS centroid,
       |  COUNT(*) AS n_vectors
       |FROM a$kmIters JOIN v USING (vec_id)
       |GROUP BY cell, pos
       |ORDER BY cell, pos""".stripMargin

  // ---- q55: IVF ANN search (rows-only: full probe path) -------------------
  // Route each query vector to its nProbe nearest k-means cells, then
  // search only those cells — the coarse-quantization scale path: probe
  // cost is nProbe · |cell|, not corpus size. Routing is a narrow map
  // against the literal centroids (no join); the probe is an equi-join on
  // cell — i.e. a partition-pruned scan of the inverted file.
  // nProbe note: the testdata embeddings are ISOTROPIC (measured: only
  // 3/50 exact top-1 neighbors share the query's label, and spherical vs
  // L2 cells are identical because the vectors are unit-norm), so top-1
  // recall is governed by the probed corpus fraction — nProbe=4 of 8
  // cells reaches ≥0.8 here. On real model embeddings (clustered), cells
  // align with neighborhoods and nProbe ≪ k is the operating point; the
  // knob is the standard IVF recall/cost tradeoff either way.
  /** The IVF probe shared by q55 (in-session `assigned`) and the
    * reloaded-postings serve: route each query vector (vec_id < 100,
    * qnorm > 0) to its nProbe nearest cells via [[cellOptions]], then
    * rank exact quantized cosine within the probed cells only.
    * `vectors` must carry (vec_id, cell, qv, qnorm).
    *
    * Routing scores against exact (unfloored) per-cell mean centroids
    * would be fractionally better, but the floored ones are already in
    * hand and integer-exact — and routing only needs cell RANKING.
    */
  private def ivfProbe(vectors: DataFrame, cents: Seq[(Int, Array[Double])],
      nProbe: Int): DataFrame = {
    val queries = vectors.filter(col("qnorm") > 0 && col("vec_id") < 100)
      .withColumn("probe", slice(array_sort(array(cellOptions(cents): _*)), 1, nProbe))
      .select(col("vec_id").as("query_id"), col("qv").as("qv_q"),
        col("qnorm").as("qn_q"), explode(col("probe")).as("p"))
      .select(col("query_id"), col("qv_q"), col("qn_q"), col("p.cell").as("cell"))
    val cell = vectors.filter(col("qnorm") > 0)
      .select(col("vec_id").as("cand_id"), col("cell"),
        col("qv").as("qv_c"), col("qnorm").as("qn_c"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("cand_id"))
    queries.join(cell, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv_q"), col("qv_c")) / sqrt(col("qn_q") * col("qn_c")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cell"), col("cand_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id")
  }

  def q55IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = kmeans(s, dir)
    ivfProbe(assigned, cents, nProbe = 4)
  }

  // ---- q91: higher-order-function cosine (built-ins-only twin of q51) -----
  // The same quantized dot product as the custom codegen expression, but
  // composed ONLY from built-in higher-order functions (`zip_with` +
  // `aggregate`) — the path a library user takes when they cannot ship a
  // custom Expression. Scores every vector against the fixed reference
  // vector (vec_id = 0), broadcast as a one-row relation. Values are
  // exact-integer products in f64 plus one IEEE sqrt/division per row, so
  // the doubles are bit-identical cross-engine (the proven q51 regime).
  // FunctionsSpec pins HOF ≡ custom-expression equivalence; the custom
  // expr stays the hot-path choice (one generated loop, no lambda
  // closure per element).
  def q91HofCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(t(s, dir, "embeddings"))
    val ref = emb.filter(col("vec_id") === 0)
      .select(col("qv").as("ref_qv"), col("qnorm").as("ref_n"))
    emb.filter(col("vec_id") =!= 0 && col("qnorm") > 0)
      .crossJoin(broadcast(ref))
      .withColumn("dot",
        expr("aggregate(zip_with(qv, ref_qv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .select(col("vec_id"), col("dot"),
        (col("dot") / sqrt(col("qnorm") * col("ref_n"))).as("cos"))
      .orderBy("vec_id")
  }

  val q91Sql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
      |r AS (SELECT qv AS ref_qv, nrm AS ref_n FROM n WHERE vec_id = 0)
      |SELECT n.vec_id, list_dot_product(n.qv, r.ref_qv) AS dot,
      |  list_dot_product(n.qv, r.ref_qv) / sqrt(n.nrm * r.ref_n) AS cos
      |FROM n, r
      |WHERE n.vec_id <> 0 AND n.nrm > 0
      |ORDER BY n.vec_id""".stripMargin

  // ---- q56: embedding dedup clusters (rows-only) --------------------------
  // q53's near-dup pairs → connected components → one keep-id per cluster:
  // the same large-star/small-star operator as q44, over the
  // hash-seeded LSH pair list (hence rows-only; pinned by a union-find
  // spec instead of an oracle).
  def q56EmbedDedupClusters(s: SparkSession, dir: String): DataFrame =
    Graph.connectedComponents(
        q53EmbedDedup(s, dir).select(col("id_a").as("u"), col("id_b").as("v")))
      .select(col("u").as("vec_id"), col("root").as("keep_id"))
      .orderBy("vec_id")

  // ---- q100: int8 embedding quantization (symmetric max-abs) --------------
  // The storage-side compression step of an embedding index: per vector,
  // scale = max|v| and q = floor(v·127/scale) ∈ [−127, 127] — symmetric
  // per-tensor int8, the layout FAISS/scaNN-style indexes ship to disk
  // (4× smaller, SIMD-dot-friendly). Exploded to (vec_id, pos, q8) rows so
  // the oracle hash is integer-only.
  //
  // Cross-engine: float→double widening is exact, v·127 and the division
  // are single correctly-rounded IEEE ops, floor is exact, and max|v| is
  // order-free — no accumulation anywhere, so both engines agree bit-wise.
  // Scale shape: one per-vector window max over the exploded rows — a
  // single shuffle by vec_id; at index-build scale this runs per shard.
  def q100Int8Quant(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id")
    t(s, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "f")))
      .withColumn("v", col("f").cast("double"))
      .withColumn("maxabs", max(abs(col("v"))).over(w))
      .filter(col("maxabs") > 0)
      .withColumn("q8", floor(col("v") * 127 / col("maxabs")).cast("int"))
      .select("vec_id", "pos", "q8")
      .orderBy("vec_id", "pos")
  }

  val q100Sql: String =
    """WITH v AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 50),
      |m AS (SELECT vec_id, MAX(ABS(v)) AS maxabs FROM v GROUP BY vec_id)
      |SELECT v.vec_id AS vec_id, pos, CAST(FLOOR(v * 127 / maxabs) AS INT) AS q8
      |FROM v JOIN m ON v.vec_id = m.vec_id
      |WHERE maxabs > 0
      |ORDER BY vec_id, pos""".stripMargin

  // ---- q121: product-quantization codes (compressed-domain ANN) -----------
  // The missing compression piece between q100 (flat int8) and q54/q55
  // (IVF routing): PQ splits each 64-dim vector into 8×8-dim subspaces
  // and stores one 4-bit code per subspace (argmin over a 16-entry
  // per-subspace codebook) — 64 dims → 8 codes, the FAISS IVFPQ payload.
  //
  // Everything is INTEGER-exact: vectors are first int8-quantized by
  // q100's recipe (engine-exact: one correctly-rounded multiply+divide,
  // exact floor), the codebook entries are the int8 subvectors of 16
  // deterministically md5-sampled vectors (the q54 seeding discipline —
  // medoid-style seeds; Lloyd refinement is q54's demonstrated
  // machinery), and distances are integer sums of squared differences —
  // so the argmin is bit-exact in any engine and the whole operator is
  // DuckDB-oracle-checkable, ties broken on codebook index.
  //
  // Scale shape: the codebook is k·m = 128 rows by CONSTRUCTION
  // (corpus-size-independent) — the one provably-safe broadcast; per
  // vector the work is m·k integer 8-d distances, no shuffle until the
  // per-(vec, sub) argmin aggregation, which partial-aggs before its
  // exchange. At 100 TB the assign pass is a narrow scan-side map —
  // exactly how IVFPQ indexes are built shard-parallel.
  private val pqSubs = 8
  private val pqSubDim = 8
  private val pqK = 16

  /** q100's engine-exact int8 quantization as an array expression. */
  private def pqQ8: Column = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    transform(col("embedding"), x => floor(x.cast("double") * 127 / maxabs).cast("int"))
  }

  private def pqNonZero: Column =
    array_max(transform(col("embedding"), x => abs(x.cast("double")))) > 0

  private def pqSubVecs(v: Column): Column = array((0 until pqSubs).map(sb =>
    slice(v, sb * pqSubDim + 1, pqSubDim)): _*)

  /** Int8-quantized corpus (the query vector 0 excluded) with md5 sample
    * order.
    */
  private def pqBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("vec_id") =!= 0 && pqNonZero)
      .select(col("vec_id"), pqQ8.as("q"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))

  /** The per-subspace codebook: int8 subvectors of the pqK md5-ordered
    * sample vectors — k·m = 128 rows by construction. The rank window
    * runs over exactly pqK rows (post-limit), so the single partition is
    * constant-size. `base` restricts the SAMPLE to a corpus slice (the
    * incremental index trains its codebook on the base slice only and
    * freezes it for appended batches — q143).
    */
  private def pqCodebookFor(s: SparkSession, dir: String,
      base: Option[Column]): DataFrame =
    base.foldLeft(pqBase(s, dir))(_ filter _)
      .orderBy("h", "vec_id").limit(pqK)
      .withColumn("cb_id",
        row_number().over(Window.orderBy("h", "vec_id")) - 1)
      .select(col("cb_id"), posexplode(pqSubVecs(col("q"))).as(Seq("sub", "cv")))

  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqCodebookFor(s, dir, None)

  /** Integer squared L2 between two int subvector arrays — the native
    * codegen expression (bit-identical to the interpreted
    * `aggregate(zip_with(...))` composition, which FunctionsSpec pins;
    * higher-order functions do not codegen and this runs once per
    * (vector, sub, codebook-entry) triple on the PQ hot path).
    */
  private def pqSqDist(a: Column, b: Column): Column =
    graft.functions.ArrayMath.int_sq_l2(a, b).cast("long")

  /** PQ-encode `vecs` (vec_id, q) against `codebook` — the assign pass
    * shared by the in-session q121, the index build, and the q143
    * frozen-codebook append. The codebook is 128 rows by construction
    * (the one provably-safe broadcast).
    */
  private def pqEncode(vecs: DataFrame, codebook: DataFrame): DataFrame = {
    val subs = vecs.select(col("vec_id"),
      posexplode(pqSubVecs(col("q"))).as(Seq("sub", "sv")))
    subs.join(broadcast(codebook), "sub")
      .withColumn("dist", pqSqDist(col("sv"), col("cv")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cb_id"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cb_id").as("code"),
        col("m.dist").as("dist"))
  }

  def q121PqCodes(s: SparkSession, dir: String): DataFrame =
    pqEncode(pqBase(s, dir), pqCodebook(s, dir))
      .orderBy("vec_id", "sub")

  /** Shared CTE chain: int8 corpus → subvectors → md5-sampled codebook →
    * per-(vec, sub) argmin codes. Reused by the q122 ADC search oracle.
    * `cbPred` restricts the codebook SAMPLE to a corpus slice while codes
    * still cover every vector — the q143 frozen-codebook append.
    */
  private def pqCtesFor(cbPred: Option[String]): String =
    s"""base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 /
       |      list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))) AS INT)) AS q
       |  FROM embeddings
       |  WHERE vec_id <> 0
       |    AND list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0),
       |subs AS (
       |  SELECT vec_id, sub, q[sub*$pqSubDim+1 : sub*$pqSubDim+$pqSubDim] AS sv
       |  FROM base, unnest(range(0, $pqSubs)) AS u(sub)),
       |cbsample AS (
       |  SELECT q, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
       |      AS cb_id
       |  FROM base ${cbPred.map(p => s"WHERE $p ").getOrElse("")}ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqK),
       |cb AS (
       |  SELECT cb_id, sub, q[sub*$pqSubDim+1 : sub*$pqSubDim+$pqSubDim] AS cv
       |  FROM cbsample, unnest(range(0, $pqSubs)) AS u(sub)),
       |dists AS (
       |  SELECT vec_id, s.sub, cb_id,
       |    CAST(list_sum(list_transform(range(1, ${pqSubDim + 1}),
       |      i -> (sv[i]-cv[i])*(sv[i]-cv[i]))) AS BIGINT) AS dist
       |  FROM subs s JOIN cb ON s.sub = cb.sub),
       |rankedpq AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cb_id) AS rk
       |  FROM dists),
       |codes AS (
       |  SELECT vec_id, sub, cb_id AS code, dist FROM rankedpq WHERE rk = 1)""".stripMargin

  private val pqCtes: String = pqCtesFor(None)

  val q121Sql: String =
    s"""WITH $pqCtes
       |SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code, dist
       |FROM codes
       |ORDER BY vec_id, sub""".stripMargin

  // ---- q122: PQ ADC search (asymmetric distance computation) --------------
  // The query side of q121's index — how IVFPQ actually scans: the query
  // vector is quantized once, a per-subspace LOOKUP TABLE of k=16 integer
  // distances (query subvector ↔ each codebook entry) is built — k·m =
  // 128 entries, corpus-independent — and every corpus vector is scored
  // as the SUM OF m TABLE LOOKUPS over its stored codes, never touching
  // the original vectors. Top-10 by (adc_dist, vec_id) — a bounded
  // TakeOrderedAndProject, not a global sort.
  //
  // Scale shape: the LUT is the second provably-small broadcast (constant
  // 128 rows); scoring is a narrow map + one partial-agged groupBy(vec)
  // over the codes relation — m·4 bits per vector instead of d·4 bytes,
  // which is the entire point of PQ at 100 TB. Integer-exact end to end
  // (same argument as q121), so fully oracle-checked.
  /** The ADC search shared by q122 (in-session codebook/codes), q137
    * (reloaded), and q141 (reloaded + probed-cell-restricted codes):
    * quantize query vector 0 once, build the per-subspace LUT of k·m
    * integer distances against `codebook` (corpus-independent broadcast),
    * score every row of `codes` as summed table lookups, bounded top-10.
    */
  private def adcSearch(s: SparkSession, dir: String,
      codebook: DataFrame, codes: DataFrame): DataFrame = {
    val qsubs = t(s, dir, "embeddings")
      .filter(col("vec_id") === 0 && pqNonZero)
      .select(pqQ8.as("q"))
      .select(posexplode(pqSubVecs(col("q"))).as(Seq("sub", "qv")))
    val lut = codebook.join(broadcast(qsubs), "sub")
      .select(col("sub"), col("cb_id"), pqSqDist(col("cv"), col("qv")).as("lut"))
    codes.as("c")
      .join(broadcast(lut.as("l")),
        col("c.sub") === col("l.sub") && col("c.code") === col("l.cb_id"))
      .groupBy(col("c.vec_id"))
      .agg(sum("lut").as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(10)
  }

  def q122PqAdc(s: SparkSession, dir: String): DataFrame =
    adcSearch(s, dir, pqCodebook(s, dir),
      q121PqCodes(s, dir).select("vec_id", "sub", "code"))

  val q122Sql: String =
    s"""WITH $pqCtes,
       |qbase AS (
       |  SELECT list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 /
       |    list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))) AS INT)) AS q
       |  FROM embeddings
       |  WHERE vec_id = 0
       |    AND list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0),
       |qs AS (
       |  SELECT sub, q[sub*$pqSubDim+1 : sub*$pqSubDim+$pqSubDim] AS qv
       |  FROM qbase, unnest(range(0, $pqSubs)) AS u(sub)),
       |lut AS (
       |  SELECT cb.sub, cb_id,
       |    CAST(list_sum(list_transform(range(1, ${pqSubDim + 1}),
       |      i -> (cv[i]-qv[i])*(cv[i]-qv[i]))) AS BIGINT) AS lut
       |  FROM cb JOIN qs ON cb.sub = qs.sub),
       |scored AS (
       |  SELECT vec_id, SUM(lut.lut) AS adc_dist
       |  FROM codes c JOIN lut ON c.sub = lut.sub AND c.code = lut.cb_id
       |  GROUP BY vec_id)
       |SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
       |FROM scored
       |ORDER BY adc_dist, vec_id
       |LIMIT 10""".stripMargin

  // ---- q137: persisted ANN index — build once, serve from the artifact ----
  // The operational 100 TB shape the in-session queries only amortize: the
  // index BUILD (q54's IVF k-means, q121's PQ encode) runs ONCE and writes
  // its artifacts to parquet; every search afterwards reads the artifacts
  // and never rescans the embeddings corpus. Four artifacts are staged
  // (one write per build — [[graft.TempDirs.stagedBuild]]):
  //   ivf_centroids  (cell, pos, cv)            — k·dim rows
  //   ivf_postings   (cell, vec_id, qv, qnorm)  — the inverted file,
  //                                               partitioned BY CELL so a
  //                                               probe prunes directories
  //   pq_codebook    (cb_id, sub, cv)           — k·m = 128 rows
  //   pq_codes       (vec_id, sub, code)        — m 4-bit codes per vector
  // q137 then runs the q122 ADC search entirely off the RELOADED codebook
  // + codes: the only embeddings access on the serve path is the one-row
  // query vector itself (a search INPUT, not index data — plan-locked in
  // PlanSpec). Build and serve are both deterministic, so the reloaded
  // search hash-matches the in-session q122 path and shares its oracle.
  // The IVF serve twin (route on reloaded centroids, probe the reloaded
  // postings) is pinned equal to q55 in OperatorSpec.
  /** Writes the k·dim centroid literals as the `ivf_centroids` artifact. */
  private def writeCentroids(s: SparkSession,
      cents: Seq[(Int, Array[Double])], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val centRows = cents.flatMap { case (cell, cv) =>
      cv.zipWithIndex.map { case (v, pos) => org.apache.spark.sql.Row(cell, pos, v) }
    }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cv", org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(centRows.asJava, centSchema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private[graft] def annIndexDir(s: SparkSession, dir: String): java.nio.file.Path =
    graft.TempDirs.stagedBuild(s"ann_index:$dir") { p =>
      val (cents, assigned) = kmeans(s, dir)
      writeCentroids(s, cents, p.resolve("ivf_centroids").toString)
      assigned.select(col("cell"), col("vec_id"), col("qv"), col("qnorm"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(p.resolve("ivf_postings").toString)
      pqCodebook(s, dir)
        .write.mode("overwrite").parquet(p.resolve("pq_codebook").toString)
      q121PqCodes(s, dir).select("vec_id", "sub", "code")
        .write.mode("overwrite").parquet(p.resolve("pq_codes").toString)
    }

  // the query vector (inside adcSearch) is a search input — the one
  // legitimate non-index read on the serve path (plan-locked)
  def q137AnnIndexServe(s: SparkSession, dir: String): DataFrame = {
    val idx = annIndexDir(s, dir)
    adcSearch(s, dir,
      s.read.parquet(s"$idx/pq_codebook"),
      s.read.parquet(s"$idx/pq_codes"))
  }

  /** Reloaded IVF centroids as routing literals — k·dim rows, a
    * constant-size, corpus-independent collect (index metadata, the q125
    * bounds-row discipline).
    */
  private def reloadCentroids(s: SparkSession,
      idx: java.nio.file.Path): Seq[(Int, Array[Double])] =
    s.read.parquet(s"$idx/ivf_centroids").orderBy("cell", "pos").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (cell, rs) =>
        cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }

  /** IVF serve path from the reloaded index: route the query vectors on
    * the RELOADED centroids, probe the RELOADED postings — pinned equal to
    * the in-session q55 in OperatorSpec (same routing, same probe, the
    * relations merely round-tripped through parquet).
    */
  private[graft] def ivfServeFromIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = annIndexDir(s, dir)
    ivfProbe(s.read.parquet(s"$idx/ivf_postings"), reloadCentroids(s, idx),
      nProbe = 4)
  }

  // ---- q141: full IVFPQ serve — coarse routing + compressed-domain ADC ----
  // The composed query path a FAISS-style IVFPQ index actually runs, off
  // the PERSISTED artifacts end to end: (1) route the query vector to its
  // nProbe nearest cells on the RELOADED centroids (a narrow map over k
  // literals); (2) restrict candidates to the probed cells' posting lists
  // (a broadcast join against the 4-row probe set — the inverted-file
  // prune, so ADC touches nProbe/k of the corpus); (3) score only those
  // candidates by summed LUT lookups over the RELOADED codes; top-10 as a
  // bounded TakeOrderedAndProject. Every stage is integer-exact and
  // deterministic, so the ENTIRE composition — seeded Lloyd routing, cell
  // restriction, PQ codebook, ADC sums — is one DuckDB oracle (the q54
  // k-means chain + the q121/q122 PQ chain joined in one statement).
  /** The composed IVFPQ serve path off a persisted index directory —
    * shared verbatim by q141 (full-corpus build) and q143 (incremental
    * build): the serve code CANNOT tell how the artifacts were produced,
    * which is the operational point.
    */
  private def ivfPqServeFrom(s: SparkSession, dir: String,
      idx: java.nio.file.Path): DataFrame = {
    val nProbe = 4
    // the query vector is a search input (vec 0) — routed against the
    // centroid literals; the probe set is nProbe rows by construction
    val probed = quantized(t(s, dir, "embeddings")).filter(col("vec_id") === 0)
      .select(explode(slice(
        array_sort(array(cellOptions(reloadCentroids(s, idx)): _*)),
        1, nProbe)).as("p"))
      .select(col("p.cell").as("cell"))
    val cand = s.read.parquet(s"$idx/ivf_postings").select("vec_id", "cell")
      .join(broadcast(probed), "cell")
    adcSearch(s, dir,
      s.read.parquet(s"$idx/pq_codebook"),
      s.read.parquet(s"$idx/pq_codes")
        .join(cand.select("vec_id"), Seq("vec_id"), "left_semi"))
  }

  def q141IvfPqServe(s: SparkSession, dir: String): DataFrame =
    ivfPqServeFrom(s, dir, annIndexDir(s, dir))

  /** One statement composing the q54 Lloyd chain (routing + assignments)
    * with the q121/q122 PQ chain (codes + LUT): probe the query's nProbe
    * nearest cells of the CONVERGED clustering, ADC-score only vectors
    * assigned there. Routing ranks by full squared L2 (the engine drops
    * the constant ‖q‖² term — argmin- and tie-identical).
    */
  private def ivfPqServeSql(km: String, pq: String): String =
    s"""WITH $km,
       |$pq,
       |qv AS (SELECT pos, val FROM v WHERE vec_id = 0),
       |route AS (
       |  SELECT c.cell,
       |    row_number() OVER (
       |      ORDER BY SUM((q.val - c.cv) * (q.val - c.cv)), c.cell) AS rk
       |  FROM c${kmIters - 1} c JOIN qv q ON c.pos = q.pos
       |  GROUP BY c.cell),
       |probed AS (SELECT cell FROM route WHERE rk <= 4),
       |qbase AS (
       |  SELECT list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 /
       |    list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))) AS INT)) AS q
       |  FROM embeddings
       |  WHERE vec_id = 0
       |    AND list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0),
       |qs AS (
       |  SELECT sub, q[sub*$pqSubDim+1 : sub*$pqSubDim+$pqSubDim] AS qv
       |  FROM qbase, unnest(range(0, $pqSubs)) AS u(sub)),
       |lut AS (
       |  SELECT cb.sub, cb_id,
       |    CAST(list_sum(list_transform(range(1, ${pqSubDim + 1}),
       |      i -> (cv[i]-qv[i])*(cv[i]-qv[i]))) AS BIGINT) AS lut
       |  FROM cb JOIN qs ON cb.sub = qs.sub),
       |scored AS (
       |  SELECT c.vec_id, SUM(lut.lut) AS adc_dist
       |  FROM codes c
       |  JOIN a$kmIters asg ON asg.vec_id = c.vec_id
       |  JOIN lut ON c.sub = lut.sub AND c.code = lut.cb_id
       |  WHERE asg.cell IN (SELECT cell FROM probed)
       |  GROUP BY c.vec_id)
       |SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
       |FROM scored
       |ORDER BY adc_dist, vec_id
       |LIMIT 10""".stripMargin

  val q141Sql: String = ivfPqServeSql(kmeansCtes, pqCtes)

  // ---- q143: INCREMENTAL index maintenance — frozen-artifact append -------
  // The growing-corpus shape the build-once index (q137/q141) leaves out:
  // real corpora append. A full rebuild per batch is O(corpus); the
  // operational append is O(batch): route the new vectors onto the FROZEN
  // reloaded centroids (no Lloyd re-run — the clustering does not move),
  // encode them with the FROZEN reloaded codebook (no re-sample), and
  // APPEND the resulting postings/codes files — the q83 incremental-dedup
  // discipline applied to the index. The deterministic split `vec_id % 10
  // == 9` stands in for the arriving batch; the base build is q137's
  // machinery over the other 90%.
  //
  // Serve afterwards runs the UNMODIFIED q141 path over the union — the
  // serve code cannot tell an appended index from a rebuilt one, and the
  // whole chain (base Lloyd, frozen routing, frozen encoding, ADC) stays
  // integer-exact and deterministic, so the composition is one DuckDB
  // statement: the q141 oracle with its Lloyd loop + codebook sample
  // restricted to the base slice and its final assign/codes over ALL
  // vectors (which is precisely what frozen-artifact append computes).
  //
  // Scale shape: the append pass reads ONLY the new batch (plan-locked) —
  // one narrow routing map over k·dim literals plus one broadcast-128-row
  // encode, then file appends into the cell-partitioned postings layout;
  // nothing touches the base corpus or its artifacts. At 100 TB this is
  // the difference between an index you can maintain and one you rebuild
  // nightly.
  private val incrBasePred = "vec_id % 10 <> 9"

  /** The new batch routed onto frozen centroids — reads only the batch. */
  private[graft] def incrNewAssign(s: SparkSession, dir: String,
      cents: Seq[(Int, Array[Double])]): DataFrame =
    assignCells(
        quantized(t(s, dir, "embeddings")).filter(col("vec_id") % 10 === 9),
        cents)
      .select(col("cell"), col("vec_id"), col("qv"), col("qnorm"))

  /** The new batch encoded with the frozen codebook — reads only the
    * batch (plus the 128-row codebook artifact).
    */
  private[graft] def incrNewCodes(s: SparkSession, dir: String,
      codebook: DataFrame): DataFrame =
    pqEncode(
      t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 9 && col("vec_id") =!= 0 && pqNonZero)
        .select(col("vec_id"), pqQ8.as("q")),
      codebook)
      .select("vec_id", "sub", "code")

  private[graft] def annIndexIncrDir(s: SparkSession, dir: String): java.nio.file.Path =
    graft.TempDirs.stagedBuild(s"ann_index_incr:$dir") { p =>
      val baseCol = col("vec_id") % 10 =!= 9
      // base build: q137's artifacts over the base slice only
      val (cents, assigned) = kmeans(s, dir, base = Some((baseCol, "mod10base")))
      writeCentroids(s, cents, p.resolve("ivf_centroids").toString)
      assigned.select(col("cell"), col("vec_id"), col("qv"), col("qnorm"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(p.resolve("ivf_postings").toString)
      val cb = pqCodebookFor(s, dir, Some(baseCol))
      cb.write.mode("overwrite").parquet(p.resolve("pq_codebook").toString)
      pqEncode(pqBase(s, dir).filter(baseCol), cb).select("vec_id", "sub", "code")
        .write.mode("overwrite").parquet(p.resolve("pq_codes").toString)
      // append pass: FROZEN reloaded artifacts, new batch only
      incrNewAssign(s, dir, reloadCentroids(s, p))
        .write.mode("append").partitionBy("cell")
        .parquet(p.resolve("ivf_postings").toString)
      incrNewCodes(s, dir, s.read.parquet(p.resolve("pq_codebook").toString))
        .write.mode("append").parquet(p.resolve("pq_codes").toString)
    }

  /** The two append-pass DataFrames rebuilt off the staged artifacts —
    * exposed for the PlanSpec lock that the append reads only the new
    * batch (never the base corpus or its postings).
    */
  private[graft] def incrAppendPlans(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val idx = annIndexIncrDir(s, dir)
    (incrNewAssign(s, dir, reloadCentroids(s, idx)),
      incrNewCodes(s, dir, s.read.parquet(s"$idx/pq_codebook")))
  }

  def q143IncrIndexServe(s: SparkSession, dir: String): DataFrame =
    ivfPqServeFrom(s, dir, annIndexIncrDir(s, dir))

  // ---- q144: BATCHED multi-query IVFPQ serve ------------------------------
  // Production serve is batched, not per-query: q141 routes exactly one
  // vector; q144 serves the whole query set (vec_id < 50) in one plan —
  // (1) all 50 queries routed to their nProbe cells in ONE narrow map
  // over the centroid literals; (2) the (query_id, cell) probe set —
  // ≤ 50·4 = 200 rows by construction — broadcast against the
  // cell-partitioned postings to form the per-query candidate lists;
  // (3) ONE ADC pass: the per-(query, sub, cb_id) LUT relation
  // (|Q|·m·k = 6400 rows, corpus-independent — the q122 LUT gaining a
  // query dimension) broadcast against codes ⋈ candidates, partial-agged
  // groupBy(query_id, vec_id); (4) top-10 per query as a rank window
  // (Spark's WindowGroupLimit bounds it per partition — never a global
  // sort). Candidate volume is queries · corpus · nProbe/k — the honest
  // FAISS batch cost — and every per-query structure stays a bounded
  // broadcast, so the plan is one shuffle join + one aggregation
  // regardless of corpus size.
  def q144BatchedIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    val idx = annIndexDir(s, dir)
    val nProbe = 4
    val cents = reloadCentroids(s, idx)
    // the query set: one routing map, one LUT build — both off the same
    // 50-row slice (a zero vector cannot be PQ-quantized, hence pqNonZero)
    val probed = quantized(t(s, dir, "embeddings"))
      .filter(col("vec_id") < 50 && pqNonZero)
      .select(col("vec_id").as("query_id"),
        explode(slice(array_sort(array(cellOptions(cents): _*)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("p.cell").as("cell"))
    val cand = s.read.parquet(s"$idx/ivf_postings").select("vec_id", "cell")
      .join(broadcast(probed), "cell")
      .select(col("query_id"), col("vec_id"))
    val qsubs = t(s, dir, "embeddings")
      .filter(col("vec_id") < 50 && pqNonZero)
      .select(col("vec_id").as("query_id"), pqQ8.as("q"))
      .select(col("query_id"), posexplode(pqSubVecs(col("q"))).as(Seq("sub", "qv")))
    val lut = s.read.parquet(s"$idx/pq_codebook").join(broadcast(qsubs), "sub")
      .select(col("query_id"), col("sub"), col("cb_id"),
        pqSqDist(col("cv"), col("qv")).as("lut"))
    val w = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("vec_id"))
    s.read.parquet(s"$idx/pq_codes").as("c")
      .join(cand.as("k"), col("c.vec_id") === col("k.vec_id"))
      .join(broadcast(lut.as("l")),
        col("k.query_id") === col("l.query_id")
          && col("c.sub") === col("l.sub") && col("c.code") === col("l.cb_id"))
      .groupBy(col("k.query_id").as("query_id"), col("c.vec_id").as("vec_id"))
      .agg(sum("lut").as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rank")
  }

  /** The q141 statement with a query DIMENSION: routing, probe set, LUT,
    * and ADC all keyed by query_id, top-10 per query instead of global.
    */
  val q144Sql: String =
    s"""WITH $kmeansCtes,
       |$pqCtes,
       |qnz AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id < 50
       |    AND list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0),
       |qv2 AS (
       |  SELECT v.vec_id AS query_id, pos, val FROM v JOIN qnz USING (vec_id)),
       |route AS (
       |  SELECT q.query_id, c.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY SUM((q.val - c.cv) * (q.val - c.cv)), c.cell) AS rk
       |  FROM c${kmIters - 1} c JOIN qv2 q ON c.pos = q.pos
       |  GROUP BY q.query_id, c.cell),
       |probed AS (SELECT query_id, cell FROM route WHERE rk <= 4),
       |qbase2 AS (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 /
       |      list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))) AS INT)) AS q
       |  FROM embeddings
       |  WHERE vec_id < 50
       |    AND list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0),
       |qs2 AS (
       |  SELECT query_id, sub, q[sub*$pqSubDim+1 : sub*$pqSubDim+$pqSubDim] AS qv
       |  FROM qbase2, unnest(range(0, $pqSubs)) AS u(sub)),
       |lut AS (
       |  SELECT qs2.query_id, cb.sub, cb_id,
       |    CAST(list_sum(list_transform(range(1, ${pqSubDim + 1}),
       |      i -> (cv[i]-qv[i])*(cv[i]-qv[i]))) AS BIGINT) AS lut
       |  FROM cb JOIN qs2 ON cb.sub = qs2.sub),
       |scored AS (
       |  SELECT l.query_id, c.vec_id, SUM(l.lut) AS adc_dist
       |  FROM codes c
       |  JOIN a$kmIters asg ON asg.vec_id = c.vec_id
       |  JOIN probed p ON p.cell = asg.cell
       |  JOIN lut l ON l.query_id = p.query_id
       |    AND c.sub = l.sub AND c.code = l.cb_id
       |  GROUP BY l.query_id, c.vec_id),
       |rankedq AS (
       |  SELECT query_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, vec_id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS INT) AS rank, vec_id AS neighbor_id,
       |  CAST(adc_dist AS BIGINT) AS adc_dist
       |FROM rankedq
       |WHERE rk <= 10
       |ORDER BY query_id, rank""".stripMargin

  val q143Sql: String =
    ivfPqServeSql(kmeansCtesFor(Some(incrBasePred)), pqCtesFor(Some(incrBasePred)))

  // -------------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_embed_norm" -> q50EmbedNorm _,
    "q51_ann_brute_force" -> q51AnnBruteForce _,
    "q52_ann_lsh" -> q52AnnLsh _,
    "q53_embed_dedup" -> q53EmbedDedup _,
    "q54_ivf_centroids" -> q54IvfCentroids _,
    "q55_ivf_ann" -> q55IvfAnn _,
    "q56_embed_dedup_clusters" -> q56EmbedDedupClusters _,
    "q91_hof_cosine" -> q91HofCosine _,
    "q100_int8_quant" -> q100Int8Quant _,
    "q121_pq_codes" -> q121PqCodes _,
    "q122_pq_adc" -> q122PqAdc _,
    "q137_ann_index_serve" -> q137AnnIndexServe _,
    "q141_ivfpq_serve" -> q141IvfPqServe _,
    "q143_incr_index_serve" -> q143IncrIndexServe _,
    "q144_batched_ivfpq_serve" -> q144BatchedIvfPqServe _,
  )

  val oracle: Map[String, String] = Map(
    "q50_embed_norm" -> q50Sql,
    "q51_ann_brute_force" -> q51Sql,
    "q54_ivf_centroids" -> q54Sql,
    "q91_hof_cosine" -> q91Sql,
    "q100_int8_quant" -> q100Sql,
    "q121_pq_codes" -> q121Sql,
    "q122_pq_adc" -> q122Sql,
    // the serve path is deterministic and reads back exactly what the
    // build wrote, so the reloaded search shares q122's oracle verbatim
    "q137_ann_index_serve" -> q122Sql,
    "q141_ivfpq_serve" -> q141Sql,
    "q143_incr_index_serve" -> q143Sql,
    "q144_batched_ivfpq_serve" -> q144Sql,
  )
}
