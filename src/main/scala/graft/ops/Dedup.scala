package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Deduplication operators over `documents` — the dedup half of a
  * training-data pipeline: exact (hash-groupBy), n-gram Jaccard
  * (inverted-index self-join), MinHash+LSH (band-bucket join), and SimHash
  * (bit-signature banding).
  *
  * Scale design: every variant is a shuffle-on-key plan, never an O(n²)
  * cross join. The Jaccard path prunes high-document-frequency shingles
  * (stop-shingles) before the self-join — at 100 TB that filter is what
  * keeps the candidate-pair explosion bounded; MinHash/SimHash band joins
  * bound it by construction.
  */
object Dedup {

  /** Distinct word 3-gram shingles per non-blank document, exploded to
    * (doc_id, n_doc, shingle) rows. Dedup happens per-row via
    * `array_distinct` — a narrow map, NOT a global `.distinct()` shuffle —
    * and each row carries its document's shingle count so downstream
    * consumers never re-join a sizes table. At 100 TB this removes one
    * full-corpus shuffle and one join from every dedup variant.
    */
  private[ops] def shingles(docs: DataFrame): DataFrame = {
    val ws = split(trim(lower(col("text"))), "\\s+")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), ws.as("ws"))
      // Exchange barrier: without it CollapseProject inlines the split()
      // expression into the transform lambda below, and element_at(split,i)
      // re-runs the regex split PER ELEMENT (≈3·|doc| regex evals per doc).
      // Post-shuffle, `ws` is a materialized attribute — split runs once
      // per doc, and every downstream consumer reuses this one exchange.
      .transform(graft.Tables.barrier(_, col("doc_id")))
      .select(col("doc_id"),
        array_distinct(
          when(size(col("ws")) >= 3,
            transform(sequence(lit(1), size(col("ws")) - 2),
              i => concat_ws(" ",
                element_at(col("ws"), i),
                element_at(col("ws"), i + 1),
                element_at(col("ws"), i + 2))))
            .otherwise(array().cast("array<string>"))).as("arr"))
      // explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
      // explode into a `size(arr)>0 AND isnotnull(arr)` filter that predicate
      // pushdown then substitutes straight through the exchange into the
      // single-task scan stage — re-inlining this whole lambda expression
      // (with split() re-run per element) and costing ~20s per branch at
      // sf0.1. The outer variant infers nothing; the explicit isNotNull
      // filter restores explode semantics above the Generate.
      .select(col("doc_id"), size(col("arr")).as("n_doc"), explode_outer(col("arr")).as("shingle"))
      .filter(col("shingle").isNotNull)
  }

  private[ops] val shinglesSql: String =
    """SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      |          FROM documents WHERE length(trim(text)) > 0) words) sh""".stripMargin

  // ---- q40: exact dedup (hash-groupBy on content) -------------------------
  def q40DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  val q40Sql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  // ---- q41: n-gram Jaccard near-dup pairs (inverted-index join) -----------
  // jaccard = |A∩B| / (|A|+|B|−|A∩B|) — all integers until one final double
  // division, hence bitwise cross-engine deterministic.

  /** The PRE-THRESHOLD pair-count relation every shingle-overlap metric
    * shares: (id_a, id_b, n_a, n_b, n_common) for all document pairs with
    * any surviving common shingle. q41 (Jaccard) and q135 (containment)
    * are different METRICS over this one relation — the inverted-index
    * join builds it once.
    *
    * Stop-shingle pruning: drop shingles appearing in >100 docs. Document
    * frequency comes from a groupBy — partial (map-side) aggregation
    * collapses a hot shingle to one row per task BEFORE the shuffle, so a
    * shingle in half the corpus never lands on a single reducer. Only the
    * HOT list (df > 100 — small by construction: ≤ |corpus shingles|/100
    * distinct values) survives, gets broadcast, and is anti-joined away.
    * A COUNT window over partitionBy(shingle) would instead ship every
    * occurrence of the hottest key to one task — the exact skew this
    * filter exists to defend against. NOTE: n_doc (the metrics'
    * denominators) stays the UNPRUNED per-doc size, so pruning only trims
    * the candidate join, never the metric itself for pairs whose overlap
    * survives.
    */
  private[graft] def pairCounts(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(t(s, dir, "documents"))
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100)
      .select("shingle")
    val shf = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val a = shf.select(col("shingle"), col("doc_id").as("id_a"), col("n_doc").as("n_a"))
    val b = shf.select(col("shingle"), col("doc_id").as("id_b"), col("n_doc").as("n_b"))
    a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
  }

  /** Memoized, MATERIALIZED [[pairCounts]] — one checkpointed build per
    * (session, dir), consumed by every metric/threshold pass: q41, q135,
    * q149, and via [[q41Pairs]] q44/q107. Whichever of them runs first
    * after an invalidation pays the one build inside its own call; the
    * rest read the leaf. No query runs [[pairCounts]] itself, so a
    * curation pass never builds the inverted-index join twice (LintSpec
    * pins the one call site; PlanSpec locks the build's own plan).
    *
    * The checkpointed leaf is PRE-FILTERED to `9·n_common ≥ 8·min(n_a,
    * n_b)` (containment ≥ 8/9), which every consumer implies, so the
    * materialized relation is near-dup-sized, never the full weak-
    * co-occurrence pair set (near-quadratic on real corpora):
    *   * q135 keeps containment ≥ 0.9 ⟹ n_common ≥ 0.9·min > (8/9)·min;
    *   * q41 and q149 keep jaccard ≥ 0.8 ⟺ 9·n_common ≥ 4·(n_a+n_b)
    *     ≥ 8·min(n_a, n_b).
    * Every threshold re-applies downstream, so results are bit-identical
    * to filtering the unfiltered relation (OperatorSpec pins q41 against
    * the raw relation, with a pair exactly on the prefilter's boundary).
    */
  private val pairCountsCache = new graft.SessionCache[DataFrame]()
  private[graft] def pairCountsMemo(s: SparkSession, dir: String): DataFrame =
    pairCountsCache.getOrCompute(s, dir)(
      pairCounts(s, dir)
        .filter(col("n_common") * 9 >= least(col("n_a"), col("n_b")) * 8)
        .localCheckpoint(true))

  private[graft] def jaccardPairs(base: DataFrame): DataFrame =
    base
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("id_a", "id_b")

  def q41NgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(pairCountsMemo(s, dir))

  /** Shared CTE chain producing the deterministic jaccard pair list —
    * reused by the q41 oracle and (as the edge list) by the q44 cluster
    * oracle.
    */
  private[ops] val pairBaseCtes: String =
    s"""sh AS ($shinglesSql),
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
       |shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  val q41Sql: String =
    s"""WITH $pairBaseCtes
       |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q135: containment pairs (asymmetric near-dup) ----------------------
  // Broder's OTHER resemblance measure: containment = |A∩B| / min(|A|,|B|)
  // — the detector for SUBSET duplication that Jaccard structurally
  // misses: a 50-shingle quote embedded verbatim in a 5000-shingle
  // document has Jaccard ≈ 0.01 (invisible at any sane threshold) but
  // containment 1.0. Real corpora are full of exactly this (press-release
  // bodies inside articles, license boilerplate, quoted posts), so a
  // dedup stack needs both metrics over the SAME inverted-index pair
  // machinery. Reported: pairs with containment ≥ 0.9, with their
  // Jaccard attached so the "Jaccard-blind" ones are visible. Fixed-point
  // ppm (q81 discipline). The metric, not the join, changes — so q135
  // serves from the SHARED memoized pair build ([[pairCountsMemo]], the
  // one q41 reads too) instead of paying its own inverted-index join:
  // steady-state cost is one threshold pass over the checkpointed
  // (id_a, id_b, counts) leaf.
  def q135Containment(s: SparkSession, dir: String): DataFrame = {
    pairCountsMemo(s, dir)
      .withColumn("containment_ppm",
        expr("(n_common * 1000000) DIV least(n_a, n_b)"))
      .filter(col("containment_ppm") >= 900000)
      .withColumn("jaccard_ppm",
        expr("(n_common * 1000000) DIV (n_a + n_b - n_common)"))
      .select("id_a", "id_b", "n_common", "n_a", "n_b",
        "containment_ppm", "jaccard_ppm")
      .orderBy("id_a", "id_b")
  }

  val q135Sql: String =
    s"""WITH $pairBaseCtes
       |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  (n_common * 1000000) // least(sa.n, sb.n) AS containment_ppm,
       |  (n_common * 1000000) // (sa.n + sb.n - n_common) AS jaccard_ppm
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE (n_common * 1000000) // least(sa.n, sb.n) >= 900000
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q149: cross-split leakage audit -------------------------------------
  // The check every train/val/test split needs before anyone trusts an
  // eval number: near-duplicate pairs that STRADDLE split boundaries (a
  // test doc whose near-copy sits in train makes the eval score a
  // memorization measure). The split is q99's deterministic md5 rule —
  // a pure function of doc_id — so no join with the corpus is needed at
  // all: the audit is a handful of expressions over the SHARED
  // checkpointed pair memo (pairCountsMemo — the one inverted-index
  // build per session that already funds q41/q44/q107/q135). Jaccard's
  // 0.8 gate is applied in exact integer form (9·n_common ≥ 4·(n_a+n_b)
  // ⟺ jaccard ≥ 0.8). All 0.8-near-dup pairs are reported with both
  // split labels; `leaked` flags the cross-split ones a release gate
  // would fail on. Steady-state cost: one scan of the near-dup-sized
  // memo leaf, zero shuffles beyond its build.
  private def splitOf(id: Column): Column = {
    val h = md5(id.cast("string").cast("binary"))
    when(h < "04", "test").when(h < "08", "val").otherwise("train")
  }

  def q149SplitLeakage(s: SparkSession, dir: String): DataFrame =
    pairCountsMemo(s, dir)
      .filter(col("n_common") * 9 >= (col("n_a") + col("n_b")) * 4)
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .withColumn("jaccard_ppm",
        expr("(n_common * 1000000) DIV (n_a + n_b - n_common)"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b", "jaccard_ppm", "leaked")
      .orderBy("id_a", "id_b")

  val q149Sql: String =
    s"""WITH $pairBaseCtes,
       |sp AS (
       |  SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |    CASE WHEN md5(CAST(id_a AS VARCHAR)) < '04' THEN 'test'
       |         WHEN md5(CAST(id_a AS VARCHAR)) < '08' THEN 'val'
       |         ELSE 'train' END AS split_a,
       |    CASE WHEN md5(CAST(id_b AS VARCHAR)) < '04' THEN 'test'
       |         WHEN md5(CAST(id_b AS VARCHAR)) < '08' THEN 'val'
       |         ELSE 'train' END AS split_b
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE n_common * 9 >= (sa.n + sb.n) * 4)
       |SELECT id_a, id_b, split_a, split_b,
       |  (n_common * 1000000) // (n_a + n_b - n_common) AS jaccard_ppm,
       |  split_a <> split_b AS leaked
       |FROM sp
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q44: dedup cluster formation (connected components) ----------------
  // Near-dup PAIRS (q41) become per-document cluster assignments: connected
  // components over the pair list, keep-id = the component's minimum
  // doc_id. The component computation is the alternating large-star/
  // small-star contraction (Graph.connectedComponents) — O(log n) rounds
  // of shuffle-on-key aggregation, no driver-side union-find.
  //
  // Deterministic, and the CC loop runs eagerly (its result is a tiny
  // checkpointed leaf) — memoized per (session, dir) so q45's reuse
  // doesn't pay the q41 + contraction cost twice.
  private val ccCache = new graft.SessionCache[DataFrame]()
  private val pairsCache = new graft.SessionCache[DataFrame]()

  /** Memoized, MATERIALIZED q41 pair list — the near-dup edge set is the
    * input of cluster formation (q44) and graph motif counting (q107);
    * derived from the shared [[pairCountsMemo]] build (one inverted-index
    * join per session funds q41/q44/q107/q135/q149 alike), checkpointed
    * once more as the small post-threshold edge list.
    */
  private[graft] def q41Pairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrCompute(s, dir)(
      jaccardPairs(pairCountsMemo(s, dir)).localCheckpoint(true))

  def q44DedupClusters(s: SparkSession, dir: String): DataFrame =
    ccCache.getOrCompute(s, dir)(
      Graph.connectedComponents(
          q41Pairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v")))
        .select(col("u").as("doc_id"), col("root").as("keep_id"))
        .orderBy("doc_id"))

  /** Oracle twin: transitive closure by recursive CTE over the same
    * deterministic pair list, min reachable id per node.
    */
  val q44Sql: String =
    s"""WITH RECURSIVE $pairBaseCtes,
       |jp AS (
       |  SELECT id_a, id_b FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM jp
       |  UNION SELECT id_b, id_a FROM jp),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
       |SELECT u AS doc_id, MIN(r) AS keep_id FROM reach
       |GROUP BY u
       |ORDER BY doc_id""".stripMargin

  // ---- q42: MinHash + LSH near-dup pairs (rows-only: Spark hash fns) ------
  // 16 permutations approximated by seeded xxhash64; 4 bands × 4 rows.
  // Candidates = docs sharing any band bucket; then verified with true
  // Jaccard. The band join is the 100 TB scale path: candidate volume is
  // governed by band width, not corpus size².
  def q42MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val nPerm = 16
    val rowsPerBand = 4
    val sh = shingles(t(s, dir, "documents"))
    // one custom MinHashAgg buffer holds all 16 permutation minima
    // (vs. 16 separate min(hash_j) aggregate columns)
    val mh = sh
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash_agg(col("h"), nPerm).as("sig"))
    // all bands in one pass (posexplode), not a 4-way union re-running the agg
    val bucketCols = (0 until nPerm / rowsPerBand).map { bnd =>
      xxhash64((0 until rowsPerBand)
        .map(r => element_at(col("sig"), bnd * rowsPerBand + r + 1)): _*)
    }
    val bands = mh.select(col("doc_id"),
      posexplode(array(bucketCols: _*)).as(Seq("band", "bucket")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // verify candidates with exact Jaccard (n_doc carried with each row).
    // Crucially the corpus is narrowed to candidate docs BEFORE the pair
    // join: the verification cost scales with |candidates|, not corpus² —
    // the property that makes LSH verification viable at 100 TB.
    // No broadcast() hints here: candDocs/cand GROW WITH THE CORPUS, and a
    // forced broadcast both OOMs at scale and removes AQE's ability to fall
    // back to a shuffle join. AQE still broadcasts them at small sf when the
    // runtime size estimate clears the threshold — the semi-joins are
    // correct either way.
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val shCand = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val common = shCand.select(col("shingle"), col("doc_id").as("id_a"), col("n_doc").as("n_a"))
      .join(shCand.select(col("shingle"), col("doc_id").as("id_b"), col("n_doc").as("n_b")), "shingle")
      .join(cand, Seq("id_a", "id_b"), "left_semi")
      .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_common"))
    common
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  // ---- q43: SimHash near-dup pairs (rows-only: Spark hash fns) ------------
  // 64-bit signature over word-3-gram SHINGLES (not tokens: every doc in a
  // shared vocabulary has a similar token distribution, so token-level
  // simhash barely separates near-dups from background — shingle sets are
  // discriminative). Bit b of the signature is the sign of Σ_shingles ±1
  // (per shingle-hash bit b).
  //
  // Candidate blocking is the Manku block-combination scheme: the 64 bits
  // split into 8 blocks of 8; each of the C(8,2)=28 block PAIRS is a
  // 16-bit bucket key (65k buckets — bucket count grows with key width,
  // never saturating the way a single 8-bit band's 256 buckets would).
  // A pair within hamming ≤ 6 has ≥2 clean blocks, hence shares ≥1 of the
  // 28 keys — guaranteed recall; ham 7-10 needs its dirty bits to hit ≥7
  // distinct blocks to escape (P < 0.02 per extra bit pattern). Survivors
  // are verified by exact hamming ≤ 10 — selective because unrelated docs
  // share ~no shingles, so their signatures sit at the ham≈32 mode.
  // All 28 keys come from ONE posexplode pass over the signature relation.
  def q43Simhash(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(t(s, dir, "documents"))
    // one custom TypedImperativeAggregate holds all 64 signed bit counters
    // in a fixed 256-byte buffer with partial/final merge — one shuffle of
    // (doc_id, shingleHash) rows, no 64-column agg and no 64× row blowup
    val sig = sh
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash"))
    val keyCols = (for { i <- 0 until 8; j <- (i + 1) until 8 } yield
      expr(s"(((shiftright(simhash, ${i * 8}) & 255) * 256) + (shiftright(simhash, ${j * 8}) & 255))")).toSeq
    val bands = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(keyCols: _*)).as(Seq("k", "band")))
    bands.as("x").join(bands.as("y"),
        col("x.k") === col("y.k") && col("x.band") === col("y.band")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 10)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  // ---- q83: incremental dedup (new batch vs indexed corpus) ---------------
  // The operational 100 TB dedup shape: a standing corpus is already
  // deduplicated and INDEXED (content fingerprints + shingle inverted
  // index); each incoming batch is checked against the index only — never
  // re-deduplicating the whole corpus. Split is deterministic
  // (index = doc_id % 10 < 8, batch = the rest, a stand-in for
  // "yesterday's corpus" vs "today's crawl").
  //
  // Per batch document:
  //   is_exact_dup — its content hash already exists in the index
  //                  (left-semi join on md5, the q40 fingerprint);
  //   is_near_dup  — some indexed doc has shingle-Jaccard ≥ 0.5 with it,
  //                  tested as the integer comparison 3·n_common ≥ n_new
  //                  + n_idx (no double rounding anywhere);
  //   keep         — neither ⇒ the doc enters the corpus.
  //
  // Scale shape: the pair join is batch-shingles × index-shingles on
  // shingle — cost ∝ |batch|·avg-postings, NOT corpus²; both sides are
  // pruned by the broadcast stop-shingle list (document frequency computed
  // on the INDEX side — the side that is big and already known); index ×
  // index is never joined (already deduped) and batch × batch dups are
  // handled when the batch is promoted into the index.
  def q83IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    // exact: content-fingerprint membership in the standing index
    val idxFp = idx.select(md5(col("text").cast("binary")).as("fp")).distinct()
    val exactIds = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(idxFp, Seq("fp"), "left_semi")
      .select(col("doc_id"))
    // near: inverted-index join against the indexed side only
    val shIdxAll = shingles(idx)
    val hot = shIdxAll.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100)
      .select("shingle")
    val shIdx = shIdxAll.join(broadcast(hot), Seq("shingle"), "left_anti")
    val shNew = shingles(batch).join(broadcast(hot), Seq("shingle"), "left_anti")
    val nearIds = shNew
      .select(col("shingle"), col("doc_id").as("id_new"), col("n_doc").as("n_new"))
      .join(shIdx.select(col("shingle"), col("doc_id").as("id_idx"), col("n_doc").as("n_idx")),
        "shingle")
      .groupBy("id_new", "id_idx", "n_new", "n_idx")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") * 3 >= col("n_new") + col("n_idx"))
      .select(col("id_new").as("doc_id")).distinct()
    batch.select("doc_id")
      .join(exactIds.withColumn("e", lit(1)), Seq("doc_id"), "left_outer")
      .join(nearIds.withColumn("nr", lit(1)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        col("e").isNotNull.as("is_exact_dup"),
        col("nr").isNotNull.as("is_near_dup"))
      .withColumn("keep", !col("is_exact_dup") && !col("is_near_dup"))
      .orderBy("doc_id")
  }

  val q83Sql: String =
    s"""WITH sh AS ($shinglesSql),
       |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |idx AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |exact AS (
       |  SELECT DISTINCT b.doc_id FROM bat b JOIN idx i ON md5(b.text) = md5(i.text)),
       |hot AS (
       |  SELECT shingle FROM sh WHERE doc_id % 10 < 8
       |  GROUP BY shingle HAVING COUNT(*) > 100),
       |shi AS (SELECT * FROM sh WHERE doc_id % 10 < 8
       |        AND shingle NOT IN (SELECT shingle FROM hot)),
       |shn AS (SELECT * FROM sh WHERE doc_id % 10 >= 8
       |        AND shingle NOT IN (SELECT shingle FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |near AS (
       |  SELECT DISTINCT p.id_new AS doc_id FROM (
       |    SELECT a.doc_id AS id_new, b.doc_id AS id_idx, COUNT(*) AS n_common
       |    FROM shn a JOIN shi b ON a.shingle = b.shingle
       |    GROUP BY 1, 2) p
       |  JOIN sizes sn ON sn.doc_id = p.id_new
       |  JOIN sizes si ON si.doc_id = p.id_idx
       |  WHERE p.n_common * 3 >= sn.n + si.n)
       |SELECT bat.doc_id,
       |  (exact.doc_id IS NOT NULL) AS is_exact_dup,
       |  (near.doc_id IS NOT NULL) AS is_near_dup,
       |  (exact.doc_id IS NULL AND near.doc_id IS NULL) AS keep
       |FROM bat
       |LEFT JOIN exact ON exact.doc_id = bat.doc_id
       |LEFT JOIN near ON near.doc_id = bat.doc_id
       |ORDER BY bat.doc_id""".stripMargin

  // ---- q92: bloom-prefiltered membership (semi-join reduction) ------------
  // The q86 re-ingestion check with the 100 TB semi-join-reduction shape
  // made explicit: build ONE bloom filter over the index's content
  // fingerprints (a mergeable sketch aggregate — one small binary reaches
  // the driver, like the k-means centroids), ship it back as a plan
  // literal, and drop feed rows in a narrow codegen `might_contain`
  // filter BEFORE the exact semi join. The bloom has no false negatives,
  // so prefilter + exact confirm ≡ exact semi join — which is precisely
  // what the oracle checks (bloom false positives are removed by the
  // confirm join and never observable). At real scale the filter discards
  // the non-member bulk before it ever reaches the shuffle; the exact
  // join then touches only candidate rows.
  def q92BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idxFp = docs.filter(col("doc_id") % 10 < 8)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
    val bloom: Array[Byte] = idxFp
      .agg(graft.functions.BloomMembership
        .bloom_filter_agg(xxhash64(col("fp")), 100000L, 800000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val feed = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    // An empty index aggregates to a NULL sketch, and might_contain(NULL, …)
    // is NULL — the prefilter would silently drop EVERY row instead of
    // degrading to the exact join. Guard: no sketch → no prefilter.
    val prefiltered =
      if (bloom == null) feed
      else feed.filter(
        graft.functions.BloomMembership.might_contain(bloom, xxhash64(col("fp"))))
    prefiltered
      .join(idxFp, Seq("fp"), "left_semi") // exact confirm: kills bloom FPs
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  val q92Sql: String =
    """SELECT doc_id FROM documents d
      |WHERE EXISTS (SELECT 1 FROM documents i
      |              WHERE i.doc_id % 10 < 8 AND md5(i.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  // ---- q98: edit-distance near-dup confirm gate ---------------------------
  // The character-level complement of the shingle family: candidate pairs
  // from cheap deterministic blocking, confirmed by Levenshtein distance
  // over a fixed 160-char document window — the standard "block, then
  // edit-distance gate" near-dup recipe.
  //
  // The block key is (lang, 32-char length band, MinHash sub-band): the
  // length band alone yields blocks that grow LINEARLY with the corpus
  // (every same-language doc of similar length lands together), so pair
  // count inside a block grows quadratically with corpus size — fine at
  // sf0.1, fatal at 100 TB. The MinHash sub-band caps that: each doc adds
  // `nSub` keys, one per independent shingle-MinHash permutation, and two
  // docs collide only when some permutation's minimum agrees — for
  // unrelated docs that is ~16^-subWidth per permutation, so block
  // population is governed by the 16-bit bucket space, not corpus size,
  // while true near-dups (shingle Jaccard s) still meet with probability
  // 1-(1-s)^nSub (≥ 0.998 at s = 0.8, nSub = 4).
  //
  // ENGINE-EXACT MinHash: the permutations are min(md5(j || ':' ||
  // shingle)) as a STRING min — md5 hex is lowercase [0-9a-f] in both
  // engines and string MIN is plain lexicographic over ASCII, so unlike
  // the xxhash64 signatures of q42 (Spark-specific, hence rows-only) this
  // sub-band is bit-identical in DuckDB and the full operator stays
  // hash-checked. Docs with no shingles (< 3 words) fall back to one
  // (j=0, sub='') key — they block among themselves per (lang, band).
  //
  // The confirm gate uses the THRESHOLDED levenshtein (maxDistance = 24):
  // Spark's banded DP touches only the |2k+1|-wide diagonal (160×49 cells
  // instead of 160×160) and abandons a pair the moment every cell in a row
  // exceeds k. Identical output: -1 (over threshold) ⇔ `dist > 24`.
  //
  // Blocking probes each doc's own AND both adjacent length bands, so a
  // 63-vs-65-char pair straddling a band boundary is still compared. A
  // pair can now meet under several permutations, so candidates are
  // reduced to DISTINCT (a_id, b_id) BEFORE the gate — the 160-char heads
  // are re-attached by two cheap doc_id joins so the DP runs exactly once
  // per candidate pair and the distinct never carries wide strings.
  //
  // Cross-engine: both engines' substr/levenshtein are character-based and
  // the distance is an integer, so the gate is engine-exact (testdata is
  // BMP text, where Spark's UTF-16 units = DuckDB's codepoints).
  private val q98SubBands = 4   // independent MinHash permutations
  private val q98SubWidth = 4   // hex chars of the minimum kept (16 bits)

  def q98EditDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.t(s, dir, "documents")
    val d = docs
      .select(col("doc_id"), substring(col("text"), 100, 160).as("head"),
        col("lang"), expr("n_chars DIV 32").as("band"))
    // nSub md5-MinHash minima in ONE groupBy pass over the shingle
    // relation (no per-permutation explode: nSub aggregate columns share
    // one shuffle), then posexplode into (j, sub) block-key components.
    val minAggs = (0 until q98SubBands).map { j =>
      min(md5(concat(lit(s"$j:"), col("shingle")).cast("binary"))).as(s"m$j")
    }
    val subs = shingles(docs)
      .groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until q98SubBands).map(j =>
          substring(col(s"m$j"), 1, q98SubWidth)): _*)).as(Seq("j", "sub")))
    val dk = d.join(subs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("band"),
        coalesce(col("j"), lit(0)).as("j"),
        coalesce(col("sub"), lit("")).as("sub"))
    val a = dk.select(col("doc_id").as("a_id"), col("lang"), col("j"), col("sub"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"))
    val b = dk.select(col("doc_id").as("b_id"), col("lang"), col("j"), col("sub"),
      col("band"))
    val cand = a.join(b, Seq("lang", "band", "j", "sub"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    cand
      .join(d.select(col("doc_id").as("a_id"), col("head").as("a_head")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("head").as("b_head")), "b_id")
      .withColumn("dist", levenshtein(col("a_head"), col("b_head"), 24))
      .filter(col("dist") >= 0)
      .select("a_id", "b_id", "dist")
      .orderBy("a_id", "b_id")
  }

  val q98Sql: String = {
    val minCols = (0 until q98SubBands)
      .map(j => s"MIN(md5('$j:' || shingle)) AS m$j").mkString(", ")
    val caseSub = (0 until q98SubBands - 1)
      .map(j => s"WHEN $j THEN substr(m$j, 1, $q98SubWidth)")
      .mkString("CASE j ", " ", s" ELSE substr(m${q98SubBands - 1}, 1, $q98SubWidth) END")
    val js = (0 until q98SubBands).mkString("[", ", ", "]")
    s"""WITH sh AS ($shinglesSql),
       |mins AS (SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
       |subs AS (
       |  SELECT doc_id, j, $caseSub AS sub
       |  FROM mins CROSS JOIN (SELECT unnest($js) AS j) perms),
       |d AS (
       |  SELECT doc_id, substr(text, 100, 160) AS head, lang,
       |         n_chars // 32 AS band
       |  FROM documents),
       |dk AS (
       |  SELECT d.doc_id, d.lang, d.band,
       |         COALESCE(s.j, 0) AS j, COALESCE(s.sub, '') AS sub
       |  FROM d LEFT JOIN subs s ON s.doc_id = d.doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM dk a JOIN dk b ON a.lang = b.lang AND a.j = b.j AND a.sub = b.sub
       |                     AND b.band BETWEEN a.band - 1 AND a.band + 1
       |                     AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, levenshtein(da.head, db.head) AS dist
       |FROM cand JOIN d da ON da.doc_id = a_id
       |          JOIN d db ON db.doc_id = b_id
       |WHERE levenshtein(da.head, db.head) <= 24
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- q127: winnowing fingerprints (exact-substring near-dup) ------------
  // The MOSS winnowing scheme (Schleimer, Wilkerson & Aiken, SIGMOD'03):
  // hash every word 3-gram in DOCUMENT ORDER, slide a window of 4
  // consecutive gram hashes, keep each window's MINIMUM — the selected
  // fingerprints are a provably-representative sample with the guarantee
  // that ANY shared token run of length ≥ k + w - 1 = 6 contributes at
  // least one shared fingerprint (both docs see the same window of grams
  // somewhere inside the run, hence the same minimum). Unlike the
  // set-similarity family (q41-q43), this detects LOCAL verbatim overlap
  // — quotation, boilerplate injection, partial copies — regardless of
  // how different the rest of the documents are; it is the scalable
  // stand-in for the suffix-array exact-substring dedup of Lee et al.'22.
  //
  // Selection density is 2/(w+1) ≈ 40% of grams, corpus-independent, so
  // the fingerprint index is a bounded fraction of the token count. The
  // gram hash is md5 (string min ⇒ engine-exact, the q98 discipline);
  // the window minimum is taken by VALUE (array_min), deterministic in
  // both engines. Fingerprints are per-doc DISTINCT; the pair report is
  // the q41 inverted-index shape: hot-fingerprint pruning (df > 100,
  // broadcast anti-join — the stop-shingle defense), keyed self-join,
  // partial-agged pair count, ≥ 2 shared fingerprints to report.
  //
  // The selection runs in the native [[graft.functions.WinnowFingerprints]]
  // codegen expression — one md5 per gram, hash array in a local. The
  // built-ins-only spelling below must NEST the window lambda inside the
  // gram lambda (each window re-hashes its w grams, a 4× duplication):
  // materializing a gram-hash array COLUMN would get re-inlined per
  // slice() reference by CollapseProject — the O(n²) re-evaluation trap
  // shingles() documents. The two spellings are bit-identical
  // (equivalence spec), the q91/DotProduct pattern.
  private val winK = 3 // tokens per gram
  private val winW = 4 // grams per window

  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val ws = split(trim(lower(col("text"))), "\\s+")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), ws.as("ws"))
      .transform(graft.Tables.barrier(_, col("doc_id"))) // materialize split once (see shingles)
      .select(col("doc_id"),
        graft.functions.WinnowFingerprints
          .winnow_fingerprints(col("ws"), winK, winW).as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** Built-ins-only twin of [[winnowFingerprints]] — the reference
    * spelling the equivalence spec checks the native expression against.
    */
  private[graft] def winnowFingerprintsLambda(docs: DataFrame): DataFrame = {
    val ws = split(trim(lower(col("text"))), "\\s+")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), ws.as("ws"))
      .transform(graft.Tables.barrier(_, col("doc_id"))) // materialize split once (see shingles)
      .select(col("doc_id"),
        when(size(col("ws")) >= winK + winW - 1,
          array_distinct(transform(sequence(lit(1), size(col("ws")) - (winK + winW - 2)),
            j => array_min(transform(sequence(j, j + winW - 1),
              i => md5(concat_ws(" ",
                element_at(col("ws"), i),
                element_at(col("ws"), i + 1),
                element_at(col("ws"), i + 2)).cast("binary")))))))
          .otherwise(array().cast("array<string>")).as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** q127's reported pairs, unsorted and unmaterialized — the fingerprint
    * index build whose plan PlanSpec locks.
    */
  private[graft] def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = winnowFingerprints(t(s, dir, "documents"))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100)
      .select("fp")
    val pruned = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    pruned.select(col("fp"), col("doc_id").as("id_a"))
      .join(pruned.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  // The pairs are materialized before the sort: the range partitioner
  // samples its input in a job of its own, and without a materialized
  // leaf that job re-runs the winnowing, the anti-join and the self-join
  // before the sort's shuffle runs them again.
  def q127Winnowing(s: SparkSession, dir: String): DataFrame =
    winnowPairs(s, dir).localCheckpoint(true).orderBy("id_a", "id_b")

  val q127Sql: String = {
    val span = winK + winW - 2 // inclusive window-start bound is len - span
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents WHERE length(trim(text)) > 0),
       |fp AS (
       |  SELECT DISTINCT doc_id, f FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(ws) - $span + 1),
       |        j -> list_min(list_transform(range(j, j + $winW),
       |          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))))) AS f
       |    FROM d WHERE len(ws) >= ${winK + winW - 1}) x),
       |hot AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) > 100),
       |pf AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM hot))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
       |FROM pf a JOIN pf b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= 2
       |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------------------------------
  // ---- q265: corpus-RELATIVE stop-shingle cutoff (q41's production twin) --
  // q41's absolute `df <= 100` blocking cutoff is correct at any one
  // scale but SATURATES under replication: the round-15 sf10 soak
  // (copies=100) pushed every rare shingle's df to ~100× and the banded
  // join degenerated to zero candidates. The production spelling is a
  // CORPUS-FRACTION cutoff — a shingle is a stop-shingle when it appears
  // in more than 5% of documents (`df * 20 > n_docs`, pure integer
  // arithmetic, cross-engine exact) — which is scale-invariant: the same
  // query yields the same near-dup pairs per document at sf0.01 and
  // sf10, so the sf10 soak rung exercises the REAL join. Same partial-
  // agg + broadcast anti-join skew defense as q41; `n_docs` is one
  // driver-side scalar.
  def q265RelativeBlocking(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.count() // one bounded scalar: the corpus size
    val sh = shingles(docs)
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") * lit(20L) > lit(nDocs))
      .select("shingle")
    val shf = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val a = shf.select(col("shingle"), col("doc_id").as("id_a"), col("n_doc").as("n_a"))
    val b = shf.select(col("shingle"), col("doc_id").as("id_b"), col("n_doc").as("n_b"))
    val pairs = a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
    jaccardPairs(pairs)
  }

  val q265Sql: String =
    s"""WITH sh AS ($shinglesSql),
       |rare AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING COUNT(*) * 20 <= (SELECT COUNT(*) FROM documents)),
       |shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q265_relative_blocking" -> q265RelativeBlocking _,
    "q40_dedup_exact" -> q40DedupExact _,
    "q41_ngram_jaccard" -> q41NgramJaccard _,
    "q42_minhash_lsh" -> q42MinhashLsh _,
    "q43_simhash" -> q43Simhash _,
    "q44_dedup_clusters" -> q44DedupClusters _,
    "q83_incremental_dedup" -> q83IncrementalDedup _,
    "q92_bloom_prefilter" -> q92BloomPrefilter _,
    "q98_edit_distance" -> q98EditDistance _,
    "q127_winnowing" -> q127Winnowing _,
    "q135_containment" -> q135Containment _,
    "q149_split_leakage" -> q149SplitLeakage _,
  )

  val oracle: Map[String, String] = Map(
    "q265_relative_blocking" -> q265Sql,
    "q40_dedup_exact" -> q40Sql,
    "q41_ngram_jaccard" -> q41Sql,
    "q44_dedup_clusters" -> q44Sql,
    "q83_incremental_dedup" -> q83Sql,
    "q92_bloom_prefilter" -> q92Sql,
    "q98_edit_distance" -> q98Sql,
    "q127_winnowing" -> q127Sql,
    "q135_containment" -> q135Sql,
    "q149_split_leakage" -> q149Sql,
  )
}
