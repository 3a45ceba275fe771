package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Round-7 analytics + data-layout operators: the remaining window-function
  * surface, sketch-gated heavy hitters, inverted-index search, small-file
  * compaction planning, z-order layout keys, graph motifs, and retention
  * cohorts.
  *
  * Every output column is an integer, boolean, date, or string — the
  * driver's cross-engine hash compare never sees a computed double (the
  * round-4 lesson; the two ppm columns in q102 are floors of
  * correctly-rounded IEEE ops, which are engine-exact).
  */
object Analytics {

  // ---- q102: ranking/distribution window suite ---------------------------
  // The remaining built-in window functions over one shared spec —
  // ntile/percent_rank/cume_dist/lag/lead all reuse a single
  // partitionBy(custkey) shuffle and one per-partition sort (locked by
  // PlanSpec): adding analytic columns must never add exchanges.
  // percent_rank/cume_dist are doubles by definition; they ship as ppm
  // floors — (rank−1) and (n−1) are exact integers, their quotient is one
  // correctly-rounded IEEE division, ×1e6 one correctly-rounded multiply,
  // floor exact — bit-identical in any IEEE-754 engine, unlike round(x,6).
  def q102WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("pr_ppm"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cd_ppm"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q102Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  row_number() OVER w AS rn,
      |  ntile(4) OVER w AS quartile,
      |  lag(o_orderkey, 1) OVER w AS prev_key,
      |  lead(o_orderkey, 1) OVER w AS next_key,
      |  CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_ppm,
      |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_ppm
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- q103: heavy hitters (Misra-Gries sketch + exact confirm) ----------
  // The frequent-items twin of the q92 bloom shape: a mergeable bounded
  // sketch proposes candidates, an exact keyed aggregation confirms them,
  // and sketch error is never observable in the output. The key mixes a
  // heavy head (users repeated across their error events) into a long
  // singleton tail (per-event ids) — the classic heavy-hitter regime:
  // ~n distinct keys, of which only the ~150 user keys clear the n/2000
  // threshold. MG(k=4096) guarantees every key with true count > n/4097
  // survives in the summary, so the n/2000 report threshold has margin;
  // the confirm aggregation computes exact counts over candidate keys
  // only (left-semi prune first — the full distribution is never
  // re-shuffled, which is the point at 100 TB: sketch bounds candidate
  // volume, confirm kills sketch error).
  /** The q103/q151 sketch input: a heavy head (users repeated across their
    * error events) mixed into a long singleton tail (per-event ids).
    */
  private def keyedEvents(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir).select(
      when(col("event_type") === "error", concat(lit("u"), col("user_id")))
        .otherwise(concat(lit("e"), col("event_id"))).as("key"))

  def q103HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val keyed = keyedEvents(s, dir)
    val cand = keyed
      .agg(graft.functions.MisraGriesAgg.misra_gries(col("key"), 4096).as("mg"))
      .select(explode(map_keys(col("mg"))).as("key"))
    val total = keyed.agg(count(lit(1)).as("n"))
    keyed.join(cand, Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(total) // one-row total — the scalar-subquery shape
      .filter(col("cnt") * 2000 > col("n"))
      .select("key", "cnt")
      .orderBy("key")
  }

  val q103Sql: String =
    """WITH keyed AS (
      |  SELECT CASE WHEN event_type = 'error' THEN 'u' || CAST(user_id AS VARCHAR)
      |              ELSE 'e' || CAST(event_id AS VARCHAR) END AS key
      |  FROM events),
      |tot AS (SELECT COUNT(*) AS n FROM keyed)
      |SELECT key, COUNT(*) AS cnt
      |FROM keyed, tot
      |GROUP BY key, n
      |HAVING COUNT(*) * 2000 > n
      |ORDER BY key""".stripMargin

  // ---- q151: count-min sketch with exact-confirm audit --------------------
  // The frequency-ESTIMATION twin of q103's frequent-ITEMS sketch, and the
  // first custom sketch aggregate in the engine whose every counter is
  // cross-engine oracled: functions.CountMinAgg buckets with engine-exact
  // md5 arithmetic, so DuckDB reconstructs the identical d×w sketch from
  // scratch (GROUP BY bucket) and the estimates match bit-for-bit — where
  // the xxhash-seeded MinHash/SimHash summaries are rows-only by nature.
  // The query reports, for the first 20 user keys, the sketch's point
  // estimate against the exact count — `overcount ≥ 0` is the CMS
  // one-sided error made visible (and spec-pinned). The estimate path
  // never rehashes on the executors: each query key's d bucket indices
  // are PRECOMPUTED driver-side (tiny literal relation), cross-joined
  // against the broadcast one-row sketch, and read with element_at.
  // Scale shape: fixed d·w·8-byte partials per partition, one reduce —
  // cardinality-independent, the mergeable-summary contract; the exact
  // side prunes to the 20 audited keys BEFORE its groupBy.
  private[graft] val cmD = 4
  private[graft] val cmW = 4096
  private[graft] val cmAuditKeys: Seq[String] = (1 to 20).map(i => s"u$i")
  private[graft] val cmMixSql: String => String = c =>
    s"(ascii(substr($c,1,1))*1009 + ascii(substr($c,2,1))*101" +
      s" + ascii(substr($c,3,1))*11 + ascii(substr($c,4,1))) % $cmW"
  /** The d bucket element_at indices (1-based, row-major) of `key`. */
  private[graft] def cmIndices(key: String): Seq[Int] =
    (0 until cmD).map(j =>
      j * cmW + graft.functions.CountMinAgg.bucket(j, key, cmW) + 1)

  def q151CountMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = keyedEvents(s, dir)
    val sketch = keyed.agg(
      graft.functions.CountMinAgg.count_min(col("key"), cmD, cmW).as("sk"))
    val qdf = cmAuditKeys.map { k =>
      val idx = cmIndices(k)
      (k, idx(0), idx(1), idx(2), idx(3))
    }.toDF("key", "i0", "i1", "i2", "i3")
    val est = qdf.crossJoin(broadcast(sketch))
      .select(col("key"),
        least(
          element_at(col("sk"), col("i0")), element_at(col("sk"), col("i1")),
          element_at(col("sk"), col("i2")), element_at(col("sk"), col("i3")))
          .as("est"))
    val exact = keyed.filter(col("key").isin(cmAuditKeys: _*))
      .groupBy("key").agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("key"), "left")
      .withColumn("exact", coalesce(col("exact"), lit(0L)))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy("key")
  }

  val q151Sql: String = {
    val mix = cmMixSql
    s"""WITH keyed AS (
       |  SELECT CASE WHEN event_type = 'error' THEN 'u' || CAST(user_id AS VARCHAR)
       |              ELSE 'e' || CAST(event_id AS VARCHAR) END AS key
       |  FROM events),
       |qk AS (SELECT 'u' || CAST(r AS VARCHAR) AS key FROM range(1, 21) t(r)),
       |kh AS (
       |  SELECT j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
       |  FROM keyed CROSS JOIN range(0, $cmD) t(j)),
       |bux AS (
       |  SELECT j, ${mix("h")} AS b, COUNT(*) AS c
       |  FROM kh GROUP BY 1, 2),
       |qh AS (
       |  SELECT key, j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
       |  FROM qk CROSS JOIN range(0, $cmD) t(j)),
       |qb AS (SELECT key, j, ${mix("h")} AS b FROM qh),
       |est AS (
       |  SELECT qb.key, CAST(MIN(COALESCE(bux.c, 0)) AS BIGINT) AS est
       |  FROM qb LEFT JOIN bux ON bux.j = qb.j AND bux.b = qb.b
       |  GROUP BY qb.key),
       |ex AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS exact FROM keyed GROUP BY key)
       |SELECT est.key, est.est, COALESCE(ex.exact, 0) AS exact,
       |  est.est - COALESCE(ex.exact, 0) AS overcount
       |FROM est LEFT JOIN ex USING (key)
       |ORDER BY key""".stripMargin
  }

  // ---- q157: engine-exact HyperLogLog (registers + integral estimator) ---
  // The distinct-count sketch graduated the way q151 graduated count-min:
  // q34/q110 use engine-private hash seeds (rows-only by nature), while
  // HllAgg's md5 bucket/rho walk evaluates identically in the JVM and in
  // DuckDB SQL, so all 256 registers per group, the harmonic sum, AND the
  // integer-division estimate hash-match an independent SQL
  // reconstruction. The ALL row is built by register-wise max over the
  // three group sketches — the q110 rollup discipline (merge kilobytes,
  // never re-scan raw rows), now bit-exact. Estimator details (exact
  // rational α, Σ2^(61−M_j) as an int64-shift sum, one integral DIV) in
  // the HllAgg scaladoc. Fail-loud guard: the integral estimator is the
  // NORMAL-range HLL path; if a sketch ever lands in linear-counting
  // territory (est < 2.5m with empty registers — impossible at ≥1k keys
  // per group) the query throws instead of silently estimating.
  def q157HllExact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllAgg
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_orderkey").cast("string").as("k"))
    // ONE corpus scan: collapse to the distinct (flag, key) relation first.
    // Registers are multiplicity-invariant (merge = max), per-flag
    // exact_keys = COUNT over the distinct pairs, and the ALL row's exact
    // count = COUNT DISTINCT key over the same relation — so every
    // downstream consumer derives from this one deduplicated leaf instead
    // of two lineitem scans. It also keeps the mixed distinct+imperative
    // aggregate out of the plan: groupBy(flag).agg(hll, count_distinct)
    // rewrites to a (flag, k)-keyed partial aggregate that materializes a
    // 2 KB register buffer PER DISTINCT PAIR (hundreds of MB in flight at
    // sf0.1); with the dedup split out, the sketch sees 3 groups only and
    // md5 runs once per distinct pair, not once per raw row.
    val pairs = li.distinct().localCheckpoint(true)
    val grouped = pairs.groupBy("flag")
      // count(col) not count(lit(1)): over the dedup'd pairs they are equal
      // only because l_orderkey is non-null — count(k) preserves the
      // original count_distinct(k) NULL semantics at identical cost (r21
      // ADVICE)
      .agg(HllAgg.hll_registers(col("k")).as("regs"),
        count(col("k")).as("exact_keys"))
      .localCheckpoint(true) // 3 rows; reused by the union AND the rollup
    val allRegs = grouped
      .select(posexplode(col("regs")).as(Seq("pos", "reg")))
      .groupBy("pos").agg(max("reg").as("reg"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, reg))), x -> x.reg)")
        .as("regs"))
    val allExact = pairs.agg(count_distinct(col("k")).as("exact_keys"))
    val all = allRegs.crossJoin(allExact)
      .select(lit("ALL").as("flag"), col("regs"), col("exact_keys"))
    val out = grouped.select(col("flag"), col("regs"), col("exact_keys"))
      .unionByName(all)
      .select(
        col("flag"),
        md5(expr("array_join(transform(regs, x -> CAST(x AS STRING)), ',')")
          .cast("binary")).as("register_digest"),
        expr("CAST(size(filter(regs, x -> x = 0)) AS BIGINT)").as("zero_regs"),
        expr("aggregate(regs, CAST(0 AS DECIMAL(38,0)), (acc, x) -> " +
          "acc + CAST(shiftleft(CAST(1 AS BIGINT), CAST(61 - x AS INT)) AS DECIMAL(38,0)))")
          .as("hsum"),
        col("exact_keys"))
      .withColumn("est_keys",
        expr(s"CAST('${HllAgg.EstNumerator}' AS DECIMAL(38,0)) div " +
          s"(CAST(${HllAgg.AlphaDen} AS DECIMAL(38,0)) * hsum)"))
      .select(col("flag"), col("register_digest"), col("zero_regs"),
        col("hsum").cast("string").as("harmonic_sum"),
        col("est_keys"), col("exact_keys"))
      .orderBy("flag")
      .localCheckpoint(true) // guard below must not re-run the scan
    val inLinearRange = out
      .filter(col("zero_regs") > 0 && col("est_keys") * 2 < lit(5L * HllAgg.M))
      .count()
    require(inLinearRange == 0,
      s"q157: $inLinearRange sketch(es) in HLL linear-counting range " +
        "(est < 2.5m with empty registers) — the exact integral estimator " +
        "is only defined in the normal range")
    out
  }

  /** ascii-decode of one lowercase-hex char — identical in both engines. */
  private def hexVal(e: String): String =
    s"(ascii($e) - CASE WHEN ascii($e) <= 57 THEN 48 ELSE 87 END)"

  val q157Sql: String = {
    import graft.functions.HllAgg
    val lt = "ltrim(substr(h, 3, 15), '0')"
    s"""WITH keys AS (
       |  SELECT l_returnflag AS flag, CAST(l_orderkey AS VARCHAR) AS k
       |  FROM lineitem GROUP BY 1, 2),
       |hx AS (SELECT flag, md5(k) AS h FROM keys),
       |br AS (
       |  SELECT flag,
       |    16 * ${hexVal("substr(h, 1, 1)")} + ${hexVal("substr(h, 2, 1)")} AS bucket,
       |    CASE WHEN $lt = '' THEN 61
       |         ELSE 4 * (15 - length($lt)) + 5
       |              - length(bin(${hexVal(s"substr($lt, 1, 1)")}))
       |    END AS rho
       |  FROM hx),
       |flags AS (SELECT DISTINCT flag FROM keys UNION ALL SELECT 'ALL'),
       |obs AS (
       |  SELECT flag, bucket, MAX(rho) AS rho FROM br GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'ALL', bucket, MAX(rho) FROM br GROUP BY 2),
       |regs AS (
       |  SELECT f.flag, b.bucket, COALESCE(o.rho, 0) AS reg
       |  FROM flags f
       |  CROSS JOIN (SELECT range AS bucket FROM range(${HllAgg.M})) b
       |  LEFT JOIN obs o ON o.flag = f.flag AND o.bucket = b.bucket),
       |fin AS (
       |  SELECT flag,
       |    md5(string_agg(CAST(reg AS VARCHAR), ',' ORDER BY bucket)) AS register_digest,
       |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_regs,
       |    SUM(CAST(1 AS BIGINT) << CAST(61 - reg AS INT)) AS hs
       |  FROM regs GROUP BY 1),
       |ex AS (
       |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS exact_keys FROM keys GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', COUNT(DISTINCT k) FROM keys)
       |SELECT fin.flag, fin.register_digest, fin.zero_regs,
       |  CAST(fin.hs AS VARCHAR) AS harmonic_sum,
       |  CAST(CAST('${HllAgg.EstNumerator}' AS HUGEINT)
       |       // (${HllAgg.AlphaDen} * fin.hs) AS BIGINT) AS est_keys,
       |  ex.exact_keys
       |FROM fin JOIN ex USING (flag)
       |ORDER BY flag""".stripMargin
  }

  // ---- q160: per-group OLS trend in exact rational arithmetic -------------
  // Grouped least-squares — the "is this metric trending?" primitive of
  // monitoring and curriculum scheduling — computed entirely in int64/
  // decimal: per nation, monthly revenue cents regressed on the month
  // index. The normal-equation slope (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) ships as
  // the exact integer pair (slope_num, slope_den) plus a sign and a
  // truncated |slope| in ppm — one integral DIV of nonnegatives, which
  // floors identically in both engines (negative integral division does
  // NOT: Spark truncates toward zero, DuckDB floors — the sign/abs split
  // exists precisely to stay off that edge). x is re-based per group
  // (midx − min(midx) via a window on the SAME key as the final groupBy —
  // one shuffle serves both), keeping every moment far from int64 range
  // even at 1000× the data. Scale shape: the month rollup partial-aggs
  // before its shuffle; the per-group moment agg reuses the window's
  // partitioning; nation is a broadcast.
  def q160OlsTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("midx"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("n_name", "midx")
      .agg(sum("cents").as("y"))
    val w = Window.partitionBy("n_name")
    monthly.withColumn("x", col("midx") - min("midx").over(w))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_months"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_name"), col("n_months"),
        (col("n_months") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_months") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope_sign",
        when(col("slope_num") > 0, 1).when(col("slope_num") < 0, -1)
          .otherwise(0))
      .withColumn("abs_slope_ppm",
        // n_months = 1 gives slope_den = 0: Spark's div yields NULL (ANSI
        // off) but DuckDB's // raises, so the oracle run would CRASH
        // rather than mismatch — make the undefined-slope case an
        // explicit NULL in both engines
        expr("CASE WHEN slope_den = 0 THEN NULL ELSE " +
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(slope_num)) div " +
          "CAST(slope_den AS DECIMAL(38,0)) AS BIGINT) END"))
      .orderBy("n_name")
  }

  val q160Sql: String =
    """WITH monthly AS (
      |  SELECT n.n_name, year(o_orderdate) * 12 + month(o_orderdate) AS midx,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT n_name, midx - MIN(midx) OVER (PARTITION BY n_name) AS x, y
      |  FROM monthly),
      |agg AS (
      |  SELECT n_name, COUNT(*) AS n_months,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT n_name, n_months,
      |  n_months * sxy - sx * sy AS slope_num,
      |  n_months * sxx - sx * sx AS slope_den,
      |  CASE WHEN n_months * sxy - sx * sy > 0 THEN 1
      |       WHEN n_months * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS slope_sign,
      |  CASE WHEN n_months * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST((CAST(1000000 AS HUGEINT) * abs(n_months * sxy - sx * sy))
      |            // (n_months * sxx - sx * sx) AS BIGINT) END AS abs_slope_ppm
      |FROM agg
      |ORDER BY n_name""".stripMargin

  // ---- q161: skyline / Pareto frontier (two-phase sharded sweep) ----------
  // The multi-objective "best parts" operator relational algebra lacks:
  // rows not dominated on (price minimize, size maximize). Spark has no
  // skyline primitive, and the textbook window formulation — one global
  // sort by price with a running size max — is a single-partition window
  // over the whole table. Instead the standard distributed decomposition:
  // phase 1 runs the 2-D sweep per SHARD (dominated-in-shard ⇒
  // dominated-globally, so drops are safe); phase 2 re-runs the same
  // sweep over the union of shard frontiers, a candidate set that is
  // O(frontier × shards), not O(rows) — the q145/q156 two-phase shape
  // applied to dominance instead of prefix sums (plan-locked: the only
  // window over the scan partitions by shard). Sweep rule per shard, in
  // (price asc) RANGE frames: a row survives iff no strictly-cheaper row
  // reaches its size (running max over prices < p) and it carries the max
  // size among its exact price peers — equal (price, size) duplicates are
  // mutually non-dominating and all survive. Exact cents/int64 only; the
  // oracle is an independent NOT EXISTS dominance formulation.
  private def paretoSweep(df: DataFrame, shard: Seq[String]): DataFrame = {
    val w1 = Window.partitionBy(shard.map(col): _*).orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val w2 = Window.partitionBy((shard :+ "price_cents").map(col): _*)
    df.withColumn("m1", max("p_size").over(w1))
      .withColumn("m2", max("p_size").over(w2))
      .filter((col("m1").isNull || col("m1") < col("p_size"))
        && col("p_size") === col("m2"))
      .drop("m1", "m2")
  }

  def q161Skyline(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "part").select(
      col("p_partkey"),
      expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
      col("p_size").cast("long").as("p_size"))
    val candidates = paretoSweep(
      pts.withColumn("shard", pmod(col("p_partkey"), lit(16))), Seq("shard"))
      .drop("shard")
    paretoSweep(candidates, Nil).orderBy("p_partkey")
  }

  val q161Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |    CAST(p_size AS BIGINT) AS p_size
      |  FROM part)
      |SELECT b.p_partkey, b.price_cents, b.p_size
      |FROM p b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p a
      |  WHERE a.price_cents <= b.price_cents AND a.p_size >= b.p_size
      |    AND (a.price_cents < b.price_cents OR a.p_size > b.p_size))
      |ORDER BY b.p_partkey""".stripMargin

  // ---- q167: bitmap index — exact set algebra without rescanning ----------
  // The low-cardinality-dimension index warehouses build: one dense
  // bitmap per nation and per market segment over the customer key
  // domain (BitmapAgg — 63-bit words, OR-mergeable, fixed size). Every
  // (nation, segment) contingency cell is then answered ENTIRELY in the
  // index: AND + popcount for intersections, OR + popcount for unions —
  // 25×5 cells computed from kilobytes of bitmaps, the base table
  // untouched after the two index builds. Exactness is cross-engine
  // checkable bit for bit: each word equals Σ 2^(key mod 63) over its
  // members (a plain BIGINT shift sum — no signed bit-63 edge), so the
  // oracle reconstructs every word, digest, and popcount arithmetically.
  // bit_count is codegen'd in Spark and intrinsic in DuckDB.
  def q167BitmapIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BitmapAgg
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"))
    val words = (cust.agg(max("c_custkey")).first().getLong(0) / 63 + 1).toInt
    val nat = cust.groupBy("nation")
      .agg(BitmapAgg.bitmap(col("c_custkey"), words).as("bm_n"))
    val seg = cust.groupBy("segment")
      .agg(BitmapAgg.bitmap(col("c_custkey"), words).as("bm_s"))
    def pop(arr: String) =
      expr(s"aggregate($arr, CAST(0 AS BIGINT), (a, w) -> a + CAST(bit_count(w) AS BIGINT))")
    nat.crossJoin(broadcast(seg))
      .select(col("nation"), col("segment"),
        pop("bm_n").as("n_nation"),
        pop("bm_s").as("n_segment"),
        pop("zip_with(bm_n, bm_s, (x, y) -> x & y)").as("n_intersect"),
        pop("zip_with(bm_n, bm_s, (x, y) -> x | y)").as("n_union"),
        md5(expr("array_join(transform(bm_n, x -> CAST(x AS STRING)), ',')")
          .cast("binary")).as("nation_digest"))
      .orderBy("nation", "segment")
  }

  val q167Sql: String =
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nation,
      |    c_mktsegment AS segment
      |  FROM customer),
      |nwords AS (
      |  SELECT unnest(range((SELECT MAX(k) // 63 FROM c) + 1)) AS w),
      |nw AS (
      |  SELECT n.nation, x.w, COALESCE(b.word, 0) AS word
      |  FROM (SELECT DISTINCT nation FROM c) n
      |  CROSS JOIN nwords x
      |  LEFT JOIN (
      |    SELECT nation, k // 63 AS w,
      |      CAST(SUM(CAST(1 AS BIGINT) << CAST(k % 63 AS INT)) AS BIGINT) AS word
      |    FROM c GROUP BY 1, 2) b ON b.nation = n.nation AND b.w = x.w),
      |sw AS (
      |  SELECT sg.segment, x.w, COALESCE(b.word, 0) AS word
      |  FROM (SELECT DISTINCT segment FROM c) sg
      |  CROSS JOIN nwords x
      |  LEFT JOIN (
      |    SELECT segment, k // 63 AS w,
      |      CAST(SUM(CAST(1 AS BIGINT) << CAST(k % 63 AS INT)) AS BIGINT) AS word
      |    FROM c GROUP BY 1, 2) b ON b.segment = sg.segment AND b.w = x.w),
      |ndig AS (
      |  SELECT nation,
      |    md5(string_agg(CAST(word AS VARCHAR), ',' ORDER BY w)) AS nation_digest,
      |    CAST(SUM(bit_count(word)) AS BIGINT) AS n_nation
      |  FROM nw GROUP BY 1),
      |sdig AS (
      |  SELECT segment, CAST(SUM(bit_count(word)) AS BIGINT) AS n_segment
      |  FROM sw GROUP BY 1),
      |ix AS (
      |  SELECT nw.nation, sw.segment,
      |    CAST(SUM(bit_count(nw.word & sw.word)) AS BIGINT) AS n_intersect,
      |    CAST(SUM(bit_count(nw.word | sw.word)) AS BIGINT) AS n_union
      |  FROM nw JOIN sw ON nw.w = sw.w
      |  GROUP BY 1, 2)
      |SELECT ix.nation, ix.segment, ndig.n_nation, sdig.n_segment,
      |  ix.n_intersect, ix.n_union, ndig.nation_digest
      |FROM ix JOIN ndig USING (nation) JOIN sdig USING (segment)
      |ORDER BY 1, 2""".stripMargin

  // ---- q170: EXACT quantiles without a global sort (histogram refine) -----
  // q26/q82 cover windowed and approximate percentiles; q170 computes
  // EXACT corpus-wide order statistics the way it must be done at 100 TB,
  // where a global sort is the thing to avoid: (1) one partial-agged
  // histogram pass over 4096 fixed-width buckets of the value domain;
  // (2) a prefix sum over the ≤4096-row bucket relation locates the
  // bucket holding each target rank (ceil-rank percentile_disc
  // semantics); (3) one more scan, filtered to those few buckets
  // (broadcast join), ranks the ~n/4096 surviving rows per target with a
  // window PARTITIONED BY pct — two scans and a kilobyte relation
  // instead of an O(n log n) shuffle sort (plan-locked: the only window
  // over data partitions by pct, and the bucket filter rides a
  // broadcast). The tie-free value identity holds regardless of
  // row_number tie order: the value AT a rank of a sorted multiset is
  // well-defined. The oracle takes the opposite, oracle-legal route —
  // one global sort with row_number — so the two formulations are
  // independent.
  def q170ExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    val buckets = 4096L
    val vals = t(s, dir, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    val st = vals.agg(min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("n")).first()
    val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val w = (mx - mn) / buckets + 1
    val hist = vals.groupBy(expr(s"(v - $mn) div $w").as("b"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum_before",
      coalesce(sum("c").over(Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    import s.implicits._
    val targets = Seq(50, 90, 99).toDF("pct")
      .withColumn("r", expr(s"CAST((${n}L * pct + 99) div 100 AS BIGINT)"))
      .join(cum, col("r") > col("cum_before")
        && col("r") <= col("cum_before") + col("c"))
      .select(col("pct"), col("r"), col("b"), col("cum_before"))
    vals.withColumn("b", expr(s"(v - $mn) div $w"))
      .join(broadcast(targets), "b")
      .withColumn("rk",
        row_number().over(Window.partitionBy("pct").orderBy("v")))
      .filter(col("rk") === col("r") - col("cum_before"))
      .select(col("pct"), col("r"), col("v").as("value_cents"))
      .orderBy("pct")
  }

  val q170Sql: String =
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
      |n AS (SELECT COUNT(*) AS n FROM v),
      |ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM v),
      |t AS (
      |  SELECT pct, (n.n * pct + 99) // 100 AS r
      |  FROM (VALUES (50), (90), (99)) p(pct), n)
      |SELECT t.pct, t.r, ranked.v AS value_cents
      |FROM t JOIN ranked ON ranked.rk = t.r
      |ORDER BY pct""".stripMargin

  // ---- q104: inverted-index keyword search (top-k by match) --------------
  // Search = the read side of an inverted index: exploded (doc, token)
  // postings, the tiny query-term set applied as an `IN` filter BEFORE any
  // shuffle (only postings of query terms survive — at scale, with
  // postings bucketed by token, this is a partition-pruned lookup, not a
  // corpus scan), then one partial-agged groupBy(doc) scores
  // (distinct terms matched, total term frequency) and a bounded
  // TakeOrderedAndProject picks the top 20 — never a global sort.
  private val queryTerms = Seq("spark", "join", "stream", "vector")

  def q104KeywordSearch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"), count(lit(1)).as("tf"))
      .orderBy(desc("n_terms"), desc("tf"), col("doc_id"))
      .limit(20)

  val q104Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents)
       |SELECT doc_id, COUNT(DISTINCT tok) AS n_terms, COUNT(*) AS tf
       |FROM toks
       |WHERE tok IN (${queryTerms.map(tm => s"'$tm'").mkString(", ")})
       |GROUP BY doc_id
       |ORDER BY n_terms DESC, tf DESC, doc_id
       |LIMIT 20""".stripMargin

  // ---- q152: BM25 ranked retrieval, exact fixed point ----------------------
  // q104 ranks by raw match counts; q152 is the scoring function real
  // search runs — BM25 (Robertson & Walker '94) over the same four query
  // terms, computed ENTIRELY in exact int64 arithmetic so the ranking
  // hash-matches DuckDB:
  //   * k1 = 6/5 and b = 3/4 are multiplied through — the term weight
  //     (k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)) with avgdl = T/D becomes
  //     the integer rational (22·tf·T) / (10·T·tf + 3·T + 9·dl·D), floored
  //     at ppm scale (one integral DIV, never a float);
  //   * idf is the exact log2 surrogate bitlen(D) − bitlen(df) (length of
  //     the binary string — engine-exact where ln's last ulp is not),
  //     i.e. idf quantized to doubling units: rare terms weigh more in
  //     exact integer steps.
  // Score = Σ_terms idf·floor(ppm weight); defined AS the sum of floors.
  // Scale shape: postings of the 4 query terms only survive the explode
  // filter (partition-pruned lookup at scale, the q104 argument), one
  // partial-agged groupBy(doc, term), df and corpus totals are one-row /
  // 4-row broadcasts, and the top-20 is a bounded TakeOrderedAndProject.
  def q152Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"), col("ws"))
    val stats = docs.agg(sum("dl").as("t_total"), count(lit(1)).as("d_total"))
    val tfs = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tfs.groupBy("tok").agg(count(lit(1)).as("df"))
    tfs
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf", length(bin(col("d_total"))) - length(bin(col("df"))))
      .withColumn("w_ppm",
        // the ppm numerator 22*tf*T*1e6 exceeds int64 once T ~ 1e9 tokens
        // (a high-tf doc wraps silently with ANSI off while the DuckDB
        // twin raises) — widen to DECIMAL(38,0) so the product is exact at
        // any corpus size; the quotient is ppm-scale and casts back down
        col("idf").cast("long") * expr(
          "CAST((CAST(22 AS DECIMAL(38,0)) * tf * t_total * 1000000) div " +
            "(10 * t_total * tf + 3 * t_total + 9 * dl * d_total) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w_ppm").as("score_ppm"))
      .orderBy(desc("score_ppm"), col("doc_id"))
      .limit(20)
  }

  val q152Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(length(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents WHERE length(trim(text)) > 0),
       |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_total,
       |              CAST(COUNT(*) AS BIGINT) AS d_total FROM d),
       |tfs AS (
       |  SELECT doc_id, dl, tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(ws) AS tok FROM d) x
       |  WHERE tok IN (${queryTerms.map(tm => s"'$tm'").mkString(", ")})
       |  GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfs GROUP BY tok)
       |SELECT doc_id, COUNT(*) AS n_terms,
       |  CAST(SUM((length(bin(d_total)) - length(bin(df)))
       |    * ((CAST(22 AS HUGEINT) * tf * t_total * 1000000)
       |       // (10 * t_total * tf + 3 * t_total + 9 * dl * d_total))) AS BIGINT)
       |    AS score_ppm
       |FROM tfs JOIN dfreq USING (tok) CROSS JOIN st
       |GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id
       |LIMIT 20""".stripMargin

  // ---- q134: hybrid retrieval fusion (reciprocal rank fusion) ------------
  // The fusion step every hybrid search stack runs (Cormack et al.,
  // SIGIR'09; the BM25+ANN recipe in RAG pipelines): two independently
  // produced ranked lists merge by RRF score Σ 1/(60 + rank) — rank
  // positions only, no score calibration across retrievers needed, which
  // is the whole point of RRF. Here the two retrievers are q104-style
  // keyword searches over disjoint term sets; in production one side is
  // the q51/q122 ANN list — the fusion operator is retriever-agnostic.
  //
  // Fixed-point discipline: contribution = 1e6 DIV (60 + rank), summed as
  // BIGINT — no float reciprocals to hash-diverge. Scale shape: each
  // retriever ends in its own bounded top-100 (TakeOrderedAndProject);
  // the rank-assigning window runs on that ALREADY-LIMITED constant-size
  // relation (never the corpus — the q120 reduced-input rule), and the
  // fusion is one full-outer join of two ≤100-row lists.
  private val rrfTermsB = Seq("hash", "merge", "sort", "scan")
  private val rrfK = 60

  private def rankedKeywordList(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"), count(lit(1)).as("tf"))
      .orderBy(desc("n_terms"), desc("tf"), col("doc_id"))
      .limit(100)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("n_terms"), desc("tf"), col("doc_id"))))
      .select(col("doc_id"), col("rank"))
  }

  def q134HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val a = rankedKeywordList(s, dir, queryTerms).withColumnRenamed("rank", "rank_a")
    val b = rankedKeywordList(s, dir, rrfTermsB).withColumnRenamed("rank", "rank_b")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_a"), col("rank_b"),
        (coalesce(expr(s"1000000 DIV ($rrfK + rank_a)"), lit(0))
          + coalesce(expr(s"1000000 DIV ($rrfK + rank_b)"), lit(0)))
          .cast("long").as("rrf_ppm"))
      .orderBy(desc("rrf_ppm"), col("doc_id"))
      .limit(20)
  }

  val q134Sql: String = {
    def list(terms: Seq[String], rank: String): String =
      s"""  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY n_terms DESC, tf DESC, doc_id) AS INT) AS $rank
         |  FROM (
         |    SELECT doc_id, COUNT(DISTINCT tok) AS n_terms, COUNT(*) AS tf
         |    FROM toks WHERE tok IN (${terms.map(tm => s"'$tm'").mkString(", ")})
         |    GROUP BY doc_id
         |    ORDER BY n_terms DESC, tf DESC, doc_id
         |    LIMIT 100) x""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |la AS (
       |${list(queryTerms, "rank_a")}),
       |lb AS (
       |${list(rrfTermsB, "rank_b")})
       |SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id, rank_a, rank_b,
       |  CAST(COALESCE(1000000 // ($rrfK + rank_a), 0)
       |     + COALESCE(1000000 // ($rrfK + rank_b), 0) AS BIGINT) AS rrf_ppm
       |FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id
       |ORDER BY rrf_ppm DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // ---- q105: small-file compaction planning ------------------------------
  // The operational answer to the small-files problem at 100 TB: given a
  // file manifest (here each document stands in for a file of `n_chars`
  // bytes), assign files to target-size compaction bins by start offset —
  // bin = floor(running-bytes-before-this-file / target). One window over
  // the per-table-partition key (`source`) — the running offset is
  // per-source, NEVER a single global token stream — then a partial-agged
  // groupBy emits one row per planned output file. Deterministic: a
  // file's bin depends only on the files before it in (source, doc_id)
  // order, so re-planning after appends never moves already-compacted
  // bins (the property a greedy bin-packer lacks).
  def q105CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("bin", expr("(cum - n_chars) DIV 16384"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  val q105Sql: String =
    """WITH f AS (
      |  SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT source, CAST((cum - n_chars) // 16384 AS BIGINT) AS bin, COUNT(*) AS n_files,
      |  CAST(SUM(n_chars) AS BIGINT) AS bytes, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM f
      |GROUP BY 1, 2
      |ORDER BY source, bin""".stripMargin

  // ---- q146: compaction EXECUTION of the q105 plan ------------------------
  // q105 plans the bins; q146 executes the rewrite and proves it: the
  // per-(source, bin) groups are physically written out — one output file
  // per planned bin — and the oracled result is computed by REREADING the
  // compacted layout: per-bin stats (count/bytes/min/max) plus a
  // content-fidelity digest (md5 over the bin's rows in doc_id order,
  // each row pinned by its own md5(text)), which DuckDB predicts straight
  // from the source table. Equality therefore proves the rewrite moved
  // every row to exactly its planned bin and corrupted none — the
  // q87/q125 digest discipline applied to a layout rewrite.
  //
  // One file per bin: `repartition(source, bin)` puts all of a bin's rows
  // in ONE task, and the dynamic-partitioned write emits one file per
  // (partition-dir, task) — OperatorSpec counts the files. Scale shape:
  // the cumulative-offset window runs per source (the table-partition
  // key, q105's shape); the rewrite itself is one shuffle + a narrow
  // write; the per-bin digest collect_list is bounded by the 16 KB bin
  // target, never by table size.
  private[graft] def compactionDir(s: SparkSession, dir: String): java.nio.file.Path =
    graft.TempDirs.staged(s"compact:$dir") { p =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"), col("text"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("bin", expr("(cum - n_chars) DIV 16384"))
        .drop("cum")
        .transform(graft.Tables.barrier(_, col("source"), col("bin")))
        .write.mode("overwrite").partitionBy("source", "bin")
        .parquet(p.resolve("documents_compact").toString)
    }

  def q146CompactionExec(s: SparkSession, dir: String): DataFrame = {
    val p = compactionDir(s, dir)
    val entry = concat_ws(":", col("doc_id"), col("n_chars"),
      md5(col("text").cast("binary")))
    s.read.parquet(p.resolve("documents_compact").toString)
      .groupBy(col("source"), col("bin").cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), entry.as("e")))),
          x => x.getField("e")), ",").cast("binary")).as("content_md5"))
      .orderBy("source", "bin")
  }

  val q146Sql: String =
    """WITH f AS (
      |  SELECT source, doc_id, n_chars, text,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT source, CAST((cum - n_chars) // 16384 AS BIGINT) AS bin,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS bytes,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  md5(string_agg(
      |    CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR)
      |      || ':' || md5(text),
      |    ',' ORDER BY doc_id)) AS content_md5
      |FROM f
      |GROUP BY 1, 2
      |ORDER BY source, bin""".stripMargin

  // ---- q106: z-order layout keys -----------------------------------------
  // Multi-dimensional data layout: interleaving the bits of two cluster
  // columns gives a 1-D sort key whose ranges are small rectangles in
  // (nation, balance) space — files written in z-order carry tight min/max
  // on BOTH columns, so scans filtered on either prune files (the layout
  // trick behind Delta/Iceberg Z-ORDER). The key is pure integer
  // arithmetic (floor-div / mod / multiply), identical in any engine; at
  // scale the write is repartitionByRange(zval) + local sort, here the
  // key computation + ordering is the oracled part.
  private def zInterleaveExpr(x: String, y: String, bits: Int, intDiv: String): String =
    (0 until bits).map { i =>
      s"((($x $intDiv ${1L << i}) % 2) * ${1L << (2 * i)}) + " +
        s"((($y $intDiv ${1L << i}) % 2) * ${1L << (2 * i + 1)})"
    }.mkString("(", " + ", ")")

  def q106ZorderLayout(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("x"),
        // balance → non-negative integer bucket (exact: floor of the raw
        // double, never a computed double)
        (floor(col("c_acctbal")).cast("long") + 1000L).as("y"))
      .withColumn("zval", expr(zInterleaveExpr("x", "y", 16, "DIV")))
      .select(col("c_custkey"), col("x").as("nation"), col("y").as("bal_bucket"),
        col("zval"))
      .orderBy("zval", "c_custkey")

  val q106Sql: String = {
    val z = zInterleaveExpr("x", "y", 16, "//")
    s"""WITH c AS (
       |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS x,
       |         CAST(floor(c_acctbal) AS BIGINT) + 1000 AS y
       |  FROM customer)
       |SELECT c_custkey, x AS nation, y AS bal_bucket, $z AS zval
       |FROM c
       |ORDER BY zval, c_custkey""".stripMargin
  }

  // ---- q140: z-ordered WRITE + pruned serve scan --------------------------
  // q106 computes z-order keys; q140 proves the LAYOUT PAYOFF: the table
  // is physically written as `repartitionByRange(64, zval)` + local sort
  // (64 zval range files, each internally zval-sorted — at 100 TB each
  // range file is a ~1 GB row-group-aligned unit, not a small file), and a
  // scan filtered on EITHER dimension decodes only the row groups whose
  // footer min/max admit the predicate — partial pruning on BOTH columns,
  // which no single-column sort gives (PlanSpec asserts the decoded-row
  // metrics). Bit-discipline: balance is quantized to 32 buckets so both
  // dimensions carry 5 bits — interleaving a 5-bit with a 14-bit column
  // would hand every split bit to the wide dimension and the narrow one
  // would never prune (the classic z-order mistake).
  private[graft] def zorderDir(s: SparkSession, dir: String): java.nio.file.Path =
    graft.TempDirs.staged(s"zorder:$dir") { p =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          // acctbal ∈ [-999.99, 9999.99] → floor+1000 ∈ [0, 10999] → 32
          // buckets of 344 (exact integer arithmetic end to end)
          expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) DIV 344").as("bal_bucket"))
        .withColumn("zval", expr(zInterleaveExpr("nation", "bal_bucket", 5, "DIV")))
        .repartitionByRange(64, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(p.resolve("customer_z").toString)
    }

  def q140ZorderPrunedScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(zorderDir(s, dir).resolve("customer_z").toString)
      .filter(col("nation") === 7)
      .select("c_custkey", "nation", "bal_bucket", "zval")
      .orderBy("c_custkey")

  val q140Sql: String = {
    val z = zInterleaveExpr("nation", "bal_bucket", 5, "//")
    s"""WITH c AS (
       |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
       |         (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 344 AS bal_bucket
       |  FROM customer)
       |SELECT c_custkey, nation, bal_bucket, $z AS zval
       |FROM c
       |WHERE nation = 7
       |ORDER BY c_custkey""".stripMargin
  }

  // ---- q107: triangle count over the near-dup graph ----------------------
  // Graph motif counting as pure joins: edges are the q41 jaccard pairs,
  // counted by Graph.triangleCount's DEGREE-ORDERED wedge join — each edge
  // oriented low→high in the (degree, id) total order, so every triangle
  // is proposed once by its order-minimal apex and per-vertex wedge
  // fan-out is bounded by C(outdeg, 2), outdeg = O(√m), regardless of how
  // viral a boilerplate cluster gets (the "curse of the last reducer"
  // fix — see Graph.scala). The count is orientation-invariant, so the
  // naive-wedge DuckDB oracle yields the identical number. The three
  // one-row aggregates combine via broadcast one-row crosses (the
  // scalar-subquery shape).
  def q107TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = Dedup.q41Pairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v"))
    val nv = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .distinct().agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nt = Graph.triangleCount(e)
    nv.crossJoin(ne).crossJoin(nt)
  }

  val q107Sql: String =
    s"""WITH ${Dedup.pairBaseCtes},
       |jp AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8)
       |SELECT
       |  (SELECT COUNT(*) FROM (SELECT u FROM jp UNION SELECT v FROM jp) vs) AS n_vertices,
       |  (SELECT COUNT(*) FROM jp) AS n_edges,
       |  (SELECT COUNT(*) FROM jp e1
       |   JOIN jp e2 ON e1.v = e2.u
       |   JOIN jp e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin

  // ---- q115: PageRank in exact fixed-point -------------------------------
  // Iterative PageRank over the customer→supplier order graph (an edge per
  // distinct (o_custkey, l_suppkey) pair; customer/supplier keys disjoint
  // via the 2k / 2k+1 embedding). The whole computation runs in INTEGER
  // fixed-point: total mass 10⁹, per-edge share = pr DIV outdeg, damping
  // 0.85 as (x·85) DIV 100, dangling mass (suppliers have no out-edges)
  // redistributed as dang DIV n per node. Integer sums are
  // order-independent, so unlike float PageRank the result is bit-exact
  // across engines, partitionings, and reruns — which is what makes a
  // 5-iteration UNROLLED DuckDB twin possible (the q54 k-means oracle
  // pattern). Truncation bleeds ~1 ppb of mass per DIV; deterministic, and
  // irrelevant to ranking.
  //
  // Scale shape: per iteration, ONE shuffle — the contribution
  // groupBy(dst); the dangling total is a one-row aggregate crossed back
  // broadcast (the q81 normalizer shape), and ranks/edges stay partitioned
  // by node key (at 100 TB both sides pre-bucket on the key so the
  // edges⋈ranks join is shuffle-free). Eager localCheckpoint per iteration
  // truncates the growing lineage — the Graph.connectedComponents
  // discipline; a reliable checkpoint on a real cluster.
  private val prIters = 5

  def q115PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.pageRank(edges, prIters)
      .select(col("node"), col("pr"), (col("node") % 2 === 1).as("is_supplier"))
      .orderBy(desc("pr"), asc("node"))
  }

  val q115Sql: String = {
    val iters = (1 to prIters).map { k =>
      s"""it$k AS (
         |  SELECT nd.node,
         |    CAST((150000000 // p.n)
         |      + ((COALESCE(inc.s, 0) + dg.d // p.n) * 85) // 100 AS BIGINT) AS pr
         |  FROM nodes nd
         |  CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(pp.pr // od.outdeg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN it${k - 1} pp ON pp.node = e.src
         |    JOIN outdeg od ON od.src = e.src
         |    GROUP BY e.dst) inc ON inc.node = nd.node
         |  CROSS JOIN (
         |    SELECT CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS d FROM it${k - 1}
         |    WHERE node NOT IN (SELECT src FROM edges)) dg)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |params AS (SELECT COUNT(*) AS n FROM nodes),
       |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |it0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS pr FROM nodes, params),
       |$iters
       |SELECT node, pr, node % 2 = 1 AS is_supplier FROM it$prIters
       |ORDER BY pr DESC, node""".stripMargin
  }

  // ---- q164: single-source BFS hop distances ------------------------------
  // The graph-distance primitive the motif/centrality family (q107 CC,
  // q115/q139 PageRank, q129 k-core, q150 LPA) leaves out: fewest-hop
  // distance from one vertex to every vertex of its component, over the
  // same customer⊗supplier trade graph. Level-synchronous frontier BFS
  // (Graph.bfsDistances — one keyed join per round, rounds = source
  // eccentricity, loud cap). Source = the minimum vertex id, a scalar
  // both engines derive from the data. The oracle is this repo's first
  // WITH RECURSIVE twin: DuckDB's fixpoint union walks (node, depth)
  // pairs and MIN-collapses them — a genuinely different formulation of
  // shortest path than the engine's settled-set expansion.
  def q164BfsDistances(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
    val src = edges.agg(min(least(col("u"), col("v")))).first().getLong(0)
    Graph.bfsDistances(edges, src)
      .select(col("node"), col("dist"), (col("node") % 2 === 1).as("is_supplier"))
      .orderBy("node")
  }

  // ---- q188: NATIVE recursive CTE (WITH RECURSIVE) ------------------------
  // Spark 4.1 ships WITH RECURSIVE — but UNION-dedup recursion (the q164
  // oracle's fixpoint shape) is not yet supported
  // ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE], probed on this build): only
  // UNION ALL recursion exists, which on a cyclic/dense graph enumerates
  // every WALK, not every node — exponential. So the native twin runs
  // where UNION ALL recursion IS exact BFS: a tree. A binary hierarchy is
  // derived over custkeys (parent = key DIV 2, kept only when the parent
  // key exists), rooted at the minimum key — each node has one path from
  // the root, so the recursive member's single walk-reference yields one
  // row per node with its exact depth: the org-chart / BOM traversal that
  // is THE canonical recursive-CTE workload. Three-way equivalence:
  // native CTE ≡ Graph.bfsDistances DataFrame loop over the same edges
  // (PlanSpec, which also locks the UnionLoop recursion node in the
  // plan) ≡ DuckDB's WITH RECURSIVE (the driver oracle).
  def q188RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").select(col("c_custkey"))
      .createOrReplaceTempView("g188_cust")
    s.sql("""WITH RECURSIVE edges AS (
            |  SELECT p.c_custkey AS parent, c.c_custkey AS child
            |  FROM g188_cust c JOIN g188_cust p ON p.c_custkey = c.c_custkey DIV 2
            |  WHERE c.c_custkey > (SELECT MIN(c_custkey) FROM g188_cust)),
            |walk(node, dist) AS (
            |  SELECT MIN(c_custkey), 0 FROM g188_cust
            |  UNION ALL
            |  SELECT e.child, w.dist + 1
            |  FROM walk w JOIN edges e ON e.parent = w.node)
            |SELECT node, CAST(dist AS INT) AS dist FROM walk
            |ORDER BY node""".stripMargin)
  }

  val q188Sql: String =
    """WITH RECURSIVE ckeys AS MATERIALIZED (
      |  SELECT c_custkey FROM customer),
      |edges AS MATERIALIZED (
      |  SELECT p.c_custkey AS parent, c.c_custkey AS child
      |  FROM ckeys c JOIN ckeys p ON p.c_custkey = c.c_custkey // 2
      |  WHERE c.c_custkey > (SELECT MIN(c_custkey) FROM ckeys)),
      |walk(node, dist) AS (
      |  SELECT MIN(c_custkey), 0 FROM ckeys
      |  UNION ALL
      |  SELECT e.child, w.dist + 1
      |  FROM walk w JOIN edges e ON e.parent = w.node)
      |SELECT node, CAST(dist AS INT) AS dist FROM walk
      |ORDER BY node""".stripMargin

  val q164Sql: String =
    """WITH RECURSIVE edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |sym AS MATERIALIZED (
      |  SELECT src AS u, dst AS v FROM edges
      |  UNION
      |  SELECT dst, src FROM edges),
      |s0 AS (SELECT MIN(u) AS s FROM sym),
      |walk(node, d) AS (
      |  SELECT s, 0 FROM s0
      |  UNION
      |  SELECT sym.v, walk.d + 1
      |  FROM walk JOIN sym ON sym.u = walk.node
      |  WHERE walk.d < 30)
      |SELECT node, CAST(MIN(d) AS INT) AS dist, node % 2 = 1 AS is_supplier
      |FROM walk
      |GROUP BY node
      |ORDER BY node""".stripMargin

  // ---- q139: convergence-stopped PageRank ---------------------------------
  // The production entry point q115 only approximates with a fixed count:
  // Graph.pageRankConverged iterates the SAME exact fixed-point recurrence
  // until no node moves by more than tolPpb (damping contracts deltas ×0.85
  // per round, so the stop is reached, and the loop fails loudly if not).
  // The iteration count is data-dependent, so there is no unrolled oracle —
  // rows-only, pinned by the OperatorSpec invariance check that the result
  // EQUALS pageRank(edges, observedRounds) bit-for-bit and by the fixpoint
  // spec (one more exact step moves nothing beyond tolPpb).
  def q139PageRankConverged(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.pageRankConverged(edges)
      .select(col("node"), col("pr"), (col("node") % 2 === 1).as("is_supplier"))
      .orderBy(desc("pr"), asc("node"))
  }

  // ---- q150: label-propagation communities --------------------------------
  // Graph.labelPropagation — the community detector for structure
  // connectedComponents (islands only) and kCore (a density threshold)
  // both miss. The RAW q115 order graph is an expander: LPA correctly
  // collapses it to the customer/supplier bipartition, because no finer
  // community structure exists to find. So q150 runs on the trade-
  // affinity subgraph (o_custkey ≡ l_suppkey mod 8 — 8 planted blocks):
  // CC stops at the 8 islands, while LPA splits each island into its
  // internally-dense supplier-centered trading clusters (17 communities
  // at sf0.01, largest 190 of 1567 nodes) — the sub-component structure
  // CC is blind to. Six synchronous rounds (stable by inspection: 6→8
  // moves one label); every round is a deterministic function of the
  // last (neighbor+self majority vote, min label on ties), so the DuckDB
  // twin UNROLLS the rounds exactly like q115's PageRank oracle — per
  // round, re-count labels over the materialized adjacency and arg-max
  // with row_number. Output adds the community size via a window over
  // the final |nodes|-row labeling (bounded input, not the corpus).
  private val lpRounds = 6

  def q150LabelProp(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_custkey") % 8 === col("l_suppkey") % 8)
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.labelPropagation(edges, lpRounds)
      .select(col("node"), col("lab").as("community"),
        (col("node") % 2 === 1).as("is_supplier"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("community")))
      .select("node", "community", "community_size", "is_supplier")
      .orderBy("community", "node")
  }

  val q150Sql: String = {
    // MATERIALIZED throughout — adj is referenced every round (the q129
    // re-expansion lesson)
    val iters = (1 to lpRounds).map { k =>
      s"""lab$k AS MATERIALIZED (
         |  SELECT u AS node, lab FROM (
         |    SELECT a.u, l.lab,
         |      row_number() OVER (PARTITION BY a.u
         |        ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
         |    FROM adj a JOIN lab${k - 1} l ON l.node = a.v
         |    GROUP BY a.u, l.lab) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_custkey % 8 = l_suppkey % 8),
       |nodes AS MATERIALIZED (SELECT u AS node FROM b UNION SELECT v FROM b),
       |adj AS MATERIALIZED (
       |  SELECT u, v FROM b
       |  UNION SELECT v, u FROM b
       |  UNION SELECT node, node FROM nodes),
       |lab0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
       |$iters
       |SELECT node, lab AS community,
       |  CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size,
       |  node % 2 = 1 AS is_supplier
       |FROM lab$lpRounds
       |ORDER BY community, node""".stripMargin
  }

  // ---- q129: k-core of the order graph ------------------------------------
  // Graph.kCore over the q115 customer→supplier graph: the density filter
  // that isolates the heavily-cross-connected trading core (degree ≥ 40
  // after peeling — at sf0.01 that keeps 449 of 1600 vertices). Peeling
  // is iterative (removals cascade), so the DuckDB twin UNROLLS the peel
  // the q115/q54 way: 6 chained rounds, each recomputing degrees over the
  // previous round's edge set and keeping edges whose both endpoints
  // clear k. The Spark side runs to the TRUE fixpoint (fail-loud cap,
  // convergence read from the peel's own degree aggregate); oracle rounds
  // past the fixpoint are no-ops, so 6 ≥ the observed effective peel
  // count (1 at sf0.01 — and the guard below fails LOUDLY if a dataset
  // ever needs more than the unroll) makes the twin exact.
  private val kCoreK = 40
  private val kCoreUnroll = 6

  def q129KCore(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
    val (core, rounds) = Graph.kCoreWithRounds(edges, kCoreK)
    // the oracle unrolls a FIXED number of peel rounds; on a dataset that
    // needs more, it would silently under-peel and the driver would report
    // a baffling hash mismatch — fail here with the real cause instead
    if (rounds > kCoreUnroll)
      throw new IllegalStateException(
        s"kCore needed $rounds peel rounds but the q129 oracle unrolls only " +
          s"$kCoreUnroll — raise kCoreUnroll to at least $rounds")
    core
      .select(col("node"), col("deg_in_core"), (col("node") % 2 === 1).as("is_supplier"))
      .orderBy("node")
  }

  val q129Sql: String = {
    // every CTE is MATERIALIZED: each round references its predecessor
    // several times (degree count + two membership filters), and inlined
    // CTEs would re-expand the base scan ~5^rounds times — DuckDB ran out
    // of file handles before finishing the plain form
    val rounds = (1 to kCoreUnroll).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT x, COUNT(*) AS d FROM (
         |    SELECT u AS x FROM r${r - 1} UNION ALL SELECT v AS x FROM r${r - 1}) t
         |  GROUP BY x),
         |r$r AS MATERIALIZED (
         |  SELECT u, v FROM r${r - 1}
         |  WHERE u IN (SELECT x FROM d$r WHERE d >= $kCoreK)
         |    AND v IN (SELECT x FROM d$r WHERE d >= $kCoreK))""".stripMargin
    }.mkString(",\n")
    s"""WITH r0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$rounds
       |SELECT node, COUNT(*) AS deg_in_core, node % 2 = 1 AS is_supplier
       |FROM (SELECT u AS node FROM r$kCoreUnroll
       |      UNION ALL SELECT v AS node FROM r$kCoreUnroll) t
       |GROUP BY node
       |ORDER BY node""".stripMargin
  }

  // ---- q108: retention cohorts -------------------------------------------
  // The canonical product-analytics matrix: users cohorted by first-seen
  // day, activity bucketed by day offset from their cohort. Two keyed
  // aggregations and one join on user_id — the cohort dimension joins
  // back to per-day activity, never to raw events twice; all outputs are
  // dates and exact integer counts.
  def q108RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val q108Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |cohorts AS (SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT cohort_day, date_diff('day', cohort_day, d) AS day_offset,
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN cohorts ON ev.user_id = cohorts.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---- q110: re-aggregatable HLL sketch rollup ---------------------------
  // The OLAP-cube sketch discipline: per-day HLL sketches of distinct
  // users (DataSketches HllSketch — a few KB each), re-aggregated with
  // `hll_union_agg` into the all-time estimate WITHOUT touching raw rows
  // again. This is what q34's one-shot approx_count_distinct cannot do —
  // at 100 TB the per-partition sketches are precomputed once and every
  // rollup (day → month → all) is a sketch union over kilobytes. Sketch
  // estimates are engine-specific (no DuckDB twin) → rows-only, pinned by
  // a ≤5%-error spec against exact distinct counts.
  def q110HllRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("d")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val perDay = daily.select(col("d").cast("string").as("day"),
      hll_sketch_estimate(col("sk")).as("est_users"))
    val merged = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .select(lit("ALL").as("day"), col("est_users"))
    perDay.unionByName(merged).orderBy("day")
  }

  // ---- q111: table statistics collection (the ANALYZE surface) -----------
  // Column-level NDV / null-count / min / max — the statistics that feed
  // a cost-based optimizer (join reorder, broadcast decisions) and file
  // skipping. One aggregation pass computes every column's stats, then a
  // narrow explode emits the long-format catalog rows. Exact
  // count(DISTINCT) keeps the oracle exact at test scale; at 100 TB the
  // NDV column is the q110 HLL sketch (mergeable per partition), which
  // is precisely why both shapes exist. Min/max ship as strings of
  // integers/flags/dates — never doubles — so the hash compare is
  // engine-exact.
  private val statCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus")

  def q111TableStats(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("l_shipday", col("l_shipdate").cast("date"))
    val allCols = statCols :+ "l_shipday"
    val aggs = count(lit(1)).as("n_rows") +:
      allCols.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"ndv_$c"),
          (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      }
    li.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(allCols.map { c =>
        struct(lit(c).as("col"), col(s"ndv_$c").as("ndv"),
          col(s"nulls_$c").as("n_nulls"),
          col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))
      }: _*)).as("st"))
      .select(col("st.col").as("col"), col("n_rows"), col("st.ndv").as("ndv"),
        col("st.n_nulls").as("n_nulls"), col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy("col")
  }

  // ---- q126: table statistics with SKETCHED NDV ---------------------------
  // q111's own scale note made real: the identical ANALYZE surface
  // (n_rows / nulls / min / max per column) but with the NDV column an
  // HLL sketch estimate instead of exact count(DISTINCT). Exact NDV is a
  // per-column shuffle of every distinct value — at 100 TB that is the
  // single most expensive statistic a catalog collects; the HLL variant
  // folds every column into fixed-KB mergeable sketches inside ONE
  // partial-agged pass, so stats collection costs one scan regardless of
  // column cardinality (and per-partition sketches re-aggregate
  // incrementally when files append — the q110 property). Estimates are
  // engine-specific ⇒ rows-only, pinned by the ≤5%-vs-exact spec.
  def q126SketchStats(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("l_shipday", col("l_shipdate").cast("date"))
    val allCols = statCols :+ "l_shipday"
    val aggs = count(lit(1)).as("n_rows") +:
      allCols.flatMap { c =>
        // sketch over the string image (injective ⇒ NDV-preserving;
        // hll_sketch_agg has no date/narrow-int overloads)
        Seq(hll_sketch_estimate(hll_sketch_agg(col(c).cast("string"))).as(s"ndv_$c"),
          (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      }
    li.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(allCols.map { c =>
        struct(lit(c).as("col"), col(s"ndv_$c").as("ndv_est"),
          col(s"nulls_$c").as("n_nulls"),
          col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))
      }: _*)).as("st"))
      .select(col("st.col").as("col"), col("n_rows"), col("st.ndv_est").as("ndv_est"),
        col("st.n_nulls").as("n_nulls"), col("st.min_val").as("min_val"),
        col("st.max_val").as("max_val"))
      .orderBy("col")
  }

  // ---- q178: CBO — catalog statistics DRIVE the broadcast decision --------
  // q111/q126 COLLECT the statistics; this feeds them back into the
  // optimizer, closing the loop. The tables are registered in the session
  // catalog and ANALYZEd (table-level totalSize/rowCount + column-level
  // NDV/min/max — the q111 surface, stored where the planner reads it).
  // Under `spark.sql.cbo.enabled=true` the filter on the dimension is
  // estimated through column stats (selectivity ≈ 1/ndv per equality
  // conjunct), the estimated output lands UNDER the broadcast threshold,
  // and the join plans as BroadcastHashJoin; without CBO the filter's size
  // estimate stays the full scan size (36 KB+ at spec scale) and the same
  // query sort-merges. PlanSpec locks BOTH sides of that flip; the oracled
  // result pins correctness of the stats-fed plan. AQE is disabled inside
  // the scope so the lock is on the STATIC stats-driven decision, not a
  // runtime rescue; the 1-row aggregate is materialized inside the conf
  // scope (bounded), so no optimizer conf leaks to other queries.
  private val cboTables = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cboTableFor(s: SparkSession, dir: String, table: String,
      statCols: String): String = {
    // hex, not math.abs — abs(Int.MinValue) is still negative
    val name = s"g178_${table}_${Integer.toHexString(dir.hashCode)}"
    // the CREATE/ANALYZE live in the SESSION catalog, but this cache is
    // JVM-global — a fresh SparkSession (stop + rebuild in a test) would
    // hit the cache and skip registration, so the fast path re-verifies
    // against THIS session's catalog before trusting the cache
    cboTables.computeIfAbsent(s"$dir/$table", _ => register(s, name, dir, table, statCols))
    if (!s.catalog.tableExists(name)) register(s, name, dir, table, statCols)
    name
  }

  private def register(s: SparkSession, name: String, dir: String,
      table: String, statCols: String): String = {
    s.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet " +
      s"LOCATION '$dir/$table.parquet'")
    s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS $statCols")
    name
  }

  /** The q178 join planned (and, if `execute`, run) under the given CBO
    * setting — shared by the query (cbo=true) and the PlanSpec flip lock
    * (both values). Returns (result rows if executed, executed-plan text).
    */
  private[graft] def q178Under(s: SparkSession, dir: String, cbo: Boolean,
      execute: Boolean): (Seq[org.apache.spark.sql.Row], String) = {
    val orders = cboTableFor(s, dir, "orders",
      "o_orderkey, o_orderpriority, o_orderstatus")
    val lineitem = cboTableFor(s, dir, "lineitem", "l_orderkey")
    graft.Tables.withConf(s,
      "spark.sql.cbo.enabled" -> cbo.toString,
      // 4 KB sits between the no-CBO estimate of the filtered dim (the
      // projected scan size — 7.3 KB at spec scale; Project scales the
      // file size by column-width ratio even without CBO, which is why
      // 16 KB would broadcast on both sides) and the CBO estimate
      // (rowCount through two equality selectivities — 1.6 KB)
      "spark.sql.autoBroadcastJoinThreshold" -> "4096",
      "spark.sql.adaptive.enabled" -> "false") {
      val dim = s.table(orders)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      val joined = s.table(lineitem)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("price_cents"),
          countDistinct(col("l_orderkey")).as("n_orders"))
      val rows = if (execute) joined.collect().toSeq else Seq.empty
      (rows, joined.queryExecution.executedPlan.toString)
    }
  }

  def q178CboBroadcast(s: SparkSession, dir: String): DataFrame = {
    val (rows, plan) = q178Under(s, dir, cbo = true, execute = true)
    lastCboPlan = plan
    s.createDataFrame(s.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_orders",
          org.apache.spark.sql.types.LongType))))
  }

  /** Plan of the last q178 run (CBO on), for the PlanSpec lock. */
  @volatile private[graft] var lastCboPlan: String = ""

  val q178Sql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'""".stripMargin

  val q111Sql: String = {
    val branches = (statCols.map(c => (c, c)) :+ ("l_shipday", "CAST(l_shipdate AS DATE)"))
      .map { case (name, e) =>
        s"""SELECT '$name' AS col, COUNT(*) AS n_rows, COUNT(DISTINCT $e) AS ndv,
           |  COUNT(*) - COUNT($e) AS n_nulls,
           |  CAST(MIN($e) AS VARCHAR) AS min_val, CAST(MAX($e) AS VARCHAR) AS max_val
           |FROM lineitem""".stripMargin
      }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY col")
  }

  // ---- q120: join-key skew profiler ---------------------------------------
  // The diagnostic that decides when the salting operators (q27/q101) and
  // AQE skew splits are needed: profile a join key's frequency
  // distribution BEFORE running the join. One partial-agged groupBy
  // reduces the fact table to the |keys|-row count relation; exact p50/
  // p90/p99 are rank-picked from one window over that already-reduced
  // relation (at 100 TB the quantile pick runs on |keys| rows, not fact
  // rows — and a q82-style sketch replaces it when even |keys| is huge).
  // Shares are fixed-point ppm integers (q81 discipline): top-key share
  // of rows, and the p99/p50 heavy-tail ratio — the two numbers a
  // planner's skew heuristic consumes. Integer-only output. On EMPTY
  // input both sides yield 0 rows (the oracle's final n_keys > 0 guard
  // exists for that case alone — its scalar subqueries would otherwise
  // emit one all-NULL row where the groupBy here emits none).
  def q120SkewProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n"), col("k")) // |keys| rows — already reduced
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(
        counts.agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"),
          max("n").as("max_n"), min("n").as("min_n"))))
    def pick(q: Int): Column =
      max(when(col("rk") === expr(s"greatest((n_keys * $q) DIV 100, 1)"), col("n")))
    ranked.groupBy("n_keys", "n_rows", "max_n", "min_n")
      .agg(pick(50).as("p50_n"), pick(90).as("p90_n"), pick(99).as("p99_n"))
      .select(col("n_keys"), col("n_rows"), col("min_n"), col("p50_n"),
        col("p90_n"), col("p99_n"), col("max_n"),
        expr("(max_n * 1000000) DIV n_rows").as("top_share_ppm"),
        expr("(p99_n * 1000000) DIV p50_n").as("p99_over_p50_ppm"))
  }

  val q120Sql: String =
    """WITH counts AS (
      |  SELECT l_suppkey AS k, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
      |stats AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
      |    MAX(n) AS max_n, MIN(n) AS min_n FROM counts),
      |ranked AS (
      |  SELECT n, row_number() OVER (ORDER BY n, k) AS rk FROM counts)
      |SELECT s.n_keys, s.n_rows, s.min_n,
      |  (SELECT n FROM ranked WHERE rk = greatest((s.n_keys * 50) // 100, 1)) AS p50_n,
      |  (SELECT n FROM ranked WHERE rk = greatest((s.n_keys * 90) // 100, 1)) AS p90_n,
      |  (SELECT n FROM ranked WHERE rk = greatest((s.n_keys * 99) // 100, 1)) AS p99_n,
      |  s.max_n,
      |  (s.max_n * 1000000) // s.n_rows AS top_share_ppm,
      |  ((SELECT n FROM ranked WHERE rk = greatest((s.n_keys * 99) // 100, 1)) * 1000000)
      |    // (SELECT n FROM ranked WHERE rk = greatest((s.n_keys * 50) // 100, 1))
      |    AS p99_over_p50_ppm
      |FROM stats s
      |WHERE s.n_keys > 0""".stripMargin

  // -------------------------------------------------------------------------
  // ---- q197: built-in Datasketches aggregates (HLL / theta / top-k) ------
  // q157 builds an ENGINE-EXACT HLL whose registers DuckDB reconstructs;
  // this is the production counterpart: Spark 4's native Apache
  // Datasketches functions — hll_sketch_agg/hll_union/hll_sketch_estimate
  // and theta_sketch_agg/theta_union/theta_sketch_estimate — which DuckDB
  // cannot replay. The query is still FULLY ORACLED by emitting only
  // exact values and invariants the sketches must satisfy deterministically
  // (same data → same sketch → same boolean, run after run):
  //   - theta_nd: with ~150 distinct users per group the theta sketch is
  //     far below its 4096-entry promotion threshold, so it is in EXACT
  //     mode and its estimate IS the distinct count — emitted as the
  //     integer the oracle computes with COUNT(DISTINCT);
  //   - hll_ok: the HLL estimate (lgConfigK=12, ~1.6% rsd) is within 5%
  //     of exact — emitted as a boolean the oracle states as TRUE;
  //   - merge_ok: hll_union of two disjoint half-sketches (split by
  //     event_id parity) estimates IDENTICALLY to the one-shot sketch —
  //     the mergeability contract that makes sketch rollups safe at
  //     100 TB (partial sketches per shard, union at the top);
  //   - theta_union_nd: theta union across the parity halves, again
  //     exact-mode ⇒ the oracle's COUNT(DISTINCT).
  // Scale shape: one partial-final aggregate per grouping; every sketch
  // merges associatively so map-side combine applies throughout.
  def q197Datasketches(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir).createOrReplaceTempView("events_q197")
    s.sql("""
      |WITH per_type AS (
      |  SELECT event_type,
      |    COUNT(DISTINCT user_id) AS nd_exact,
      |    hll_sketch_estimate(hll_sketch_agg(user_id)) AS hll_est,
      |    theta_sketch_estimate(theta_sketch_agg(user_id)) AS theta_est,
      |    hll_sketch_estimate(hll_union(
      |      hll_sketch_agg(CASE WHEN event_id % 2 = 0 THEN user_id END),
      |      hll_sketch_agg(CASE WHEN event_id % 2 = 1 THEN user_id END)))
      |      AS hll_split_est,
      |    theta_sketch_estimate(theta_union(
      |      theta_sketch_agg(CASE WHEN event_id % 2 = 0 THEN user_id END),
      |      theta_sketch_agg(CASE WHEN event_id % 2 = 1 THEN user_id END)))
      |      AS theta_union_est
      |  FROM events_q197
      |  GROUP BY event_type)
      |SELECT event_type, nd_exact,
      |  CAST(round(theta_est) AS BIGINT) AS theta_nd,
      |  abs(hll_est - nd_exact) * 20 <= nd_exact AS hll_ok,
      |  hll_split_est = hll_est AS merge_ok,
      |  CAST(round(theta_union_est) AS BIGINT) AS theta_union_nd
      |FROM per_type
      |ORDER BY event_type""".stripMargin)
  }

  val q197Sql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS nd_exact,
      |  COUNT(DISTINCT user_id) AS theta_nd,
      |  TRUE AS hll_ok,
      |  TRUE AS merge_ok,
      |  COUNT(DISTINCT user_id) AS theta_union_nd
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---- q205: approx_top_k + mode (bounded-sketch heavy hitters) -----------
  // The BUILT-IN counterpart of q103's Misra-Gries: `approx_top_k` tracks
  // a bounded item set (default 10k) and — when the true cardinality fits
  // inside it, as here (5 event types) — returns EXACT counts, so the
  // whole sketch path is oracle-checkable against COUNT(*) ranking. The
  // single-row sketch result is exploded back to relational (rank, item,
  // count) rows; `mode()` (Spark 4 built-in) rides along as the k=1
  // special case. Counts are distinct in this corpus, so the desc-count
  // ordering is total — no tie nondeterminism on the hashed path. Scale
  // shape: one mergeable partial-final aggregate, same as any sketch.
  def q205ApproxTopK(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .agg(expr("approx_top_k(event_type, 3)").as("t"),
        expr("mode(event_type)").as("mode_type"))
      .select(posexplode(col("t")).as(Seq("pos", "e")), col("mode_type"))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.item").as("item"), col("e.count").as("cnt"), col("mode_type"))
      .orderBy("rank")

  val q205Sql: String =
    """WITH c AS (
      |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC) AS INT) AS rank,
      |  event_type AS item, n AS cnt,
      |  (SELECT event_type FROM c ORDER BY n DESC LIMIT 1) AS mode_type
      |FROM c
      |ORDER BY n DESC
      |LIMIT 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_window_suite" -> q102WindowSuite _,
    "q197_datasketches" -> q197Datasketches _,
    "q205_approx_top_k" -> q205ApproxTopK _,
    "q103_heavy_hitters" -> q103HeavyHitters _,
    "q104_keyword_search" -> q104KeywordSearch _,
    "q105_compaction_plan" -> q105CompactionPlan _,
    "q106_zorder_layout" -> q106ZorderLayout _,
    "q107_triangle_count" -> q107TriangleCount _,
    "q108_retention_cohorts" -> q108RetentionCohorts _,
    "q110_hll_rollup" -> q110HllRollup _,
    "q111_table_stats" -> q111TableStats _,
    "q178_cbo_broadcast" -> q178CboBroadcast _,
    "q115_pagerank" -> q115PageRank _,
    "q150_label_prop" -> q150LabelProp _,
    "q151_count_min" -> q151CountMin _,
    "q152_bm25" -> q152Bm25 _,
    "q157_hll_exact" -> q157HllExact _,
    "q160_ols_trend" -> q160OlsTrend _,
    "q161_skyline" -> q161Skyline _,
    "q164_bfs_distances" -> q164BfsDistances _,
    "q188_recursive_cte" -> q188RecursiveCte _,
    "q167_bitmap_index" -> q167BitmapIndex _,
    "q170_exact_quantiles" -> q170ExactQuantiles _,
    "q120_skew_profile" -> q120SkewProfile _,
    "q126_sketch_stats" -> q126SketchStats _,
    "q129_kcore" -> q129KCore _,
    "q134_hybrid_rrf" -> q134HybridRrf _,
    "q139_pagerank_converged" -> q139PageRankConverged _,
    "q140_zorder_pruned_scan" -> q140ZorderPrunedScan _,
    "q146_compaction_exec" -> q146CompactionExec _,
  )

  val oracle: Map[String, String] = Map(
    "q197_datasketches" -> q197Sql,
    "q205_approx_top_k" -> q205Sql,
    "q102_window_suite" -> q102Sql,
    "q103_heavy_hitters" -> q103Sql,
    "q104_keyword_search" -> q104Sql,
    "q105_compaction_plan" -> q105Sql,
    "q106_zorder_layout" -> q106Sql,
    "q107_triangle_count" -> q107Sql,
    "q108_retention_cohorts" -> q108Sql,
    "q111_table_stats" -> q111Sql,
    "q178_cbo_broadcast" -> q178Sql,
    "q115_pagerank" -> q115Sql,
    "q150_label_prop" -> q150Sql,
    "q120_skew_profile" -> q120Sql,
    "q151_count_min" -> q151Sql,
    "q152_bm25" -> q152Sql,
    "q157_hll_exact" -> q157Sql,
    "q160_ols_trend" -> q160Sql,
    "q161_skyline" -> q161Sql,
    "q164_bfs_distances" -> q164Sql,
    "q188_recursive_cte" -> q188Sql,
    "q167_bitmap_index" -> q167Sql,
    "q170_exact_quantiles" -> q170Sql,
    "q129_kcore" -> q129Sql,
    "q134_hybrid_rrf" -> q134Sql,
    "q140_zorder_pruned_scan" -> q140Sql,
    "q146_compaction_exec" -> q146Sql,
  )
}
