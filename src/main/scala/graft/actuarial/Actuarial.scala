package graft.actuarial

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t
import graft.functions.ReserveTrial.{reserve_mean, reserve_trial}
import graft.ops.Num._

/** A policy row — canonical input schema of the reference system
  * (docker_files/src/main.rs:14-25): 9 columns, dates kept as strings,
  * money as doubles, exactly as the reference parses them.
  */
case class Policy(
    id: String,
    age: Double,
    gender: String,
    smoking_status: String,
    occupation: String,
    policy_type: String,
    effective_date: String,
    term: Double,
    premium: Double)

/** A claim row — declared but dormant in the reference
  * (docker_files/src/main.rs:27-32); a real capability here.
  */
case class Claim(policy_id: String, claim_amount: Double, claim_date: String)

/** Derived policy view row (the testdata-backed policy shape). */
case class PolicyLite(id: String, policy_type: String, term: Double, premium: Double)

/** Per-type stats produced by the typed mapGroups path. */
case class PolicyTypeStats(
    policy_type: String, n: Long, min_term: Double, max_term: Double, avg_term: Double)

/** Actuarial reserve estimation — the reference's whole computation
  * (SURVEY.md §0, §2.4) re-expressed as declarative Spark plans.
  *
  * Reference semantics: per file of policies, run `nSims` Monte Carlo
  * trials; per policy-trial draw `n ~ floor(Exp(mean term/365))` claims
  * (main.rs:67,70) each of severity `Normal(100, 10)` (main.rs:71); the
  * per-file result is the over-trials average of the summed severities
  * (main.rs:80), and the global result is the SUM of per-file averages —
  * not a global average (calculate_average_reserves.py:27-35).
  *
  * Scale design: instead of exploding `trials × policies × claims` rows,
  * two exact distribution identities collapse the draws. The sum of n
  * i.i.d. Normal(100,10) severities is Normal(100·n, 10·√n) (SURVEY.md
  * §7.3 M5), and the claim counts of the policies sharing a term sum to
  * one negative-binomial draw. One codegen'd native call per policy type
  * then draws and averages all of its trials.
  */
object Actuarial {

  /** Reference work assignment (entrypoint.sh:4-11): files sorted, B =
    * ceil(N/W), worker i takes `files[i·B, i·B+B)`. Trailing slices may be
    * short or empty; slices partition the input exactly. In Spark this
    * degenerates to file-split planning — kept as a library function (and
    * property-tested) because it defines the reference's scan order contract.
    */
  def partitionPlan[T](files: Seq[T], workers: Int): Seq[Seq[T]] = {
    require(workers > 0, "workers must be positive")
    val b = if (files.isEmpty) 0 else (files.size + workers - 1) / workers
    (0 until workers).map(i => files.slice(i * b, i * b + b))
  }

  /** Reference CSV schema (positional, header skipped — main.rs:49-53). */
  val policySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("age", DoubleType),
    StructField("gender", StringType),
    StructField("smoking_status", StringType),
    StructField("occupation", StringType),
    StructField("policy_type", StringType),
    StructField("effective_date", StringType),
    StructField("term", DoubleType),
    StructField("premium", DoubleType)))

  /** Derived once: a product encoder walks the case class by reflection. */
  private lazy val policyEncoder: Encoder[Policy] = Encoders.product[Policy]

  /** CSV scan with the reference's fail-on-malformed stance (main.rs:51
    * panics on a bad row; FAILFAST is the Spark equivalent).
    */
  def readPolicies(spark: SparkSession, path: String): Dataset[Policy] =
    spark.read.schema(policySchema)
      .option("header", "true").option("mode", "FAILFAST")
      .csv(path).as(policyEncoder)

  /** Deterministic policy-shaped view over the driver testdata (FIXTURES.md
    * §B): each order is a policy with a 1–10 year term derived from its key.
    */
  def policiesFromOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").cast("string").as("id"),
      col("o_orderpriority").as("policy_type"),
      (lit(365.0) * (lit(1.0) + (col("o_orderkey") % 10).cast("double"))).as("term"),
      col("o_totalprice").as("premium"))

  /** Claims view over lineitem — the resurrected dormant claims table. */
  def claimsFromLineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey").cast("string").as("policy_id"),
      (col("l_extendedprice") / 100.0).as("claim_amount"),
      col("l_shipdate").cast("string").as("claim_date"))

  /** Closed-form expected reserves per policy:
    * E[Σ_{j=1..⌊Exp(mean m)⌋} N(100,10)] = 100·E[⌊Exp(m)⌋] = 100/(e^{1/m}−1)
    * with m = term/365 (SURVEY.md §2.4 identity). A pure column expression —
    * the deterministic oracle twin of the Monte Carlo simulation.
    */
  def expectedReservePerPolicy: org.apache.spark.sql.Column =
    lit(100.0) / (exp(lit(365.0) / col("term")) - lit(1.0))

  // ---- q20: expected reserves by policy type (deterministic twin) ---------
  def q20ExpectedReserves(s: SparkSession, dir: String): DataFrame =
    policiesFromOrders(s, dir)
      .groupBy("policy_type")
      .agg(
        count(lit(1)).as("n_policies"),
        dsum6(expectedReservePerPolicy).as("expected_reserves"))
      .orderBy("policy_type")

  val q20Sql: String =
    s"""SELECT o_orderpriority AS policy_type, COUNT(*) AS n_policies,
       |  ${sqlDsum6("100.0 / (EXP(365.0 / (365.0 * (1.0 + (o_orderkey % 10)))) - 1.0)")} AS expected_reserves
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY policy_type""".stripMargin

  /** Seeded Monte Carlo reserve simulation (rows-only check — stochastic):
    * per policy type, the over-`nSims`-trials average of the summed claim
    * severities.
    *
    * Stratified: a type's policies fall into strata of equal term, and a
    * stratum of c policies draws its trial claim count as one exact
    * NegativeBinomial(c, 1−q) variate — the sum of its c per-policy
    * Geometric(1−q) = ⌊Exp(365/term)⌋ draws (see
    * [[graft.functions.ReserveTrial]]). Plan:
    *   1. one hash exchange on policy_type (the plan's one shuffle) and
    *      a `groupBy(policy_type)` over it collect each type's valid
    *      terms — pinned to the session's shuffle parallelism by
    *      [[graft.Tables.barrier]], since AQE would otherwise coalesce the
    *      handful of type rows, and so every type's kernel, into one task;
    *   2. `reserve_mean` builds that type's strata once and runs all
    *      `nSims` trials in one codegen'd call, trial `sim` keyed on
    *      seed ⊕ xxhash64(policy_type, sim).
    * Work scales with strata × trials, not policies × trials, and every
    * draw is a function of its type and trial, so the result is
    * bit-identical at any partition count: it equals the exact `dsum6`
    * average of the row-level [[trials]].
    */
  def simulateReserves(policies: DataFrame, nSims: Int, seed: Long): DataFrame = {
    require(nSims > 0, "nSims must be positive")
    terms(policies).select(col("policy_type"),
      reserve_mean(col("terms"), xxhash64(col("policy_type")), nSims, seed).as("mc_reserves"))
  }

  /** The (policy_type, sim, trial_reserves) rows [[simulateReserves]]
    * averages, one per trial: exactly trials 1..nSims per type with a
    * valid policy, each drawn by the same per-trial function.
    */
  def trials(policies: DataFrame, nSims: Int, seed: Long): DataFrame = {
    require(nSims > 0, "nSims must be positive")
    terms(policies)
      .select(col("policy_type"), col("terms"), explode(sequence(lit(1), lit(nSims))).as("sim"))
      .select(col("policy_type"), col("sim"),
        reserve_trial(col("terms"),
          xxhash64(col("policy_type"), col("sim")).bitwiseXOR(lit(seed))).as("trial_reserves"))
  }

  /** Per policy type, the `terms` of its valid policies. term ≤ 0 and a
    * non-finite term panic the reference worker (main.rs:67, Exp::new of
    * a non-positive or non-finite rate); here such rows are excluded up
    * front — an analysis-level guard instead of a runtime crash (SURVEY.md
    * §7.5). Spark orders NaN above +∞, so `< ∞` drops both.
    */
  private def terms(policies: DataFrame): DataFrame =
    graft.Tables.barrier(
        policies.filter(col("term") > 0 && col("term") < Double.PositiveInfinity),
        col("policy_type"))
      .groupBy("policy_type")
      .agg(collect_list(col("term")).as("terms"))

  // ---- q21: Monte Carlo vs closed form by policy type (rows-only) ---------
  def q21McReserves(s: SparkSession, dir: String): DataFrame = {
    val p = policiesFromOrders(s, dir)
    val mc = simulateReserves(p, nSims = 200, seed = 42L)
    val ex = p.groupBy("policy_type")
      .agg(sum(expectedReservePerPolicy).as("expected_reserves"))
    mc.join(ex, "policy_type")
      .select(col("policy_type"), col("mc_reserves"), col("expected_reserves"),
        (abs(col("mc_reserves") - col("expected_reserves")) / col("expected_reserves"))
          .as("rel_err"))
      .orderBy("policy_type")
  }

  /** The reference's own workload size (main.rs:10): NUM_SIMULATIONS =
    * 10_000 trials per policy.
    */
  val referenceNumSimulations: Int = 10000

  // ---- q36: Monte Carlo at the REFERENCE trial count (rows-only) ----------
  // Identical pipeline to q21 but at the reference's 10,000 trials — the
  // configuration the original system actually ran. The trials loop lives
  // inside each type's one `reserve_mean` call, so 50× more trials is 50×
  // more draws in the same per-type kernel: no new rows, no new shuffle,
  // no driver involvement, which is why the reference scale is just a
  // parameter here and not a different plan.
  def q36McReferenceScale(s: SparkSession, dir: String): DataFrame = {
    val p = policiesFromOrders(s, dir)
    val mc = simulateReserves(p, nSims = referenceNumSimulations, seed = 42L)
    val ex = p.groupBy("policy_type")
      .agg(sum(expectedReservePerPolicy).as("expected_reserves"))
    mc.join(ex, "policy_type")
      .select(col("policy_type"), col("mc_reserves"), col("expected_reserves"),
        (abs(col("mc_reserves") - col("expected_reserves")) / col("expected_reserves"))
          .as("rel_err"))
      .orderBy("policy_type")
  }

  // ---- q22: policies ⋈ claims (the resurrected dead hash join) ------------
  // The reference built a HashMap build side and never probed it
  // (main.rs:56-59); here it is the real thing — policies are the small
  // side, broadcast under the hood by the join below at realistic scales.
  def q22PolicyClaims(s: SparkSession, dir: String): DataFrame = {
    val p = policiesFromOrders(s, dir)
    val c = claimsFromLineitem(s, dir)
    c.join(p, c("policy_id") === p("id"))
      .groupBy("policy_type")
      .agg(
        countDistinct(col("id")).as("n_policies"),
        count(lit(1)).as("n_claims"),
        dsum(col("claim_amount")).as("total_claims"),
        davg(col("claim_amount")).as("avg_claim"))
      .orderBy("policy_type")
  }

  val q22Sql: String =
    s"""SELECT o_orderpriority AS policy_type,
       |  COUNT(DISTINCT o_orderkey) AS n_policies,
       |  COUNT(*) AS n_claims,
       |  ${sqlDsum("l_extendedprice / 100.0")} AS total_claims,
       |  ${sqlDavg("l_extendedprice / 100.0")} AS avg_claim
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY policy_type""".stripMargin

  // ---- q23: two-level gather — SUM of per-group averages ------------------
  // The reference's exact combine shape: per-file AVG in the worker, SUM of
  // those averages in the Lambda (SURVEY.md §2.4 "naming trap": it is a sum
  // of averages, NOT a global average). Groups stand in for files.
  def q23GatherSumOfAvgs(s: SparkSession, dir: String): DataFrame =
    policiesFromOrders(s, dir)
      .groupBy("policy_type")
      .agg((dsum6(expectedReservePerPolicy) / count(lit(1))).as("avg_reserves"))
      .agg(
        dsum6(col("avg_reserves")).as("total_reserves"),
        count(lit(1)).as("n_groups"))

  val q23Sql: String =
    s"""SELECT ${sqlDsum6("avg_reserves")} AS total_reserves, COUNT(*) AS n_groups
       |FROM (
       |  SELECT ${sqlDsum6("100.0 / (EXP(365.0 / (365.0 * (1.0 + (o_orderkey % 10)))) - 1.0)")} / COUNT(*) AS avg_reserves
       |  FROM orders
       |  GROUP BY o_orderpriority) g""".stripMargin

  // ---- q24: CSV round-trip through the reference's 9-column schema --------
  // Exercises the reference's actual I/O format end-to-end: a full policy
  // table is written as header CSV (the scalar-text/CSV sink family) and
  // re-read via the FAILFAST positional scan, then aggregated. The oracle
  // computes the same result straight from orders — equality proves the
  // round trip is lossless (shortest-repr double writes parse back exact).
  def q24CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val full = t(s, dir, "orders").select(
      concat(lit("P-"), col("o_orderkey")).as("id"),
      (lit(20.0) + (col("o_orderkey") % 50).cast("double")).as("age"),
      when(col("o_orderkey") % 2 === 0, "F").otherwise("M").as("gender"),
      when(col("o_orderkey") % 3 === 0, "smoker").otherwise("non-smoker").as("smoking_status"),
      lit("engineer").as("occupation"),
      col("o_orderpriority").as("policy_type"),
      col("o_orderdate").cast("date").cast("string").as("effective_date"),
      (lit(365.0) * (lit(1.0) + (col("o_orderkey") % 10).cast("double"))).as("term"),
      col("o_totalprice").as("premium"))
    val tmp = graft.TempDirs.staged(s"csv_roundtrip:$dir")().toString
    // Measured sf0.1 note: writing through a repartition(32) (file-per-core
    // layout) costs MORE here than the single-split write+parse — the
    // shuffle plus 32-file task overhead dominates a ~10 MB table, and the
    // steady-state single-split round-trip is ~1 s. At real scale the
    // source table arrives in many parquet splits and the same code writes
    // file-per-task with no repartition needed.
    full.write.mode("overwrite").option("header", "true").csv(tmp)
    readPolicies(s, tmp).groupBy("policy_type")
      .agg(
        count(lit(1)).as("n_policies"),
        dsum(col("premium")).as("total_premium"),
        dsum6(expectedReservePerPolicy).as("expected_reserves"))
      .orderBy("policy_type")
  }

  val q24Sql: String =
    s"""SELECT o_orderpriority AS policy_type, COUNT(*) AS n_policies,
       |  ${sqlDsum("o_totalprice")} AS total_premium,
       |  ${sqlDsum6("100.0 / (EXP(365.0 / (365.0 * (1.0 + (o_orderkey % 10)))) - 1.0)")} AS expected_reserves
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY policy_type""".stripMargin

  /** Claims CSV scan — the dormant claims table (main.rs:27-32) as a real
    * source, same FAILFAST positional contract as policies.
    */
  def readClaims(spark: SparkSession, path: String): Dataset[Claim] = {
    import spark.implicits._
    spark.read
      .schema(StructType(Seq(
        StructField("policy_id", StringType),
        StructField("claim_amount", DoubleType),
        StructField("claim_date", StringType))))
      .option("header", "true").option("mode", "FAILFAST")
      .csv(path).as[Claim]
  }

  /** The worker's idempotent partial sink (entrypoint.sh:24-28): write one
    * scalar per name under `dir`, skipping names whose output already
    * exists — a rerun never rewrites completed work units.
    * Returns the names actually written.
    */
  def writePartials(partials: Seq[(String, Double)], dir: java.nio.file.Path): Seq[String] =
    partials.flatMap { case (name, v) =>
      val target = dir.resolve(s"$name.txt")
      if (java.nio.file.Files.exists(target)) None // idempotent skip
      else {
        java.nio.file.Files.writeString(target, v.toString)
        Some(name)
      }
    }

  /** The reference's gather-stage source (calculate_average_reserves.py:
    * 28-34): read every `*.txt` object under a prefix, skip empty ones,
    * parse each as one float. Non-txt and zero-byte files are filtered
    * exactly as the Lambda does.
    */
  def readPartials(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("pathGlobFilter", "*.txt")
      .text(dir)
      .filter(length(trim(col("value"))) > 0)
      .select(trim(col("value")).cast("double").as("partial"))

  // ---- q28: scalar-text gather round-trip (reference entry point C) ------
  // Per-group average reserves are written one-scalar-per-file (the
  // worker's sink format, main.rs:81), decoy files are planted (zero-byte
  // .txt, a non-txt file — both must be skipped, py:29-31), then the gather
  // source reads the partials back and sums them. The oracle computes the
  // same sum directly — equality proves sink, filters, and source.
  def q28TextGather(s: SparkSession, dir: String): DataFrame = {
    val perGroup = policiesFromOrders(s, dir)
      .groupBy("policy_type")
      .agg((dsum6(expectedReservePerPolicy) / count(lit(1))).as("avg_reserves"))
      .collect() // 1 row per group — the reference's file-per-partial layout
    // one staged dir per sf dir per JVM; partial writes below overwrite,
    // so reruns are self-consistent and nothing accumulates
    val out = graft.TempDirs.staged(s"text_gather:$dir")()
    perGroup.foreach { r =>
      java.nio.file.Files.writeString(
        out.resolve(s"${r.getString(0).replace(' ', '_')}.txt"),
        r.getDouble(1).toString) // no newline, like main.rs:81
    }
    java.nio.file.Files.writeString(out.resolve("empty.txt"), "") // must be skipped
    java.nio.file.Files.writeString(out.resolve("decoy.csv"), "999999") // must be skipped
    readPartials(s, out.toString)
      .agg(
        dsum6(col("partial")).as("total_reserves"),
        count(lit(1)).as("n_partials"))
  }

  val q28Sql: String =
    s"""SELECT ${sqlDsum6("avg_reserves")} AS total_reserves, COUNT(*) AS n_partials
       |FROM (
       |  SELECT ${sqlDsum6("100.0 / (EXP(365.0 / (365.0 * (1.0 + (o_orderkey % 10)))) - 1.0)")} / COUNT(*) AS avg_reserves
       |  FROM orders
       |  GROUP BY o_orderpriority) g""".stripMargin

  /** Expected reserves as a user-facing typed Aggregator (§2.8's
    * `Aggregator[IN, BUF, OUT]` surface). The buffer is exact micro-units
    * (each per-policy value rounded to 6 decimals via the same BigDecimal
    * path Spark's round() uses, then summed as Long), so the result is
    * merge-order-independent and equals the SQL `dsum6` oracle bitwise.
    */
  object ExpectedReservesAgg
      extends org.apache.spark.sql.expressions.Aggregator[PolicyLite, Long, Double] {
    override def zero: Long = 0L
    override def reduce(micros: Long, p: PolicyLite): Long = {
      val expected = 100.0 / (math.exp(365.0 / p.term) - 1.0)
      micros + java.math.BigDecimal.valueOf(expected)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    }
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(micros: Long): Double = micros.toDouble / 1e6
    override def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  // ---- q35: typed Aggregator over a KeyValueGroupedDataset ----------------
  def q35TypedAggregator(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    policiesFromOrders(s, dir).as[PolicyLite]
      .groupByKey(_.policy_type)
      .agg(ExpectedReservesAgg.toColumn.name("expected_reserves"))
      .toDF("policy_type", "expected_reserves")
      .orderBy("policy_type")
  }

  val q35Sql: String =
    s"""SELECT o_orderpriority AS policy_type,
       |  ${sqlDsum6("100.0 / (EXP(365.0 / (365.0 * (1.0 + (o_orderkey % 10)))) - 1.0)")} AS expected_reserves
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY policy_type""".stripMargin

  // ---- q69: the typed Dataset surface (groupByKey + mapGroups) ------------
  // Compile-time-checked row types and an imperative per-group kernel —
  // the KeyValueGroupedDataset API. Term days are whole numbers, so the
  // Long accumulation is exact in any iteration order and the result stays
  // oracle-deterministic despite the imperative fold.
  def q69TypedGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    policiesFromOrders(s, dir).as[PolicyLite]
      .groupByKey(_.policy_type)
      .mapGroups { (k, it) =>
        var n = 0L
        var mn = Double.MaxValue
        var mx = Double.MinValue
        var sumDays = 0L
        it.foreach { p =>
          n += 1
          mn = math.min(mn, p.term)
          mx = math.max(mx, p.term)
          sumDays += p.term.toLong
        }
        PolicyTypeStats(k, n, mn, mx, sumDays.toDouble / n)
      }
      .toDF()
      .orderBy("policy_type")
  }

  val q69Sql: String =
    """SELECT o_orderpriority AS policy_type, COUNT(*) AS n,
      |  MIN(365.0 * (1.0 + (o_orderkey % 10))) AS min_term,
      |  MAX(365.0 * (1.0 + (o_orderkey % 10))) AS max_term,
      |  CAST(SUM(CAST(365.0 * (1.0 + (o_orderkey % 10)) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_term
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY policy_type""".stripMargin

  // -------------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_expected_reserves" -> q20ExpectedReserves _,
    "q21_mc_reserves" -> q21McReserves _,
    "q22_policy_claims_join" -> q22PolicyClaims _,
    "q23_gather_sum_of_avgs" -> q23GatherSumOfAvgs _,
    "q24_csv_roundtrip" -> q24CsvRoundtrip _,
    "q28_text_gather" -> q28TextGather _,
    "q35_typed_aggregator" -> q35TypedAggregator _,
    "q36_mc_reference_scale" -> q36McReferenceScale _,
    "q69_typed_groups" -> q69TypedGroups _,
  )

  val oracle: Map[String, String] = Map(
    "q20_expected_reserves" -> q20Sql,
    "q22_policy_claims_join" -> q22Sql,
    "q23_gather_sum_of_avgs" -> q23Sql,
    "q24_csv_roundtrip" -> q24Sql,
    "q28_text_gather" -> q28Sql,
    "q35_typed_aggregator" -> q35Sql,
    "q69_typed_groups" -> q69Sql,
  )
}
