package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

import graft.actuarial.Actuarial

class ActuarialSpec extends SparkSpec {

  /** Tiny policy CSV fixture (FIXTURES.md §A.1 schema + golden value). */
  private lazy val policyCsv: String = {
    val dir = Files.createTempDirectory("graft_policies_")
    val rows =
      """id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium
        |P-0001,34.0,F,non-smoker,engineer,term-life,2020-01-15,3650.0,120.50
        |P-0002,51.0,M,smoker,teacher,whole-life,2018-06-01,7300.0,310.00
        |""".stripMargin
    Files.writeString(dir.resolve("policy_1.csv"), rows)
    dir.toString
  }

  test("readPolicies parses the reference CSV schema") {
    val ds = Actuarial.readPolicies(spark, policyCsv)
    val rows = ds.collect().sortBy(_.id)
    assert(rows.length == 2)
    assert(rows(0).id == "P-0001" && rows(0).term == 3650.0)
    assert(rows(1).premium == 310.0)
  }

  test("closed-form expected reserves matches the FIXTURES.md golden value") {
    val expected = Actuarial.readPolicies(spark, policyCsv).toDF()
      .agg(sum(Actuarial.expectedReservePerPolicy)).first().getDouble(0)
    // 100/(e^0.1−1) + 100/(e^0.05−1) ≈ 950.83 + 1950.42 ≈ 2901.25
    assert(math.abs(expected - 2901.25) < 0.01, s"got $expected")
  }

  test("seeded Monte Carlo lands within a CLT band of the closed form") {
    val p = Actuarial.policiesFromOrders(spark, sf)
    val mc = Actuarial.simulateReserves(p, nSims = 300, seed = 7L)
      .agg(sum("mc_reserves")).first().getDouble(0)
    val exact = p.agg(sum(Actuarial.expectedReservePerPolicy)).first().getDouble(0)
    // loose 5σ-style band: MC avg over 300 trials of ~1500 policies
    assert(math.abs(mc - exact) / exact < 0.05,
      s"mc=$mc exact=$exact relerr=${math.abs(mc - exact) / exact}")
  }

  test("reference-scale 10k-trial Monte Carlo tightens to a 1% CLT band") {
    // main.rs:10 pins NUM_SIMULATIONS = 10_000 — the workload size the
    // reference actually ran. Error ∝ 1/√nSims: the 300-trial spec above
    // uses 5%; 10k trials supports ~5σ at 1%.
    val p = Actuarial.policiesFromOrders(spark, sf)
    val mc = Actuarial.simulateReserves(
        p, nSims = Actuarial.referenceNumSimulations, seed = 7L)
      .agg(sum("mc_reserves")).first().getDouble(0)
    val exact = p.agg(sum(Actuarial.expectedReservePerPolicy)).first().getDouble(0)
    assert(math.abs(mc - exact) / exact < 0.01,
      s"mc=$mc exact=$exact relerr=${math.abs(mc - exact) / exact}")
  }

  test("sum-of-averages gather is NOT a global average (SURVEY §2.4 trap)") {
    val df = Actuarial.q23GatherSumOfAvgs(spark, sf)
    val sumOfAvgs = df.first().getDouble(0)
    val p = Actuarial.policiesFromOrders(spark, sf)
    val globalAvg = p.agg(avg(Actuarial.expectedReservePerPolicy)).first().getDouble(0)
    assert(sumOfAvgs > globalAvg * 2, "sum over groups must exceed any single average")
  }

  test("partitionPlan reproduces the reference slice semantics exactly") {
    val prop = forAll(Gen.chooseNum(0, 200), Gen.chooseNum(1, 24)) { (n: Int, w: Int) =>
      val files = (0 until n).map(i => f"policy_$i%04d.csv")
      val plan = Actuarial.partitionPlan(files, w)
      plan.length == w &&
        plan.flatten == files && // disjoint cover, original order
        plan.forall(_.length <= math.ceil(n.toDouble / w).toInt)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(200))
    assert(res.passed, res.status.toString)
  }

  test("claims CSV scan parses the dormant reference schema (FIXTURES A.2)") {
    val dir = Files.createTempDirectory("graft_claims_")
    Files.writeString(dir.resolve("claims.csv"),
      "policy_id,claim_amount,claim_date\nP-0001,120.50,2021-03-01\nP-0002,88.25,2021-04-02\n")
    val rows = Actuarial.readClaims(spark, dir.toString).collect().sortBy(_.policy_id)
    assert(rows.length == 2 && rows(0).claim_amount == 120.5
      && rows(1).claim_date == "2021-04-02")
  }

  test("writePartials skips existing outputs (idempotent rerun, entrypoint.sh:24-28)") {
    val dir = Files.createTempDirectory("graft_partials_idem_")
    val first = Actuarial.writePartials(Seq("a" -> 1.5, "b" -> 2.5), dir)
    assert(first == Seq("a", "b"))
    Files.writeString(dir.resolve("a.txt"), "999.0") // simulate completed work
    val rerun = Actuarial.writePartials(Seq("a" -> 1.5, "b" -> 2.5, "c" -> 3.5), dir)
    assert(rerun == Seq("c"), "existing outputs must be skipped, new ones written")
    assert(Files.readString(dir.resolve("a.txt")) == "999.0", "skip must not rewrite")
    val total = Actuarial.readPartials(spark, dir.toString)
      .agg(org.apache.spark.sql.functions.sum("partial")).first().getDouble(0)
    assert(total == 999.0 + 2.5 + 3.5)
  }

  test("term <= 0 policies are excluded, not a crash (reference panics)") {
    import spark.implicits._
    val p = Seq(
      ("P-1", "t", 3650.0, 1.0),
      ("P-2", "t", 0.0, 1.0), // reference: Exp::new panics
      ("P-3", "t", -10.0, 1.0))
      .toDF("id", "policy_type", "term", "premium")
    val out = Actuarial.simulateReserves(p, nSims = 10, seed = 1L).collect()
    assert(out.length == 1) // only the valid policy's group
    assert(out(0).getDouble(1) >= 0.0)
  }

  test("non-finite terms are excluded like term <= 0, not a failed or null type total") {
    // Spark's CSV reader parses NaN and Inf; the reference panics on both
    // (Exp::new of a non-finite rate)
    val dir = Files.createTempDirectory("graft_policies_nonfinite_")
    Files.writeString(dir.resolve("policy_1.csv"),
      """id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium
        |P-1,34.0,F,non-smoker,engineer,t,2020-01-15,3650.0,1.0
        |P-2,34.0,F,non-smoker,engineer,t,2020-01-15,NaN,1.0
        |P-3,34.0,F,non-smoker,engineer,t,2020-01-15,Inf,1.0
        |P-4,51.0,M,smoker,teacher,u,2018-06-01,730.0,1.0
        |""".stripMargin)
    val all = Actuarial.readPolicies(spark, dir.toString).toDF()
    assert(all.filter(isnan(col("term")) || col("term") === Double.PositiveInfinity).count() == 2)
    def run(p: org.apache.spark.sql.DataFrame) =
      Actuarial.simulateReserves(p, nSims = 10, seed = 1L).collect()
        .map(r => r.getString(0) -> r.get(1)).toMap
    val got = run(all)
    assert(got == run(all.filter(col("id").isin("P-1", "P-4"))))
    assert(got("t") != null && java.lang.Double.isFinite(got("t").asInstanceOf[Double]), got)
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("each type gets trials 1..nSims exactly once, whatever nSims vs the partitions") {
    val p = Actuarial.policiesFromOrders(spark, sf)
    val nTypes = p.select("policy_type").distinct().count()
    withShufflePartitions(4) {
      // fewer sims than partitions, an uneven split, and a larger uneven one
      Seq(1, 3, 10001).foreach { nSims =>
        val perType = Actuarial.trials(p, nSims, seed = 3L)
          .groupBy("policy_type")
          .agg(count(lit(1)), countDistinct(col("sim")), min(col("sim")), max(col("sim")))
          .collect()
        assert(perType.length == nTypes)
        perType.foreach { r =>
          assert(r.getLong(1) == nSims && r.getLong(2) == nSims &&
            r.getInt(3) == 1 && r.getInt(4) == nSims, s"nSims=$nSims: $r")
        }
      }
    }
  }

  test("seeded Monte Carlo is bit-identical at any shuffle partition count") {
    val p = Actuarial.policiesFromOrders(spark, sf)
    def run(n: Int) = withShufflePartitions(n) {
      Actuarial.simulateReserves(p, nSims = 500, seed = 9L).collect()
        .map(r => (r.getString(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
        .sortBy(_._1).toSeq
    }
    val four = run(4)
    assert(four.nonEmpty)
    assert(run(1) == four && run(3) == four)
  }

  test("simulateReserves is the exact dsum6 average of the row-level trials") {
    val p = Actuarial.policiesFromOrders(spark, sf)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      .sortBy(_._1).toSeq
    Seq(1, 3, 4).foreach { parts =>
      withShufflePartitions(parts) {
        Seq(1, 3, 500, 10001).foreach { nSims =>
          val kernel = bits(Actuarial.simulateReserves(p, nSims, seed = 5L))
          val rows = bits(Actuarial.trials(p, nSims, seed = 5L).groupBy("policy_type")
            .agg((graft.ops.Num.dsum6(col("trial_reserves")) / nSims).as("mc_reserves")))
          assert(kernel.nonEmpty && kernel == rows, s"nSims=$nSims partitions=$parts")
        }
      }
    }
  }

  test("N < W leaves trailing workers empty (entrypoint.sh edge)") {
    val plan = Actuarial.partitionPlan(Seq("a", "b", "c"), 5)
    assert(plan.take(3).forall(_.length == 1) && plan.drop(3).forall(_.isEmpty))
  }
}
