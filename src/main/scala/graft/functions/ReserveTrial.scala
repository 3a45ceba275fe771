package graft.functions

import org.apache.commons.math3.special.Gamma

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{colToExpr, exprToColumn, AbstractDataType}
import org.apache.spark.sql.types._

/** One Monte Carlo reserve trial of a policy group, drawn stratum by
  * stratum: the row-level claim-count kernel of
  * [[graft.actuarial.Actuarial.trials]].
  *
  * Per policy the reference draws `⌊Exp(rate 365/term)⌋` claims
  * (docker_files/src/main.rs:67,70), which is Geometric(1−q) with
  * q = e^{−365/term}; the sum over the c policies of one term is then
  * NegativeBinomial(c, 1−q). So one trial needs one draw per stratum
  * (distinct term), not one per policy: the group's `terms` (one per
  * policy, any order) are run-length encoded into strata (term, c,
  * theta = q/(1−q) = 1/(e^{365/term} − 1)), each stratum draws an exact
  * NB(c, 1−q) count, the counts sum to N, and the trial's value is its
  * total severity 100·N + 10·√N·z, z ~ N(0,1) (Σ of N i.i.d.
  * Normal(100, 10) severities, in closed form).
  *
  * A stratum's count is drawn by inversion of its exact pmf through a
  * guide table: one uniform per stratum per trial. The table runs from 0
  * until the terms stop moving the CDF (under 1e-16 of tail mass left; a
  * uniform above it is redrawn). A stratum whose table does not work —
  * (1−q)^c = P(N = 0) is not a normal double, or the table would pass
  * [[ReserveTrial.MaxTableCells]] — draws Poisson(Gamma(c, theta))
  * instead. Either draw is exact.
  *
  * The draws come from a xorshift64* stream seeded by `key` alone, so
  * the value is a pure function of its row: callers key it on row
  * identity (seed ⊕ xxhash64 of the group and trial) and the result does
  * not depend on partitioning. The prepared tables are kept while
  * consecutive rows carry the same terms.
  */
case class ReserveTrial(terms: Expression, key: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = terms
  override def right: Expression = key
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), LongType)

  @transient private var prepared: ReserveSampler = _

  override def nullSafeEval(t: Any, k: Any): Any = {
    prepared = ReserveTrial.sampler(prepared, t.asInstanceOf[ArrayData])
    prepared.trial(k.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addMutableState(classOf[ReserveSampler].getName, "reserveSampler")
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"""$st = graft.functions.ReserveTrial.sampler($st, $t);
         |${ev.value} = $st.trial($k);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ReserveTrial =
    copy(terms = newLeft, key = newRight)
}

/** Every trial of one policy group in one call: the mean over trials
  * 1..`nSims` of [[ReserveTrial]]'s value, trial `sim` keyed on
  * `XXH64.hashInt(sim, typeKey) ^ seed` — the key `xxhash64(group, sim)
  * ^ seed` gives when `typeKey` is `xxhash64(group)`. The strata are
  * prepared once per call. Each trial is summed as `round(v, 6)` in exact
  * micro-units, so the value equals `dsum6(trial) / nSims` over the
  * row-level trials bit for bit; like that sum it is null when the
  * trials are NaN (a stratum's theta is not finite).
  */
case class ReserveMean(terms: Expression, typeKey: Expression, nSims: Int, seed: Long)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = terms
  override def right: Expression = typeKey
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), LongType)

  override def nullSafeEval(t: Any, k: Any): Any = {
    val m = ReserveTrial.mean(t.asInstanceOf[ArrayData], k.asInstanceOf[Long], nSims, seed)
    if (m.isNaN) null else m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"""${ev.value} = graft.functions.ReserveTrial.mean($t, $k, $nSims, ${seed}L);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ReserveMean =
    copy(terms = newLeft, typeKey = newRight)
}

/** One group's strata, prepared from its sorted `terms`: a count draw
  * per distinct term.
  */
final class ReserveSampler(val terms: Array[Double]) {
  import ReserveTrial._

  private val draws: Array[Draw] = {
    val out = Array.newBuilder[Draw]
    var from = 0
    while (from < terms.length) {
      var until = from + 1
      while (until < terms.length && terms(until) == terms(from)) until += 1
      val theta = 1.0 / math.expm1(365.0 / terms(from))
      // a non-finite theta makes every trial NaN
      out += (if (theta < Double.PositiveInfinity) stratum(until - from, theta) else null)
      from = until
    }
    out.result()
  }
  private val finite = !draws.contains(null)

  /** One trial's total severity over all strata; NaN when a stratum's
    * theta is not finite.
    */
  def trial(key: Long): Double = {
    if (!finite) return Double.NaN
    val r = new Stream(key)
    var claims = 0L
    var i = 0
    while (i < draws.length) { claims += draws(i).next(r); i += 1 }
    100.0 * claims + 10.0 * math.sqrt(claims.toDouble) * r.nextGaussian()
  }

  /** `dsum6` of trials 1..nSims divided by nSims; NaN when not finite. */
  def mean(typeKey: Long, nSims: Int, seed: Long): Double = {
    if (!finite) return Double.NaN
    // exact micro-unit sum; a long overflow spills into `big`
    var acc = 0L
    var big = java.math.BigInteger.ZERO
    var sim = 1
    while (sim <= nSims) {
      val m = micros(trial(XXH64.hashInt(sim, typeKey) ^ seed))
      val s = acc + m
      if (((acc ^ s) & (m ^ s)) < 0) { big = big.add(java.math.BigInteger.valueOf(acc)); acc = m }
      else acc = s
      sim += 1
    }
    new java.math.BigDecimal(big.add(java.math.BigInteger.valueOf(acc)), 6).doubleValue / nSims
  }
}

object ReserveTrial {

  /** Cells past which a stratum's pmf is not tabulated. */
  final val MaxTableCells: Int = 1 << 16

  /** xorshift64* (the [[RandExponential]] generator) with a Marsaglia
    * polar gaussian that keeps its spare.
    */
  final class Stream(key: Long) {
    private var s = RandExponential.mixSeed(key)
    private var spare = 0.0
    private var hasSpare = false

    def nextDouble(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      ((s * 0x2545F4914F6CDD1DL) >>> 11) * RandExponential.DoubleUnit
    }

    def nextGaussian(): Double =
      if (hasSpare) { hasSpare = false; spare }
      else {
        var x, y, r = 0.0
        while ({
          x = 2.0 * nextDouble() - 1.0
          y = 2.0 * nextDouble() - 1.0
          r = x * x + y * y
          r >= 1.0 || r == 0.0
        }) ()
        val f = math.sqrt(-2.0 * math.log(r) / r)
        spare = y * f
        hasSpare = true
        x * f
      }
  }

  /** A stratum's NegativeBinomial(n, 1−q) count sampler. */
  sealed abstract class Draw { def next(r: Stream): Long }

  /** Inversion of the tabulated CDF: `guide(j)` is the first cell whose
    * CDF reaches j/cells, so a lookup scans about one cell.
    */
  final class Guided(cdf: Array[Double]) extends Draw {
    private val top = cdf(cdf.length - 1)
    private val guide: Array[Int] = {
      val g = new Array[Int](cdf.length)
      var k = 0
      var j = 0
      while (j < g.length) {
        while (k < cdf.length - 1 && cdf(k) < j.toDouble / g.length) k += 1
        g(j) = k
        j += 1
      }
      g
    }

    def next(r: Stream): Long = {
      while (true) {
        val u = r.nextDouble()
        if (u <= top) {
          var k = guide((u * guide.length).toInt)
          while (cdf(k) < u) k += 1
          return k
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Poisson(Gamma(n, theta)): the draw for strata without a table. */
  final class GammaPoisson(n: Long, theta: Double) extends Draw {
    def next(r: Stream): Long = negBinomial(r, n, theta)
  }

  /** The sampler of a stratum of `n` policies with gamma scale `theta`
    * (finite): a [[Guided]] table from the pmf P(0) = (1+theta)^−n,
    * P(k+1) = P(k)·q·(k+n)/(k+1), or [[GammaPoisson]] where P(0) is not
    * a normal double or the table would pass [[MaxTableCells]].
    */
  def stratum(n: Long, theta: Double): Draw = {
    val p0 = math.exp(-n * math.log1p(theta))
    if (!(p0 >= java.lang.Double.MIN_NORMAL)) return new GammaPoisson(n, theta)
    val q = theta / (1.0 + theta)
    val mean = n * theta
    var cdf = new Array[Double](math.min(MaxTableCells, 64 + 2 * mean).toInt)
    cdf(0) = p0
    var p = p0
    var k = 0
    // past the mean the terms fall; stop once they no longer move the CDF
    while ({ p *= q * (k + n) / (k + 1); k + 1 <= mean || cdf(k) + p != cdf(k) }) {
      if (k + 1 >= MaxTableCells) return new GammaPoisson(n, theta)
      if (k + 1 == cdf.length) cdf = java.util.Arrays.copyOf(cdf, math.min(MaxTableCells, 2 * cdf.length))
      cdf(k + 1) = cdf(k) + p
      k += 1
    }
    new Guided(java.util.Arrays.copyOf(cdf, k + 1))
  }

  /** The sampler of `terms`: `prev` when it holds the same terms. */
  def sampler(prev: ReserveSampler, terms: ArrayData): ReserveSampler = {
    val sorted = terms.toDoubleArray()
    java.util.Arrays.sort(sorted)
    if (prev != null && java.util.Arrays.equals(prev.terms, sorted)) prev
    else new ReserveSampler(sorted)
  }

  /** [[ReserveMean]]'s value. Called from generated code. */
  def mean(terms: ArrayData, typeKey: Long, nSims: Int, seed: Long): Double =
    sampler(null, terms).mean(typeKey, nSims, seed)

  /** `round(v, 6)` cast to DECIMAL(28, 6), as its unscaled micro-units —
    * what `dsum6` adds for `v`. Spark rounds the shortest decimal string
    * of v half-up; for 0 ≤ v < 1e9 that string is within ulp(v)/2 of v,
    * so away from a tie the nearest integer to v·1e6 is the answer, and
    * the rounded value converts to the same decimal. Near a tie, and
    * elsewhere, this takes Spark's own BigDecimal path.
    */
  def micros(v: Double): Long = {
    if (v >= 0.0 && v < 1e9) {
      val t = v * 1e6
      val f = math.floor(t)
      val d = t - f
      if (math.abs(d - 0.5) > 1e6 * math.ulp(v) + math.ulp(t)) return f.toLong + (if (d > 0.5) 1L else 0L)
    }
    val r = java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    java.math.BigDecimal.valueOf(r).setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
  }

  /** Gamma(shape, scale) for shape ≥ 1 (Marsaglia–Tsang 2000). */
  def gamma(r: Stream, shape: Double, scale: Double): Double = {
    val d = shape - 1.0 / 3.0
    val c = 1.0 / math.sqrt(9.0 * d)
    while (true) {
      var x, v = 0.0
      while ({ x = r.nextGaussian(); v = 1.0 + c * x; v <= 0.0 }) ()
      v = v * v * v
      val u = r.nextDouble()
      val x2 = x * x
      if (u < 1.0 - 0.0331 * x2 * x2 ||
          math.log(u) < 0.5 * x2 + d * (1.0 - v + math.log(v)))
        return d * v * scale
    }
    throw new IllegalStateException("unreachable")
  }

  /** Poisson(lambda): inversion below 10, Hörmann's PTRS transformed
    * rejection (1993) above.
    */
  def poisson(r: Stream, lambda: Double): Long =
    if (lambda < 10.0) {
      val p0 = math.exp(-lambda)
      while (true) {
        val u = r.nextDouble()
        var x = 0L
        var p = p0
        var cdf = p0
        // once the terms stop moving the CDF (mass < 1e-16 left) a u
        // above it is redrawn instead of searching forever
        while (u > cdf && cdf + p != cdf) { x += 1; p *= lambda / x; cdf += p }
        if (u <= cdf) return x
      }
      throw new IllegalStateException("unreachable")
    } else {
      val slam = math.sqrt(lambda)
      val loglam = math.log(lambda)
      val b = 0.931 + 2.53 * slam
      val a = -0.059 + 0.02483 * b
      val invAlpha = 1.1239 + 1.1328 / (b - 3.4)
      val vr = 0.9277 - 3.6224 / (b - 2.0)
      while (true) {
        val u = r.nextDouble() - 0.5
        val v = r.nextDouble()
        val us = 0.5 - math.abs(u)
        val k = math.floor((2.0 * a / us + b) * u + lambda + 0.43).toLong
        if (us >= 0.07 && v <= vr) return k
        if (k >= 0 && (us >= 0.013 || v <= us) &&
            math.log(v * invAlpha / (a / (us * us) + b)) <=
              k * loglam - lambda - logFactorial(k))
          return k
      }
      throw new IllegalStateException("unreachable")
    }

  private val LogFactorials: Array[Double] = Array.tabulate(1024)(k => Gamma.logGamma(k + 1.0))

  /** ln k!, tabulated for the k PTRS meets at moderate lambda. */
  private def logFactorial(k: Long): Double =
    if (k < LogFactorials.length) LogFactorials(k.toInt) else Gamma.logGamma(k + 1.0)

  /** NegativeBinomial(n, 1−q) failures count, theta = q/(1−q):
    * mean n·theta, variance n·theta·(1+theta).
    */
  def negBinomial(r: Stream, n: Long, theta: Double): Long =
    poisson(r, gamma(r, n.toDouble, theta))

  /** Column API: a trial's reserves from its group's policy terms (days)
    * and a per-row seed key.
    */
  def reserve_trial(terms: Column, key: Column): Column =
    exprToColumn(ReserveTrial(colToExpr(terms), colToExpr(key)))

  /** Column API: the mean reserves of trials 1..nSims of one group, from
    * its policy terms (days) and `xxhash64` of the group key.
    */
  def reserve_mean(terms: Column, typeKey: Column, nSims: Int, seed: Long): Column =
    exprToColumn(ReserveMean(colToExpr(terms), colToExpr(typeKey), nSims, seed))
}
