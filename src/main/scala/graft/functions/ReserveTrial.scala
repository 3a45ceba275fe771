package graft.functions

import org.apache.commons.math3.special.Gamma

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{colToExpr, exprToColumn, AbstractDataType}
import org.apache.spark.sql.types._

/** One Monte Carlo reserve trial of a policy group, drawn stratum by
  * stratum: the claim-count kernel of [[graft.actuarial.Actuarial]].
  *
  * Per policy the reference draws `⌊Exp(rate 365/term)⌋` claims
  * (docker_files/src/main.rs:67,70), which is Geometric(1−q) with
  * q = e^{−365/term}; the sum over the c policies of one term is then
  * NegativeBinomial(c, 1−q). So one trial needs one draw per stratum
  * (distinct term), not one per policy: for each `strata` element
  * (term, n, theta = q/(1−q)) the expression draws an exact NB(n, 1−q)
  * count as Poisson(Gamma(n, theta)), sums the counts to N, and returns
  * the trial's total severity 100·N + 10·√N·z, z ~ N(0,1) (Σ of N
  * i.i.d. Normal(100, 10) severities, in closed form).
  *
  * The draws come from a xorshift64* stream seeded by `key` alone, so
  * the value is a pure function of its row: callers key it on row
  * identity (seed ⊕ xxhash64 of the group and trial) and the result does
  * not depend on partitioning. Whole-stage codegen calls the static
  * [[ReserveTrial.compute]].
  */
case class ReserveTrial(strata: Expression, key: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = strata
  override def right: Expression = key
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ReserveTrial.stratumType), LongType)

  override def nullSafeEval(s: Any, k: Any): Any =
    ReserveTrial.compute(s.asInstanceOf[ArrayData], k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k) =>
      s"${ev.value} = graft.functions.ReserveTrial.compute($s, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ReserveTrial =
    copy(strata = newLeft, key = newRight)
}

object ReserveTrial {

  /** One stratum: the policies' shared term (days), their count, and the
    * gamma scale q/(1−q) = 1/(e^{365/term} − 1).
    */
  val stratumType: StructType = StructType(Seq(
    StructField("term", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("theta", DoubleType, nullable = false)))

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

  /** One trial's total severity over all strata; NaN when a stratum's
    * theta is not finite. Called from generated code.
    */
  def compute(strata: ArrayData, key: Long): Double = {
    val r = new Stream(key)
    var claims = 0L
    var i = 0
    while (i < strata.numElements()) {
      val st = strata.getStruct(i, 3)
      val theta = st.getDouble(2)
      if (!(theta < Double.PositiveInfinity)) return Double.NaN
      claims += negBinomial(r, st.getLong(1), theta)
      i += 1
    }
    100.0 * claims + 10.0 * math.sqrt(claims.toDouble) * r.nextGaussian()
  }

  /** Column API: a trial's reserves from its group's strata array
    * (elements of [[stratumType]]) and a per-row seed key.
    */
  def reserve_trial(strata: Column, key: Column): Column =
    exprToColumn(ReserveTrial(colToExpr(strata), colToExpr(key)))
}
