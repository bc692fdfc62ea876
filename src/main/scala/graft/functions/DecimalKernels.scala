package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Static helpers shared by interpreted eval and generated code of the
  * long-based money kernels. The exactness argument is in SCALE.md
  * ("Exact long kernels for money decimals"). */
object DecimalKernels {
  /** 10^i, i ≤ 18: exact as doubles (10^22 is the last exact one). */
  private val Pow10D: Array[Double] = Array.tabulate(19)(i => s"1e$i".toDouble)
  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Base of the (hi, lo) sum buffer: value = hi * 10^18 + lo, |lo| < 10^18. */
  val Base: Long = Pow10L(18)
  private val BigBase = BigInteger.valueOf(Base)

  /** Fast domain of the cast: |d * 10^s| < 2^48. */
  private val FastBound = 281474976710656.0
  /** Tie guard per unit of |d * 10^s|: 2^-50, twice the product's error bound. */
  private val TieSlack = 8.881784197001252e-16

  /** HALF_UP unscaled value of `d` at `scale`, equal to Spark's
    * `Decimal(BigDecimal.valueOf(d)).changePrecision(precision, scale)`,
    * or Long.MinValue when `d` is not finite, |d * 10^scale| ≥ 2^48, the
    * product lies within 2^-50 * |d * 10^scale| of a .5 tie, or the
    * rounded value needs more than `precision` digits. */
  def unscaledHalfUp(d: Double, precision: Int, scale: Int): Long = {
    val p = d * Pow10D(scale)
    val a = Math.abs(p)
    if (a < FastBound) { // false for NaN and ±Inf
      val fl = Math.floor(a)
      val f = a - fl // exact: a < 2^52
      if (Math.abs(f - 0.5) > a * TieSlack) {
        val r = fl.toLong + (if (f > 0.5) 1L else 0L)
        if (r < Pow10L(precision)) return if (p < 0) -r else r
      }
    }
    Long.MinValue
  }

  /** Spark's own cast of `d`, for every input outside the fast path. */
  def castSlow(cast: Cast, d: Double): Decimal =
    cast.eval(InternalRow(d)).asInstanceOf[Decimal]

  /** Carry out of a low word t with |t| < 2 * 10^18. */
  def carry(t: Long): Long = if (t >= Base) 1L else if (t <= -Base) -1L else 0L

  /** hi * 10^18 + lo lies strictly within limit * 10^18 of zero, given
    * |lo| < 10^18; limit 0 means unchecked. */
  def fits(hi: Long, lo: Long, limit: Long): Boolean =
    limit == 0L || Math.abs(hi) < limit || (hi == limit && lo < 0L) || (hi == -limit && lo > 0L)

  /** High word of (hiA, loA) + (hiB, loB), or Long.MinValue (overflow)
    * when (hiB, loB) or the sum leaves its limit. */
  def addHigh(hiA: Long, loA: Long, hiB: Long, loB: Long, sumLimit: Long, operandLimit: Long): Long = {
    val h = hiA + hiB + carry(loA + loB)
    if (fits(hiB, loB, operandLimit) && fits(h, addLow(loA, loB), sumLimit)) h
    else Long.MinValue
  }

  /** Low word of (hiA, loA) + (hiB, loB). */
  def addLow(loA: Long, loB: Long): Long = {
    val t = loA + loB
    t - carry(t) * Base
  }

  /** The Decimal hi * 10^18 + lo at `scale`, declared at `precision`
    * (≥ 19) but not range-checked: CheckOverflowInSum does that. */
  def fromLongPair(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi >= -8 && hi <= 8) Decimal(hi * Base + lo, precision, scale)
    else Decimal(new JBigDecimal(
      BigInteger.valueOf(hi).multiply(BigBase).add(BigInteger.valueOf(lo)), scale))
}

/** DOUBLE → DECIMAL(p ≤ 18, s) cast on longs. Inside the fast domain of
  * [[DecimalKernels.unscaledHalfUp]] the value is built from its HALF_UP
  * unscaled long; every other input (NaN, ±Inf, large magnitudes, near
  * ties, precision overflow) evaluates `fallback`, the original Cast over
  * a one-column row, so the value or the error is Spark's own in every
  * eval mode. Spark's cast formats and parses `Double.toString(d)` for
  * every value. Planted by [[graft.plans.LongDecimalRewrite]]. */
case class ExactDoubleToDecimal(child: Expression, fallback: Cast) extends UnaryExpression {

  private def target: DecimalType = fallback.dataType.asInstanceOf[DecimalType]

  override def dataType: DataType = target
  override def nullable: Boolean = fallback.nullable
  override def prettyName: String = "exact_double_to_decimal"
  override protected def stringArgs: Iterator[Any] = Iterator(child, target)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val u = DecimalKernels.unscaledHalfUp(d, target.precision, target.scale)
      if (u != Long.MinValue) Decimal.createUnsafe(u, target.precision, target.scale)
      else DecimalKernels.castSlow(fallback, d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cast = ctx.addReferenceObj("fallback", fallback)
    val u = ctx.freshName("unscaled")
    val (p, s) = (target.precision, target.scale)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      Decimal ${ev.value} = null;
      if (!${ev.isNull}) {
        long $u = graft.functions.DecimalKernels.unscaledHalfUp(${c.value}, $p, $s);
        if ($u != Long.MIN_VALUE) {
          ${ev.value} = Decimal.createUnsafe($u, $p, $s);
        } else {
          ${ev.value} = graft.functions.DecimalKernels.castSlow($cast, ${c.value});
          ${ev.isNull} = ${ev.value} == null;
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): ExactDoubleToDecimal =
    copy(child = newChild)
}

/** The Decimal `hi * 10^18 + lo` of an [[ExactDecimalSum]] buffer; null
  * when `hi` is null (the buffer overflowed). */
case class LongPairToDecimal(hi: Expression, lo: Expression, dataType: DecimalType)
    extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def prettyName: String = "long_pair_to_decimal"

  override protected def nullSafeEval(h: Any, l: Any): Any =
    DecimalKernels.fromLongPair(h.asInstanceOf[Long], l.asInstanceOf[Long],
      dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.functions.DecimalKernels.fromLongPair($h, $l, ${dataType.precision}, ${dataType.scale})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongPairToDecimal =
    copy(hi = newLeft, lo = newRight)
}

/** One word of the carry-normalised sum (hiA, loA) + (hiB, loB) of two
  * [[ExactDecimalSum]] values: the high word when `high`, else the low
  * word. A null `loB` (a null input row) leaves (hiA, loA) as it is. A
  * null high word means overflowed and stays null; the high word also
  * turns null when (hiB, loB) leaves `operandLimit` or the sum leaves
  * `sumLimit` (limits in units of 10^18, 0 = unchecked). */
case class LongPairAdd(
    hiA: Expression, loA: Expression, hiB: Expression, loB: Expression,
    high: Boolean, sumLimit: Long, operandLimit: Long) extends Expression {

  override def children: Seq[Expression] = Seq(hiA, loA, hiB, loB)
  override def dataType: DataType = LongType
  override def nullable: Boolean = high
  override def prettyName: String = "long_pair_add"

  override def eval(input: InternalRow): Any = {
    val lb = loB.eval(input)
    if (lb == null) (if (high) hiA else loA).eval(input)
    else if (!high) DecimalKernels.addLow(loA.eval(input).asInstanceOf[Long], lb.asInstanceOf[Long])
    else {
      val ha = hiA.eval(input)
      val hb = hiB.eval(input)
      if (ha == null || hb == null) null
      else {
        val h = DecimalKernels.addHigh(ha.asInstanceOf[Long], loA.eval(input).asInstanceOf[Long],
          hb.asInstanceOf[Long], lb.asInstanceOf[Long], sumLimit, operandLimit)
        if (h == Long.MinValue) null else h
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(ha, la, hb, lb) = children.map(_.genCode(ctx))
    val k = "graft.functions.DecimalKernels"
    val sum =
      if (!high) s"${ev.value} = $k.addLow(${la.value}, ${lb.value});"
      else s"""
        ${ev.isNull} = ${ha.isNull} || ${hb.isNull};
        if (!${ev.isNull}) {
          ${ev.value} = $k.addHigh(${ha.value}, ${la.value}, ${hb.value}, ${lb.value},
            ${sumLimit}L, ${operandLimit}L);
          ${ev.isNull} = ${ev.value} == Long.MIN_VALUE;
        }"""
    val keep = if (high) ha else la
    ev.copy(code = code"""
      ${ha.code}
      ${la.code}
      ${hb.code}
      ${lb.code}
      boolean ${ev.isNull} = false;
      long ${ev.value} = -1L;
      if (${lb.isNull}) {
        ${ev.isNull} = ${keep.isNull};
        ${ev.value} = ${keep.value};
      } else {
        $sum
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongPairAdd = {
    val Seq(a, b, c, d) = newChildren
    copy(hiA = a, loA = b, hiB = c, loB = d)
  }
}

/** SUM over DECIMAL(8 < p ≤ 18, s), accumulated exactly on longs: the
  * running value is hi * 10^18 + lo with |lo| < 10^18, carried after every
  * add. One add moves hi by at most 1, so hi cannot wrap below 2^63 rows.
  * The result type, DECIMAL(p + 10, s), and its null on no input are
  * Sum's. `hi` turns null (sticky) exactly where Spark's DECIMAL(p + 10, s)
  * buffer turns null:
  *   - `checkEachStep` (a grouped aggregate Spark plans as a HashAggregate:
  *     its buffer is an UnsafeRow slot, re-checked on every update and
  *     merge): as soon as the running value leaves p + 10 digits;
  *   - otherwise (global aggregates in generated code, object-hash and
  *     sort aggregates over other buffers, windows: Spark keeps a plain
  *     Decimal): when a merged partial leaves them, as Spark's partial
  *     output row does.
  * `evaluate` then runs Spark's own CheckOverflowInSum (same null or same
  * error), taken from the replaced Sum with its query context. */
case class ExactDecimalSum(
    child: Expression,
    dataType: DecimalType,
    nullOnOverflow: Boolean,
    checkEachStep: Boolean)(val context: QueryContext)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  // the query context only shapes an error message: like Sum's, it stays
  // out of equality, so equal sums in one Aggregate are computed once
  override protected def otherCopyArgs: Seq[AnyRef] = context :: Nil

  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"
  override protected def stringArgs: Iterator[Any] = Iterator(child, checkEachStep)

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  // An always-null NullType slot: UnsafeRow-mutable, so Spark still plans
  // a HashAggregate, but not a primitive, so it plans no two-level fast
  // hash map, as for Sum's DECIMAL(p + 10) buffer. That map costs a
  // memory page per partial task (+7.6% peak RSS on the marts benchmark
  // at local[4]) and bought no time there.
  private lazy val noFastMap = AttributeReference("noFastMap", NullType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty, noFastMap)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true), Literal(null, NullType))

  /** Magnitude limit of the result in units of 10^18: L = 10^(p - 8). */
  private def limit: Long = BigInt(10).pow(dataType.precision - 18).toLong
  private def sumLimit: Long = if (checkEachStep) limit else 0L

  // the child appears once per expression and unconditionally, so
  // whole-stage codegen evaluates it once per row (subexpression elimination)
  override lazy val updateExpressions: Seq[Expression] = {
    val v = UnscaledValue(child)
    Seq(
      LongPairAdd(hi, lo, Literal(0L), v, high = true, sumLimit, operandLimit = 0L),
      LongPairAdd(hi, lo, Literal(0L), v, high = false, sumLimit, operandLimit = 0L),
      And(IsNull(v), isEmpty),
      noFastMap)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // unchecked sums still check each merged partial, as Spark's partial
    // output row does
    val operandLimit = if (checkEachStep) 0L else limit
    Seq(
      LongPairAdd(hi.left, lo.left, hi.right, lo.right, high = true, sumLimit, operandLimit),
      LongPairAdd(hi.left, lo.left, hi.right, lo.right, high = false, sumLimit, operandLimit),
      And(isEmpty.left, isEmpty.right),
      noFastMap.left)
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, dataType),
      CheckOverflowInSum(LongPairToDecimal(hi, lo, dataType), dataType, nullOnOverflow, context))

  override protected def withNewChildInternal(newChild: Expression): ExactDecimalSum =
    copy(child = newChild)(context)
}
