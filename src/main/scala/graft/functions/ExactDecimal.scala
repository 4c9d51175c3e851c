package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact fixed-point kernels behind the engine's DECIMAL determinism
  * contract (every double is aggregated through a `DECIMAL` cast, see
  * `GoeQueries`). Spark evaluates each of these shapes through
  * `java.math.BigDecimal`: a double→decimal cast parses
  * `Double.toString`, `Decimal.*` always multiplies BigDecimals, and a
  * `SUM` wider than 18 digits keeps a BigDecimal buffer.
  *
  * Each kernel claims only the rows whose result it can PROVE equals
  * Spark's, computed on longs; every other row is handed to Spark's own
  * expression (`fallback`, the original `Cast`/`Multiply` re-bound to the
  * operand values, with its eval mode and time zone), so results — nulls
  * and ANSI errors included — are Spark's by construction. The
  * `graft.plans.ExactDecimalKernels` rule installs them. */
object ExactDecimal {

  /** Powers of ten 10^0 .. 10^18, exact both as longs and as doubles. */
  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10L)
  private val Pow10D: Array[Double] = Pow10L.map(_.toDouble)

  /** Fast-path bounds of [[castDouble]]: below 2^40 the scaled double
    * carries at least 12 fraction bits, so its distance from the exact
    * scaled decimal of `Double.toString(d)` (≤ half an ulp of `d`, times
    * 10^s, plus one rounding) stays under 2^-11; a value more than 0.25
    * from a half-integer therefore rounds HALF_UP to the same integer as
    * that decimal does. */
  val CastMagnitudeBound: Double = 1099511627776.0 // 2^40
  val TieMargin: Double = 0.25

  /** Largest scale a kernel handles (unscaled values are longs). */
  val MaxScale: Int = 18

  /** `CAST(d AS DECIMAL(p, s))` when provably exact, else null (not
    * claimed: the caller asks Spark's cast). NaN and ±Inf fail every
    * comparison and are never claimed. */
  def castDouble(d: Double, p: Int, s: Int): Decimal = {
    val x = d * Pow10D(s)
    val r = Math.rint(x)
    if (Math.abs(x) < CastMagnitudeBound && Math.abs(x - r) < TieMargin &&
        Math.abs(r) < Pow10D(math.min(p, 18)))
      Decimal.createUnsafe(r.toLong, p, s)
    else null
  }

  /** `a * b` as `DECIMAL(p, s)` with `s` = the operands' scale sum, when
    * the unscaled product fits a long and `p` digits, else null (not
    * claimed). No rounding can occur at scale s1+s2. */
  def times(a: Decimal, b: Decimal, p: Int, s: Int): Decimal =
    if (a.scale + b.scale != s) null
    else {
      val x = a.toUnscaledLong
      val y = b.toUnscaledLong
      val lo = x * y
      val bound = Pow10L(math.min(p, 18))
      if (Math.multiplyHigh(x, y) != (lo >> 63) || lo <= -bound || lo >= bound) null
      else Decimal.createUnsafe(lo, p, s)
    }

  /** A kernel's fallback (Spark's own expression, its operands bound by
    * ordinal) evaluated on one row's operand values. */
  def castFallback(e: Expression, d: Double): Decimal =
    e.eval(new GenericInternalRow(Array[Any](d))).asInstanceOf[Decimal]

  def timesFallback(e: Expression, a: Decimal, b: Decimal): Decimal =
    e.eval(new GenericInternalRow(Array[Any](a, b))).asInstanceOf[Decimal]

  /** Limb width of [[ExactDecimalSum]]: an unscaled value below 10^18
    * splits into three signed base-10^6 limbs, and a group of fewer than
    * 10^10 rows (the bound Spark's own `DecimalAggregates` relies on)
    * keeps every limb sum below 10^16. */
  val LimbCount: Int = 3
  val LimbDigits: Int = 6

  /** Limb `i` of the unscaled value (same sign as the value). */
  def limb(d: Decimal, i: Int): Long =
    (d.toUnscaledLong / Pow10L(i * LimbDigits)) % Pow10L(LimbDigits)

  /** Σ limb sums · 10^(6i) at scale `s`, exact (below 10^32 in
    * magnitude); the caller applies `Sum`'s own precision check. */
  def recombine(l0: Long, l1: Long, l2: Long, s: Int): Decimal = {
    import java.math.BigInteger
    val u = BigInteger.valueOf(l2).multiply(BigInteger.TEN.pow(2 * LimbDigits))
      .add(BigInteger.valueOf(l1).multiply(BigInteger.TEN.pow(LimbDigits)))
      .add(BigInteger.valueOf(l0))
    Decimal(new java.math.BigDecimal(u, s))
  }

  private val Self = "graft.functions.ExactDecimal$.MODULE$"

  /** Generated code shared by the two row kernels: try the fast path,
    * else ask the fallback; a fallback null sets the null flag only when
    * the kernel is nullable (a non-nullable fallback throws instead). */
  private[functions] def fastOrFallback(ctx: CodegenContext, ev: ExprCode,
      nullable: Boolean, fallback: Expression, fast: String,
      slow: String => String): String = {
    val fb = ctx.addReferenceObj("fallback", fallback, classOf[Expression].getName)
    s"""
       |${ev.value} = $fast;
       |if (${ev.value} == null) {
       |  ${ev.value} = ${slow(fb)};
       |  ${if (nullable) s"${ev.isNull} = ${ev.value} == null;" else ""}
       |}
     """.stripMargin
  }

  private[functions] def call(name: String, args: Any*): String =
    s"$Self.$name(${args.mkString(", ")})"
}

/** `CAST(child AS DECIMAL(p, s))` for a double `child`: the long fast path
  * of [[ExactDecimal.castDouble]], else `fallback` — the original `Cast`
  * over `BoundReference(0)`. */
case class ExactDoubleToDecimal(child: Expression, fallback: Expression)
    extends UnaryExpression {
  private def t: DecimalType = fallback.dataType.asInstanceOf[DecimalType]
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = fallback.nullable
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    val fast = ExactDecimal.castDouble(d, t.precision, t.scale)
    if (fast != null) fast else ExactDecimal.castFallback(fallback, d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => ExactDecimal.fastOrFallback(ctx, ev, nullable,
      fallback, ExactDecimal.call("castDouble", d, t.precision, t.scale),
      fb => ExactDecimal.call("castFallback", fb, d)))

  override protected def withNewChildInternal(c: Expression): ExactDoubleToDecimal =
    copy(child = c)

  override def prettyName: String = "graft_exact_cast"
  override def sql: String = s"$prettyName(${child.sql} AS ${dataType.sql})"
}

/** `left * right` over decimals of at most 18 digits whose result scale is
  * the scale sum: the long product of [[ExactDecimal.times]], else
  * `fallback` — the original `Multiply` over `BoundReference(0, 1)`. */
case class ExactDecimalMultiply(left: Expression, right: Expression,
    fallback: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  private def t: DecimalType = fallback.dataType.asInstanceOf[DecimalType]
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = fallback.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Decimal]
    val y = b.asInstanceOf[Decimal]
    val fast = ExactDecimal.times(x, y, t.precision, t.scale)
    if (fast != null) fast else ExactDecimal.timesFallback(fallback, x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => ExactDecimal.fastOrFallback(ctx, ev,
      nullable, fallback, ExactDecimal.call("times", a, b, t.precision, t.scale),
      fb => ExactDecimal.call("timesFallback", fb, a, b)))

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : ExactDecimalMultiply = copy(left = l, right = r)

  override def prettyName: String = "graft_exact_multiply"
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql})"
}

/** Limb `i` of a decimal's unscaled value ([[ExactDecimal.limb]]). */
case class DecimalLimb(child: Expression, i: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ExactDecimal.limb(v.asInstanceOf[Decimal], i)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => ExactDecimal.call("limb", d, i))
  override protected def withNewChildInternal(c: Expression): DecimalLimb =
    copy(child = c)
}

/** The limb sums of one group as an exact `DECIMAL(38, scale)`
  * ([[ExactDecimal.recombine]]). */
case class LimbsToDecimal(first: Expression, second: Expression,
    third: Expression, scale: Int) extends TernaryExpression {
  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    ExactDecimal.recombine(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => ExactDecimal.call("recombine", a, b, c, scale))
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): LimbsToDecimal = copy(first = a, second = b, third = c)
}

/** `SUM(child)` over a decimal of at most 18 digits, returning Spark's
  * `Sum` result type: three long limb sums of the unscaled value
  * ([[ExactDecimal.limb]]) recombined once per group and passed through
  * `Sum`'s own final check (`CheckOverflowInSum`, with the sum's
  * `context` for its ANSI error). Null inputs are skipped; a group
  * without a non-null input is null, as in `Sum`. Under ANSI the limb
  * additions are ANSI too, so a group past the 10^10-row bound fails
  * instead of wrapping. */
case class ExactDecimalSum(child: Expression, resultType: DecimalType,
    ansi: Boolean, context: QueryContext)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_exact_sum"

  private lazy val limbs = (0 until ExactDecimal.LimbCount).map(i =>
    AttributeReference(s"limb$i", LongType, nullable = false)())
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  private def add(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(if (ansi) EvalMode.ANSI else EvalMode.LEGACY))

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    limbs :+ isEmpty
  override lazy val initialValues: Seq[Expression] =
    limbs.map(_ => Literal(0L)) :+ Literal(true)
  override lazy val updateExpressions: Seq[Expression] =
    limbs.zipWithIndex.map { case (l, i) =>
      add(l, Coalesce(Seq(DecimalLimb(child, i), Literal(0L))))
    } :+ And(isEmpty, IsNull(child))
  override lazy val mergeExpressions: Seq[Expression] =
    limbs.map(l => add(l.left, l.right)) :+ And(isEmpty.left, isEmpty.right)
  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, resultType),
      CheckOverflowInSum(LimbsToDecimal(limbs(0), limbs(1), limbs(2), resultType.scale),
        resultType, nullOnOverflow = !ansi, context))

  override protected def withNewChildInternal(c: Expression): ExactDecimalSum =
    copy(child = c)
}
