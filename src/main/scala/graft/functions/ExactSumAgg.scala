package graft.functions

import java.math.{BigInteger, BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, CheckOverflowInSum, Expression, If, IsNull, Literal, Multiply, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, DoubleType, LongType}

/** `CAST(x AS DECIMAL(p, s))` of a double, as its unscaled long (p ≤ 18).
  *
  * Fast path: `y = x·10^s`, result `rint(y)`, taken only when
  * `|y| < min(2^42, 10^p − 1)` and `|y − rint(y)| < 0.499`. Spark's cast
  * rounds HALF_UP the decimal `d = Double.toString(x)`, which lies within
  * ulp(x)/2 of x, and `y` is one correctly rounded product, so
  * `|d·10^s − y| ≤ |y|·2^-52 < 2^-10` below 2^42. Every point that close
  * to `y` rounds to `rint(y)` under any rule when `y` is more than
  * 0.5 − 2^-10 from the nearest .5 boundary, so the guard leaves the
  * tie-breaking rule and the decimal digits no say. Everything else
  * (values near a .5 boundary such as 1.005, |x·10^s| beyond the bound,
  * NaN, ±Inf) is evaluated by `cast` itself — the caller's own Cast,
  * rebound to its input — so HALF_UP on the `Double.toString` digits,
  * NULL for NaN/±Inf and the ANSI out-of-range error are Spark's.
  */
case class ScaledLong(child: Expression, cast: Cast) extends UnaryExpression {

  private def target: DecimalType = cast.dataType.asInstanceOf[DecimalType]
  require(target.precision <= Decimal.MAX_LONG_DIGITS,
    s"graft_scaled_long needs precision <= ${Decimal.MAX_LONG_DIGITS}: $target")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_scaled_long"
  // the fallback Cast is a field, not a child: the plan shows the target
  // type, and subexpression elimination cannot hoist the slow cast
  override def stringArgs: Iterator[Any] = Iterator(child, target)

  // 10^s is exact in a double for s <= 22
  private def factor: Double = math.pow(10, target.scale)
  private def limit: Double =
    math.min(ScaledLong.FastBound, math.pow(10, target.precision) - 1)

  /** The cast's unscaled value, or null (NaN, ±Inf, or an overflow
    * outside ANSI mode); ANSI overflow throws the cast's own error. */
  def fallback(x: Double): java.lang.Long = {
    val d = cast.eval(InternalRow(x))
    if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
  }

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    val y = x * factor
    val r = math.rint(y)
    if (math.abs(y) < limit && math.abs(y - r) < ScaledLong.FastMargin) r.toLong
    else fallback(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("scaledLong", this)
    val y = ctx.freshName("y"); val r = ctx.freshName("r"); val b = ctx.freshName("b")
    nullSafeCodeGen(ctx, ev, x =>
      s"""
         |double $y = $x * ${factor}D;
         |double $r = java.lang.Math.rint($y);
         |if (java.lang.Math.abs($y) < ${limit}D &&
         |    java.lang.Math.abs($y - $r) < ${ScaledLong.FastMargin}D) {
         |  ${ev.value} = (long) $r;
         |} else {
         |  java.lang.Long $b = $self.fallback($x);
         |  if ($b == null) ${ev.isNull} = true; else ${ev.value} = $b;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ScaledLong =
    copy(child = newChild)
}

object ScaledLong {
  /** |x·10^s| bound of the fast path: keeps the error term below 2^-10. */
  val FastBound: Double = 4398046511104.0 // 2^42
  /** Distance from the nearest integer below which `rint` is the cast. */
  val FastMargin: Double = 0.499
}

/** 128-bit two's-complement helpers shared by the interpreted and the
  * generated paths of [[ExactSum]]'s buffer expressions. */
object Int128 {

  /** (hi, lo) of 10^p, p <= 38 (so < 2^127). */
  def pow10(p: Int): (Long, Long) = {
    val b = BigInteger.TEN.pow(p)
    (b.shiftRight(64).longValue, b.longValue)
  }

  /** |hi:lo| >= bHi:bLo, for a non-negative bound below 2^127. */
  def atLeast(hi: Long, lo: Long, bHi: Long, bLo: Long): Boolean = {
    val (h, l) = if (hi < 0) (~hi + (if (lo == 0L) 1L else 0L), -lo) else (hi, lo)
    h < 0 || h > bHi || (h == bHi && java.lang.Long.compareUnsigned(l, bLo) >= 0)
  }

  /** hi:lo · 10^-scale as a Decimal, unbounded in precision (the value
    * may exceed its sum type, exactly as Spark's decimal sum buffer can;
    * the range check comes after). */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, DecimalType.MAX_PRECISION, scale)
    else {
      val big = BigInteger.valueOf(hi).shiftLeft(64)
        .add(BigInteger.valueOf(lo >>> 1).shiftLeft(1))
        .add(BigInteger.valueOf(lo & 1L))
      Decimal(new JBigDecimal(big, scale))
    }

  /** Java statements declaring `hi`, `lo` = Π factors mod 2^128 (exact
    * while the true product fits, which the sum's builder guarantees). */
  def productCode(factors: Seq[String], hi: String, lo: String): String = {
    val steps = factors.tail.map { b =>
      s"$hi = java.lang.Math.multiplyHigh($lo, $b) + (($lo >> 63) & $b) + $hi * $b;\n" +
      s"$lo = $lo * $b;"
    }
    (s"long $lo = ${factors.head}; long $hi = $lo >> 63;" +: steps).mkString("\n")
  }

  /** Java statements: `nHi:nLo = aHi:aLo + bHi:bLo`, `ovf` = signed wrap. */
  def addCode(aHi: String, aLo: String, bHi: String, bLo: String,
      nHi: String, nLo: String, ovf: String): String =
    s"""long $nLo = $aLo + $bLo;
       |long $nHi = $aHi + $bHi +
       |  (java.lang.Long.compareUnsigned($nLo, $aLo) < 0 ? 1L : 0L);
       |boolean $ovf = (($aHi ^ $nHi) & ($bHi ^ $nHi)) < 0;""".stripMargin

  private[functions] def product(fs: Seq[Long]): (Long, Long) = {
    var lo = fs.head; var hi = lo >> 63
    fs.tail.foreach { b =>
      hi = Math.multiplyHigh(lo, b) + ((lo >> 63) & b) + hi * b
      lo = lo * b
    }
    (hi, lo)
  }

  /** (hi, lo, overflowed) of a + b. */
  private[functions] def add(aHi: Long, aLo: Long, bHi: Long, bLo: Long): (Long, Long, Boolean) = {
    val nLo = aLo + bLo
    val nHi = aHi + bHi + (if (java.lang.Long.compareUnsigned(nLo, aLo) < 0) 1L else 0L)
    (nHi, nLo, ((aHi ^ nHi) & (bHi ^ nHi)) < 0)
  }
}

/** One word of the update `hi:lo + Π factors` (factors are unscaled
  * longs). A null factor leaves the buffer as it is (SUM skips NULL
  * input); a null `hi` marks an overflowed sum and stays null; a wrap
  * past ±2^127 nulls it. */
case class AddProduct(hi: Expression, lo: Expression, factors: Seq[Expression],
    highWord: Boolean) extends Expression {

  override def children: Seq[Expression] = hi +: lo +: factors
  override def dataType: DataType = LongType
  override def nullable: Boolean = highWord
  override def prettyName: String = if (highWord) "graft_add_product_hi" else "graft_add_product_lo"

  override def eval(input: InternalRow): Any = {
    val fs = factors.map(_.eval(input))
    val h = hi.eval(input)
    val l = lo.eval(input).asInstanceOf[Long]
    if (fs.contains(null)) { if (highWord) h else l }
    else {
      val (pHi, pLo) = Int128.product(fs.map(_.asInstanceOf[Long]))
      if (!highWord) l + pLo
      else if (h == null) null
      else {
        val (nHi, _, ovf) = Int128.add(h.asInstanceOf[Long], l, pHi, pLo)
        if (ovf) null else nHi
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hiEv = hi.genCode(ctx); val loEv = lo.genCode(ctx)
    val fEvs = factors.map(_.genCode(ctx))
    val anyNull = fEvs.map(_.isNull.toString).mkString(" || ")
    val pHi = ctx.freshName("pHi"); val pLo = ctx.freshName("pLo")
    val nHi = ctx.freshName("nHi"); val nLo = ctx.freshName("nLo")
    val ovf = ctx.freshName("ovf")
    val product = Int128.productCode(fEvs.map(_.value.toString), pHi, pLo)
    val pre = (Seq(hiEv, loEv) ++ fEvs).map(_.code).mkString("\n")
    if (!highWord)
      ev.copy(code = code"""
        |$pre
        |long ${ev.value} = ${loEv.value};
        |if (!($anyNull)) {
        |  $product
        |  ${ev.value} = ${loEv.value} + $pLo;
        |}""".stripMargin, isNull = FalseLiteral)
    else
      ev.copy(code = code"""
        |$pre
        |boolean ${ev.isNull} = ${hiEv.isNull};
        |long ${ev.value} = ${hiEv.value};
        |if (!${ev.isNull} && !($anyNull)) {
        |  $product
        |  ${Int128.addCode(hiEv.value.toString, loEv.value.toString, pHi, pLo, nHi, nLo, ovf)}
        |  if ($ovf) ${ev.isNull} = true; else ${ev.value} = $nHi;
        |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): AddProduct =
    copy(hi = c(0), lo = c(1), factors = c.drop(2))
}

/** One word of the merge `hiL:loL + hiR:loR`. The right side is a
  * partial sum leaving its task: Spark writes that buffer at the sum's
  * precision and turns an out-of-range value into the overflow NULL, so
  * the same check happens here; NULL on either side, or a wrap, stays
  * NULL. */
case class MergeSums(hiL: Expression, loL: Expression, hiR: Expression,
    loR: Expression, precision: Int, highWord: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(hiL, loL, hiR, loR)
  override def dataType: DataType = LongType
  override def nullable: Boolean = highWord
  override def prettyName: String = if (highWord) "graft_merge_sums_hi" else "graft_merge_sums_lo"
  private lazy val (bHi, bLo) = Int128.pow10(precision)

  override def eval(input: InternalRow): Any = {
    val lL = loL.eval(input).asInstanceOf[Long]
    val lR = loR.eval(input).asInstanceOf[Long]
    if (!highWord) lL + lR
    else {
      val hL = hiL.eval(input); val hR = hiR.eval(input)
      if (hL == null || hR == null) null
      else if (Int128.atLeast(hR.asInstanceOf[Long], lR, bHi, bLo)) null
      else {
        val (nHi, _, ovf) = Int128.add(hL.asInstanceOf[Long], lL, hR.asInstanceOf[Long], lR)
        if (ovf) null else nHi
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(hl, ll, hr, lr) = children.map(_.genCode(ctx))
    val pre = Seq(hl, ll, hr, lr).map(_.code).mkString("\n")
    if (!highWord)
      ev.copy(code = code"""
        |$pre
        |long ${ev.value} = ${ll.value} + ${lr.value};""".stripMargin, isNull = FalseLiteral)
    else {
      val nHi = ctx.freshName("nHi"); val nLo = ctx.freshName("nLo")
      val ovf = ctx.freshName("ovf")
      ev.copy(code = code"""
        |$pre
        |boolean ${ev.isNull} = ${hl.isNull} || ${hr.isNull} ||
        |  graft.functions.Int128.atLeast(${hr.value}, ${lr.value}, ${bHi}L, ${bLo}L);
        |long ${ev.value} = 0L;
        |if (!${ev.isNull}) {
        |  ${Int128.addCode(hl.value.toString, ll.value.toString, hr.value.toString, lr.value.toString, nHi, nLo, ovf)}
        |  if ($ovf) ${ev.isNull} = true; else ${ev.value} = $nHi;
        |}""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MergeSums =
    copy(hiL = c(0), loL = c(1), hiR = c(2), loR = c(3))
}

/** hi:lo as the sum's decimal (NULL when `hi` is the overflow NULL). */
case class Int128ToDecimal(hi: Expression, lo: Expression, dataType: DecimalType)
    extends Expression {

  override def children: Seq[Expression] = Seq(hi, lo)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int128_decimal"

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input)
    if (h == null) null
    else Int128.toDecimal(h.asInstanceOf[Long], lo.eval(input).asInstanceOf[Long], dataType.scale)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx); val l = lo.genCode(ctx)
    ev.copy(code = code"""
      |${h.code}
      |${l.code}
      |boolean ${ev.isNull} = ${h.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.Int128.toDecimal(${h.value}, ${l.value}, ${dataType.scale});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Int128ToDecimal =
    copy(hi = c(0), lo = c(1))
}

/** Exact SUM of a product of double → decimal casts, on a 128-bit
  * two-long buffer instead of Spark's decimal buffer.
  *
  * `factors` are [[ScaledLong]]s: each row's product is formed exactly
  * in 128 bits and added with carry. The result type, the NULL of an
  * empty or all-NULL group and the overflow behaviour are Spark's
  * `sum(CAST(..) * CAST(..) ..)`: the same `DecimalType(p + 10, s)`, the
  * same `isEmpty` flag, and the same final `CheckOverflowInSum` (ANSI
  * error or NULL by the session's mode). Two differences, both on sums
  * that leave their range: when the partial and final aggregates run in
  * one stage (no exchange between them) Spark reports
  * NUMERIC_VALUE_OUT_OF_RANGE and this kernel ARITHMETIC_OVERFLOW; and a
  * running sum past ±2^127, which Spark's 16-byte buffer cannot hold
  * either, is the overflow NULL here.
  */
case class ExactSum(factors: Seq[Expression], dataType: DecimalType,
    nullOnOverflow: Boolean) extends DeclarativeAggregate {

  override def children: Seq[Expression] = factors
  override def nullable: Boolean = true
  override def prettyName: String = "graft_exact_sum"
  override def stringArgs: Iterator[Any] = factors.iterator

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    AddProduct(hi, lo, factors, highWord = true),
    AddProduct(hi, lo, factors, highWord = false),
    And(isEmpty, factors.map(f => IsNull(f): Expression).reduce(Or(_, _))))
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    MergeSums(hi.left, lo.left, hi.right, lo.right, dataType.precision, highWord = true),
    MergeSums(hi.left, lo.left, hi.right, lo.right, dataType.precision, highWord = false),
    And(isEmpty.left, isEmpty.right))
  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      CheckOverflowInSum(Int128ToDecimal(hi, lo, dataType), dataType, nullOnOverflow,
        if (nullOnOverflow) null else origin.context))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactSum =
    copy(factors = c)
}

object ExactSum {

  /** Builds the kernel from the decimal product it replaces: `e` must be
    * a product (any nesting of `*`) of `CAST(<double> AS DECIMAL(p, s))`
    * factors with p <= 18, whose decimal type Spark forms without
    * precision loss (Σp + n − 1 <= 38), so the 128-bit product is exact. */
  def fromProduct(e: Expression): ExactSum = {
    def factors(x: Expression): Seq[Cast] = x match {
      case m: Multiply => factors(m.left) ++ factors(m.right)
      case c: Cast if c.child.dataType == DoubleType && (c.dataType match {
          case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
          case _ => false
        }) => Seq(c)
      case other => throw new IllegalArgumentException(
        "graft_exact_sum takes a product of CAST(<double> AS DECIMAL(p <= 18, s)), " +
          s"not ${other.sql}")
    }
    val casts = factors(e)
    val types = casts.map(_.dataType.asInstanceOf[DecimalType])
    val precision = types.map(_.precision).sum + types.size - 1
    require(precision <= DecimalType.MAX_PRECISION,
      s"graft_exact_sum: ${e.sql} needs $precision digits, more than an exact decimal holds")
    val exact = DecimalType(precision, types.map(_.scale).sum)
    require(e.dataType == exact,
      s"graft_exact_sum: ${e.sql} has type ${e.dataType}, not the exact $exact")
    ExactSum(
      casts.map(c => ScaledLong(c.child,
        c.withNewChildren(Seq(BoundReference(0, DoubleType, nullable = false))).asInstanceOf[Cast])),
      DecimalType(math.min(exact.precision + 10, DecimalType.MAX_PRECISION), exact.scale),
      nullOnOverflow = !SQLConf.get.ansiEnabled)
  }
}
