package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Exact._
import graft.functions.ScaledLong

/** Differential spec of the exact-money kernel against Spark's decimal
  * path: each double factor converts to exactly the unscaled value of
  * `CAST(x AS DECIMAL(p, s))` (or the same NULL / ANSI error), and
  * `graft_exact_sum` of a factor product equals Spark's decimal `sum` of
  * the same product — value, type, NULL and overflow — under plain
  * grouping, rollup, cube and grouping sets. */
class ExactSumSpec extends AnyFunSuite with SparkSpec {

  private def checkProp(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def condition(e: Throwable): String = e match {
    case t: SparkThrowable => t.getCondition
    case other => other.getClass.getName
  }

  // ---- conversion -------------------------------------------------------

  private val cents: Gen[Double] = Gen.choose(-999999999999L, 999999999999L).map(_ / 100.0)
  private val halves: Gen[Double] =               // .xx5: ties and near-ties
    Gen.choose(-99999999L, 99999999L).map(k => (k * 10 + 5) / 1000.0)
  private val pct: Gen[Double] = Gen.choose(0, 10).map(_ / 100.0)
  private val pctForms: Gen[Double] = Gen.oneOf(pct.map(1.0 - _), pct.map(1.0 + _))
  private val anyReal: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e10, 1e10), Gen.choose(-1.0, 1.0), Gen.choose(-100.0, 100.0))
  private val specials: Gen[Double] = Gen.oneOf(
    -0.0, 0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MinPositiveValue, 1e10, -1e10, 9999999999.995, 9999999999.994,
    -9999999999.99, 1e15, 1e300, 0.0049999999999999, 0.005, 1.005, 2.675,
    0.9299999999999999, 99.995, 99.994999)
  private val doubles: Gen[Double] =
    Gen.frequency(3 -> cents, 2 -> halves, 2 -> pctForms, 2 -> anyReal, 1 -> specials)

  /** Kernel vs cast on one double: the kernel's generated and
    * interpreted paths against Spark's generated cast. */
  private def sameConversion(dt: DecimalType, mode: EvalMode.Value): Double => Boolean = {
    val in = BoundReference(0, DoubleType, nullable = false)
    val cast = Cast(in, dt, None, mode)
    val kernel = ScaledLong(in, cast)
    val kernelGen = UnsafeProjection.create(Seq(kernel))
    val castGen = UnsafeProjection.create(Seq(cast))
    def attempt(f: => Any): Either[String, Any] =
      try Right(f) catch { case e: Throwable => Left(condition(e)) }
    x => {
      val row = InternalRow(x)
      val got = attempt { val r = kernelGen(row); if (r.isNullAt(0)) null else r.getLong(0) }
      val interp = attempt(kernel.eval(row))
      val want = attempt {
        val r = castGen(row)
        if (r.isNullAt(0)) null else r.getDecimal(0, dt.precision, dt.scale).toUnscaledLong
      }
      val ok = got == want && interp == want
      if (!ok) println(s"conversion mismatch at $x -> $dt ($mode): kernel=$got interp=$interp spark=$want")
      ok
    }
  }

  test("conversion equals CAST(double AS DECIMAL(12,2)) and (4,2), errors included") {
    for (dt <- Seq(DecimalType(12, 2), DecimalType(4, 2))) {
      checkProp(Prop.forAllNoShrink(doubles)(sameConversion(dt, EvalMode.ANSI)), 20000)
      checkProp(Prop.forAllNoShrink(doubles)(sameConversion(dt, EvalMode.LEGACY)), 2000)
    }
  }

  test("conversion: the named edge cases") {
    val dt = DecimalType(12, 2)
    val edges = Seq(-0.0, 1.005, -1.005, 0.125, -0.125, 2.675, 1.0 - 0.07, 1.0 + 0.07,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e10, -1e10, 9999999999.995, 1e17)
    val same = sameConversion(dt, EvalMode.ANSI)
    edges.foreach(x => assert(same(x), s"x = $x"))
    // the round-trip guard the fast path does NOT rely on: 10% of
    // 1.0 - discount values fail it, and all of them must still convert
    assert(1.0 - 0.07 == 0.9299999999999999)
    // |x| >= 1e10 is Spark's ANSI error, raised by the kernel unchanged
    val err = intercept[Exception](
      UnsafeProjection.create(Seq(ScaledLong(BoundReference(0, DoubleType, nullable = false),
        Cast(BoundReference(0, DoubleType, nullable = false), dt, None, EvalMode.ANSI))))
        .apply(InternalRow(1e10)))
    assert(condition(err).startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), err.getMessage)
  }

  // ---- sum --------------------------------------------------------------

  /** (k, price, discount, tax). Prices up to 1e10, and discount/tax up to
    * ±50 so `money·oneMinus·onePlus` products reach ~2.6e19 unscaled and a
    * handful of rows cross 2^63 and 2^64 in either sign. */
  private val genRow: Gen[(Int, Option[Double], Option[Double], Option[Double])] = for {
    k <- Gen.choose(0, 3)
    p <- Gen.frequency(6 -> cents.map(Some(_)), 1 -> Gen.const(None),
      2 -> Gen.choose(9000000000L, 9999999999L).map(v => Some(v.toDouble)))
    d <- Gen.frequency(5 -> pct.map(Some(_)), 1 -> Gen.const(None),
      2 -> Gen.choose(-5000, -4000).map(v => Some(v / 100.0)))
    t <- Gen.frequency(5 -> pct.map(Some(_)), 1 -> Gen.const(None),
      2 -> Gen.choose(4000, 5000).map(v => Some(v / 100.0)))
  } yield (k, p, d, t)

  private def frame(rows: Seq[(Int, Option[Double], Option[Double], Option[Double])],
      parts: Int): DataFrame = {
    val session = spark
    import session.implicits._
    rows.toDF("k", "p", "d", "t").repartition(parts)
  }

  private val products: Seq[(String, Column)] = Seq(
    "money" -> money(col("p")),
    "revenue" -> revenue(col("p"), col("d")),
    "charge" -> money(col("p")) * oneMinus(col("d")) * onePlus(col("t")),
    "money2" -> money(col("p")) * money(col("d")))

  /** Both aggregates over the same grouping, as (group → decimal). */
  private def both(group: DataFrame => org.apache.spark.sql.RelationalGroupedDataset,
      df: DataFrame): (Map[Row, Seq[Any]], Map[Row, Seq[Any]], Boolean) = {
    val aggs = products.flatMap { case (n, c) =>
      Seq(call_function("graft_exact_sum", c).as(s"k_$n"), sum(c).as(s"s_$n")) }
    val g = group(df).agg(aggs.head, aggs.tail: _*)
    val keys = g.columns.filterNot(c => c.startsWith("k_") || c.startsWith("s_"))
    val rows = g.collect()
    def pick(prefix: String) = rows.map { r =>
      Row.fromSeq(keys.map(r.getAs[Any])) ->
        products.map { case (n, _) => r.getAs[Any](s"$prefix$n") }
    }.toMap
    val typesMatch = products.forall { case (n, _) =>
      g.schema(s"k_$n").dataType == g.schema(s"s_$n").dataType }
    (pick("k_"), pick("s_"), typesMatch)
  }

  private def sameSums(group: DataFrame => org.apache.spark.sql.RelationalGroupedDataset)
      : Prop = {
    val genCase = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, genRow)
      parts <- Gen.choose(1, 4)
    } yield (rows, parts)
    Prop.forAllNoShrink(genCase) { case (rows, parts) =>
      val (k, s, typesMatch) = both(group, frame(rows, parts))
      if (k != s || !typesMatch) println(s"sum mismatch:\n kernel=$k\n spark=$s")
      k == s && typesMatch
    }
  }

  test("sum equals Spark's decimal sum: groups, nulls, 2^63/2^64 crossings") {
    checkProp(sameSums(_.groupBy(col("k"))), 25)
    checkProp(sameSums(_.groupBy()), 10) // one global group, empty input included
    // a group whose totals cross 2^63 and 2^64 unscaled, both signs
    val rows = Seq.fill(4)((0, Some(9999999999.0), Some(-49.0), Some(49.0))) ++
      Seq.fill(4)((1, Some(-9999999999.0), Some(-49.0), Some(49.0)))
    val (k, s, _) = both(_.groupBy(col("k")), frame(rows, 2))
    assert(k == s)
    val charge = k.values.map(_(2).asInstanceOf[java.math.BigDecimal].unscaledValue.abs)
    assert(charge.forall(_.bitLength > 64), charge)
  }

  test("all-null and empty groups are NULL, as in Spark") {
    val rows = Seq((0, None, Some(0.05), Some(0.01)), (0, None, None, None),
      (1, Some(1.5), Some(0.05), None), (2, Some(2.5), Some(0.1), Some(0.02)))
    val (k, s, _) = both(_.groupBy(col("k")), frame(rows, 2))
    assert(k == s)
    assert(k(Row(0)).forall(_ == null))
    assert(k(Row(1))(2) == null && k(Row(1))(0) != null)
    val (ke, se, _) = both(_.groupBy(), frame(Nil, 1))
    assert(ke == se && ke(Row()).forall(_ == null))
  }

  test("rollup, cube and grouping sets (the q24/q25/q33 shapes) match") {
    checkProp(sameSums(df => df.rollup(col("k"), (col("k") % 2).as("odd"))), 8)
    checkProp(sameSums(df => df.cube(col("k"), (col("k") % 2).as("odd"))), 8)
    // grouping sets from SQL text: the kernel is an ordinary function there
    val rows = Seq.tabulate(40)(i => (i % 3, Some(i * 1.25), Some((i % 10) / 100.0), Some(0.02)))
    frame(rows, 3).createOrReplaceTempView("exact_gs")
    val sql = (f: String) => spark.sql(
      s"""SELECT k, k % 2 AS odd, $f(CAST(p AS DECIMAL(12,2)) *
         |  CAST(1.0 - d AS DECIMAL(4,2)) * CAST(1.0 + t AS DECIMAL(4,2))) AS v
         |FROM exact_gs GROUP BY GROUPING SETS ((k), (k % 2), ())""".stripMargin)
      .collect().toSet
    assert(sql("graft_exact_sum") == sql("sum"))
  }

  // ---- overflow ---------------------------------------------------------

  /** `n` rows of ±9.99e9 in `parts` ordered splits (positive below
    * `flip`), summed as a three-money product: decimal(38,6), the widest
    * exact product, so ~100 rows reach the 10^38 bound. */
  private def cubes(n: Long, parts: Int, flip: Long, ansi: Boolean): (Any, Any) = {
    val df = spark.range(0, n, 1, parts)
      .select(when(col("id") < flip, lit(9.99e9)).otherwise(lit(-9.99e9)).as("x"))
    val c = money(col("x")) * money(col("x")) * money(col("x"))
    def run(f: Column): Any = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try df.agg(f).collect().head.get(0)
      catch { case e: Exception => condition(e) }
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    (run(call_function("graft_exact_sum", c)), run(sum(c)))
  }

  test("overflow past decimal(38) raises Spark's error (ANSI) or NULL") {
    def same(n: Long, parts: Int, flip: Long, ansi: Boolean): Any = {
      val (k, s) = cubes(n, parts, flip, ansi)
      assert(k == s, s"n=$n parts=$parts flip=$flip ansi=$ansi")
      k
    }
    // in range, right below 10^38
    assert(same(100, 2, 100, ansi = true).isInstanceOf[java.math.BigDecimal])
    // each partial sum leaves decimal(38,6): the overflow NULL, then the error
    assert(same(240, 2, 120, ansi = true) == "ARITHMETIC_OVERFLOW")
    // partials in range, the merged total is not
    assert(same(120, 2, 120, ansi = true) == "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
    // a partial that goes out of range and comes back is fine
    assert(same(240, 1, 120, ansi = true).isInstanceOf[java.math.BigDecimal])
    assert(same(240, 2, 120, ansi = false) == null)
    assert(same(120, 2, 120, ansi = false) == null)
  }
}
