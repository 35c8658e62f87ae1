package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Cast, Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns (SURVEY.md §7.2 custom-surface; the
  * `zip_with`+`aggregate` formulation is correct but higher-order
  * functions evaluate interpreted — this compiles to a tight primitive
  * loop inside whole-stage codegen, the per-pair kernel of every
  * similarity-search operator at 100 TB).
  *
  * Math is a single sequential pass (dot, |a|², |b|² accumulated in
  * element order, one division at the end) — the same operation order as
  * the DuckDB oracle formulation, so results stay bit-comparable.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // the Cast to array<double> keeps containsNull=true, so guard null
      // elements explicitly. A null element is 0.0: it contributes nothing
      // to the dot product OR its own norm, but the non-null counterpart
      // still contributes to ITS norm — the same semantics as an oracle
      // that sums squares over all (null-coalesced) elements.
      val xi = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yi = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    // zero-norm vectors score 0, not NaN: NaN sorts ABOVE every real
    // value in Spark's descending order, so one all-zero vector would
    // otherwise rank as the top neighbor of everything it meets
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName everything: with non-nullable children nullSafeCodeGen
      // pastes this block unbraced, and two cosine calls fused into one
      // codegen method would otherwise collide on variable names
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
         |  double $yi = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The single source of truth for graft's native function surface: name,
  * defining class (for ExpressionInfo), and builder. Consumed by both
  * registration paths below so they cannot drift.
  */
object GraftFunctions {

  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity],
      (exprs: Seq[Expression]) => CosineSimilarity(
        Cast(exprs(0), ArrayType(DoubleType)),
        Cast(exprs(1), ArrayType(DoubleType)))),
    // Cast the child to LongType here (same hardening as graft_cosine /
    // graft_shingles): ImplicitCastInputTypes is private[sql], and without
    // the Cast a non-bigint argument fails per-row in update() instead of
    // at analysis time.
    ("graft_minhash", classOf[MinHashAgg],
      (exprs: Seq[Expression]) => new MinHashAgg(Cast(exprs.head, LongType))),
    ("graft_simhash", classOf[SimHashAgg],
      (exprs: Seq[Expression]) => new SimHashAgg(Cast(exprs.head, LongType))),
    ("graft_kmv", classOf[KmvAgg],
      (exprs: Seq[Expression]) => new KmvAgg(Cast(exprs.head, LongType))),
    ("graft_kmv_set", classOf[KmvSetAgg],
      (exprs: Seq[Expression]) => new KmvSetAgg(Cast(exprs.head, LongType))),
    ("graft_tokhash", classOf[TokenPolyHash],
      (exprs: Seq[Expression]) => TokenPolyHash(Cast(exprs.head, StringType))),
    // Spark's own runtime-filter machinery (BloomFilterAggregate +
    // BloomFilterMightContain) exposed as SQL functions, with the key
    // pre-hashed through XxHash64 exactly as InjectRuntimeFilter wires
    // them. The bloom's bytes never surface in a result — q131 uses the
    // filter as a PRE-JOIN prune and an exact semi-join finishes the
    // query — so the engine-private hash is fine here. 100k expected
    // items ≈ 120 KB of filter, the broadcast-as-scalar-subquery budget.
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      (exprs: Seq[Expression]) => new BloomFilterAggregate(
        new XxHash64(Seq(Cast(exprs.head, LongType))), Literal(100000L))),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      (exprs: Seq[Expression]) => BloomFilterMightContain(
        exprs(0), new XxHash64(Seq(Cast(exprs(1), LongType))))),
    ("graft_shingles", classOf[ShingleHashes],
      (exprs: Seq[Expression]) => ShingleHashes(Cast(exprs.head, StringType))),
    ("graft_shingles_poly", classOf[ShinglePolyHashes],
      (exprs: Seq[Expression]) => ShinglePolyHashes(Cast(exprs.head, StringType))),
    ("graft_spans_poly", classOf[SpanPolyHashes],
      (exprs: Seq[Expression]) => SpanPolyHashes(Cast(exprs.head, StringType))),
    ("graft_simtoken", classOf[SimTokenPolyHash],
      (exprs: Seq[Expression]) => SimTokenPolyHash(Cast(exprs.head, StringType))),
    ("graft_cdc_cuts", classOf[CdcCuts],
      (exprs: Seq[Expression]) => CdcCuts(Cast(exprs.head, StringType))),
    ("graft_bpe_merge", classOf[BpeApplyMerge],
      (exprs: Seq[Expression]) => BpeApplyMerge(exprs(0),
        Cast(exprs(1), StringType), Cast(exprs(2), StringType))),
    ("graft_nfc", classOf[NormalizeNfc],
      (exprs: Seq[Expression]) => NormalizeNfc(Cast(exprs.head, StringType))),
    ("graft_nfc_lower", classOf[NfcLowerSimple],
      (exprs: Seq[Expression]) => NfcLowerSimple(Cast(exprs.head, StringType))),
    ("graft_deflate_len", classOf[DeflateLen],
      (exprs: Seq[Expression]) => DeflateLen(Cast(exprs.head, StringType))),
    // arg 0 is the decimal product the kernel replaces (a product of
    // CAST(<double> AS DECIMAL(p, s)) factors, see Exact); it is taken
    // apart at analysis, so the casts and decimal multiplies never run
    ("graft_exact_sum", classOf[ExactSum],
      (exprs: Seq[Expression]) => ExactSum.fromProduct(exprs.head)),
    ("graft_heavy_hitters", classOf[HeavyHittersAgg],
      (exprs: Seq[Expression]) => new HeavyHittersAgg(Cast(exprs.head, StringType))),
    // arg 1 must be a literal output-dimension index (it selects the
    // matrix row at plan time); arg 0 stays an array<float> column —
    // no Cast, because float→double widening happens inside the kernel
    // exactly where the SQL formulation it replaced did it
    ("graft_random_project", classOf[RandomProjectCol],
      (exprs: Seq[Expression]) => RandomProjectCol(
        exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue())),
    // args 2/3 are plan-time literals (domain size / bits) — model-sized
    // driver state, the BPE-merge-literal convention
    ("graft_feistel_walk", classOf[FeistelWalk],
      (exprs: Seq[Expression]) => FeistelWalk(exprs(0), exprs(1),
        exprs(2).eval(null).asInstanceOf[Number].longValue(),
        exprs(3).eval(null).asInstanceOf[Number].intValue())))

  /** Idempotent per-session fallback: queries can run against sessions
    * not built by GraftSession (e.g. a driver-owned session), so each
    * query entry point ensures every graft function exists and the
    * session configs the queries depend on are set (runtime-settable SQL
    * confs only). Each function is checked individually. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    // events.parquet carries TIMESTAMP(NANOS); oracle parity needs UTC
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    // whole-operator surface: the GroupTopK planner strategy plus the
    // window-top-k rewrite rule (runtime appends — the extraStrategies/
    // extraOptimizations analogs of the injectPlannerStrategy/
    // injectOptimizerRule calls in GraftExtensions)
    org.apache.spark.sql.graft.GraftSqlBridge
      .ensureStrategy(spark, graft.plans.GroupTopKStrategy)
    org.apache.spark.sql.graft.GraftSqlBridge
      .ensureOptimizerRule(spark, graft.plans.RewriteWindowTopK)
  }
}

/** Session extensions registering graft's native functions for SQL and
  * `expr(...)` use (the SparkSessionExtensions mechanism — SURVEY.md §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
  }
}
