package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: round `x` to the nearest multiple of
  * `base` with HALF_UP ties (the reference's round-to-arbitrary-base
  * helper, `capacity_change.py:221-223`, `shade.py:20`).
  *
  * Semantics exactly match `round(x / base, 0) * base` built from
  * Spark built-ins (BigDecimal HALF_UP), so plans using either form
  * agree bit-for-bit — but this runs as ONE codegen'd expression
  * instead of three, demonstrating the custom-`Expression` extension
  * path (`doGenCode`, not a Scala UDF: stays inside whole-stage
  * codegen, null-safe, Catalyst-foldable when inputs are literals).
  */
case class RoundToBase(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round_to_base"

  override protected def nullSafeEval(x: Any, b: Any): Any = {
    val base = b.asInstanceOf[Double]
    val v = x.asInstanceOf[Double]
    if (base == 0.0 || base.isNaN || v.isNaN) Double.NaN
    else
      java.math.BigDecimal
        .valueOf(v / base)
        .setScale(0, java.math.RoundingMode.HALF_UP)
        .doubleValue() * base
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, b) =>
      s"""(($b == 0.0 || Double.isNaN($b) || Double.isNaN($x))
         |  ? Double.NaN
         |  : java.math.BigDecimal.valueOf($x / $b)
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() * $b)""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft's native expressions into a session's
  * function registry (per-session, idempotent) — usable from SQL and
  * `expr(...)` without `SparkSessionExtensions` wiring, and from a
  * `withExtensions` builder via [[GraftExtensions]].
  */
object GraftFunctions {
  /** Builder with explicit double casts (keeps the expression itself
    * monomorphic — SQL decimal/int literals are welcome).
    */
  def build(exprs: Seq[Expression]): Expression =
    RoundToBase(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType))

  // sessions already registered (weak keys: a stopped session must not
  // be pinned by the guard) — lets library Column builders call
  // [[ensure]] on every invocation without re-registering or spamming
  // "replaced a previously registered function" warnings
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register into the current active (or default)
    * session. Library Column builders that resolve a graft function
    * BY NAME (`call_function`) call this first, so a consumer holding
    * a plain `SparkSession` — one that never went through
    * `GraftSession.local` — still resolves the functions at analysis
    * time instead of failing with "undefined function".
    */
  def ensure(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(ensure)

  /** Session-explicit variant for call sites that hold a DataFrame. */
  def ensure(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) register(spark)

  def register(spark: SparkSession): Unit = {
    registered.put(spark, java.lang.Boolean.TRUE)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_round_to_base",
      build,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      ArrayDot.buildDot,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dist2",
      ArrayDot.buildDist2,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_rolling_hashes",
      buildRollingHashes,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_contains",
      buildBloomContains,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_deflate_ratio",
      buildDeflateRatio,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_band_sigs",
      buildLshBandSigs,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_barrier",
      buildBarrier,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dup_ngram_frac",
      buildDupNgramFrac,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_stopword_ratio",
      buildStopwordRatio,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_alpha_word_frac",
      buildAlphaWordFrac,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_rolling_minhash_sig",
      buildRollingMinhashSig,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_double_order_bits",
      buildDoubleOrderBits,
      "built-in"
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_winnow_mins",
      buildWinnowMins,
      "built-in"
    )
  }

  def buildDoubleOrderBits(exprs: Seq[Expression]): Expression =
    DoubleOrderBits(Cast(exprs(0), DoubleType))

  def buildRollingHashes(exprs: Seq[Expression]): Expression =
    RollingHashes(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType))

  def buildBloomContains(exprs: Seq[Expression]): Expression =
    BloomContains(
      Cast(exprs(0), org.apache.spark.sql.types.BinaryType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType))

  def buildDeflateRatio(exprs: Seq[Expression]): Expression =
    DeflateRatio(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildLshBandSigs(exprs: Seq[Expression]): Expression =
    LshBandSigs(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(2), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(3), org.apache.spark.sql.types.IntegerType))

  def buildBarrier(exprs: Seq[Expression]): Expression =
    graft.plans.PredicateBarrier(Cast(exprs(0), org.apache.spark.sql.types.BooleanType))

  def buildDupNgramFrac(exprs: Seq[Expression]): Expression =
    DupNgramFrac(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType))

  def buildStopwordRatio(exprs: Seq[Expression]): Expression =
    StopwordRatio(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildAlphaWordFrac(exprs: Seq[Expression]): Expression =
    AlphaWordFrac(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildRollingMinhashSig(exprs: Seq[Expression]): Expression =
    RollingMinhashSig(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(2), org.apache.spark.sql.types.IntegerType))

  def buildWinnowMins(exprs: Seq[Expression]): Expression =
    WinnowMins(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(2), org.apache.spark.sql.types.IntegerType))
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_round_to_base"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[RoundToBase].getName, "graft_round_to_base"),
        (exprs: Seq[Expression]) => GraftFunctions.build(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayDot].getName, "graft_dot"),
        (exprs: Seq[Expression]) => ArrayDot.buildDot(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dist2"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayDist2].getName, "graft_dist2"),
        (exprs: Seq[Expression]) => ArrayDot.buildDist2(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_rolling_hashes"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[RollingHashes].getName, "graft_rolling_hashes"),
        (exprs: Seq[Expression]) => GraftFunctions.buildRollingHashes(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_bloom_contains"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[BloomContains].getName, "graft_bloom_contains"),
        (exprs: Seq[Expression]) => GraftFunctions.buildBloomContains(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_deflate_ratio"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DeflateRatio].getName, "graft_deflate_ratio"),
        (exprs: Seq[Expression]) => GraftFunctions.buildDeflateRatio(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_band_sigs"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[LshBandSigs].getName, "graft_lsh_band_sigs"),
        (exprs: Seq[Expression]) => GraftFunctions.buildLshBandSigs(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_barrier"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.plans.PredicateBarrier].getName, "graft_barrier"),
        (exprs: Seq[Expression]) => GraftFunctions.buildBarrier(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dup_ngram_frac"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DupNgramFrac].getName, "graft_dup_ngram_frac"),
        (exprs: Seq[Expression]) => GraftFunctions.buildDupNgramFrac(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_stopword_ratio"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[StopwordRatio].getName, "graft_stopword_ratio"),
        (exprs: Seq[Expression]) => GraftFunctions.buildStopwordRatio(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_alpha_word_frac"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[AlphaWordFrac].getName, "graft_alpha_word_frac"),
        (exprs: Seq[Expression]) => GraftFunctions.buildAlphaWordFrac(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_rolling_minhash_sig"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[RollingMinhashSig].getName, "graft_rolling_minhash_sig"),
        (exprs: Seq[Expression]) => GraftFunctions.buildRollingMinhashSig(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_double_order_bits"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DoubleOrderBits].getName, "graft_double_order_bits"),
        (exprs: Seq[Expression]) => GraftFunctions.buildDoubleOrderBits(exprs))
    )
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_winnow_mins"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[WinnowMins].getName, "graft_winnow_mins"),
        (exprs: Seq[Expression]) => GraftFunctions.buildWinnowMins(exprs))
    )
    // nearest-ts range joins written naively become bucketed equi-joins
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    // naive point-in-interval band joins become the IntervalJoin plan
    e.injectOptimizerRule(_ => graft.plans.IntervalJoinRule)
  }
}
