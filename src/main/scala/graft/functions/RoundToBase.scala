package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types._

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
  * `withExtensions` builder via [[GraftExtensions]]. Both read the one
  * table, [[Natives]].
  */
object GraftFunctions {
  private def str(e: Expression) = Cast(e, StringType)
  private def int(e: Expression) = Cast(e, IntegerType)
  private def dbl(e: Expression) = Cast(e, DoubleType)
  private def dblArr(e: Expression) = Cast(e, ArrayType(DoubleType))

  /** Every native function: SQL name, expression class, builder. The
    * builders cast their arguments explicitly (keeps each expression
    * monomorphic — SQL decimal/int literals are welcome).
    */
  val Natives: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_round_to_base", classOf[RoundToBase], e => RoundToBase(dbl(e(0)), dbl(e(1)))),
    ("graft_dot", classOf[ArrayDot], e => ArrayDot(dblArr(e(0)), dblArr(e(1)))),
    ("graft_dist2", classOf[ArrayDist2], e => ArrayDist2(dblArr(e(0)), dblArr(e(1)))),
    ("graft_rolling_hashes", classOf[RollingHashes], e => RollingHashes(str(e(0)), int(e(1)))),
    ("graft_bloom_contains", classOf[BloomContains],
      e => BloomContains(Cast(e(0), BinaryType), Cast(e(1), LongType))),
    ("graft_deflate_ratio", classOf[DeflateRatio], e => DeflateRatio(str(e(0)))),
    ("graft_lsh_band_sigs", classOf[LshBandSigs],
      e => LshBandSigs(str(e(0)), int(e(1)), int(e(2)), int(e(3)))),
    ("graft_barrier", classOf[graft.plans.PredicateBarrier],
      e => graft.plans.PredicateBarrier(Cast(e(0), BooleanType))),
    ("graft_dup_ngram_frac", classOf[DupNgramFrac], e => DupNgramFrac(str(e(0)), int(e(1)))),
    ("graft_stopword_ratio", classOf[StopwordRatio], e => StopwordRatio(str(e(0)))),
    ("graft_alpha_word_frac", classOf[AlphaWordFrac], e => AlphaWordFrac(str(e(0)))),
    ("graft_rolling_minhash_sig", classOf[RollingMinhashSig],
      e => RollingMinhashSig(str(e(0)), int(e(1)), int(e(2)))),
    ("graft_double_order_bits", classOf[DoubleOrderBits], e => DoubleOrderBits(dbl(e(0)))),
    ("graft_winnow_mins", classOf[WinnowMins], e => WinnowMins(str(e(0)), int(e(1)), int(e(2)))),
    // a TIMESTAMP_NTZ stays NTZ: its fields read as wall-clock time
    ("graft_solar_position", classOf[SolarPosition], e => SolarPosition(
      if (e(0).dataType == TimestampNTZType) e(0) else Cast(e(0), TimestampType), dbl(e(1)), dbl(e(2))))
  )

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
    Natives.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.Natives.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // nearest-ts range joins written naively become bucketed equi-joins
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    // naive point-in-interval band joins become the IntervalJoin plan
    e.injectOptimizerRule(_ => graft.plans.IntervalJoinRule)
  }
}
