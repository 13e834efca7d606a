package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Compiler-style lowering pass: when the window bounds are foldable,
  * rewrite [[GraftWindowIntensity]] into built-in arithmetic so Catalyst's
  * `ConstantFolding` collapses `low`/`high`/denominator into literals at
  * plan time — the per-row work becomes two comparisons and one multiply.
  * (With non-foldable bounds the custom codegen form is already optimal,
  * so the rule leaves it alone.)
  */
object LowerGraftWindow extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{
    Add, Cast, Divide, Floor, Greatest, If, IsNull, Least, Multiply, Subtract}
  import org.apache.spark.sql.types.LongType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // Null discipline: GraftWindowIntensity is null-intolerant (NULL in →
    // NULL out), but Greatest/Least SKIP null inputs — an unguarded rewrite
    // would turn NULL v into a number. Null literal bounds are rejected at
    // rewrite time (eval of a foldable is cheap); a nullable v keeps the
    // semantics via an explicit IsNull guard that whole-stage codegen
    // compiles to one branch.
    case GraftWindowIntensity(v, wc, ww)
        if wc.foldable && ww.foldable &&
          wc.eval(null) != null && ww.eval(null) != null =>
      val low = Subtract(wc, Divide(ww, Literal(2.0)))
      val high = Add(wc, Divide(ww, Literal(2.0)))
      val clipped = Least(Seq(Greatest(Seq(v, low)), high))
      val denom = Greatest(Seq(Subtract(high, low), Literal(1e-6)))
      val lowered = Cast(
        Floor(Multiply(Divide(Subtract(clipped, low), denom), Literal(255.0))),
        LongType)
      if (v.nullable) If(IsNull(v), Literal(null, LongType), lowered) else lowered
  }
}

/** `SparkSessionExtensions` hook: registers the `graft_window` SQL function
  * and the lowering rule. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_window"),
      new ExpressionInfo(classOf[GraftWindowIntensity].getName, "graft_window"),
      GraftFunctions.builder))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[ArrayCosineSimilarity].getName, "graft_cosine"),
      GraftFunctions.cosineBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[ArrayL2Squared].getName, "graft_l2sq"),
      GraftFunctions.l2sqBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_counts"),
      new ExpressionInfo(classOf[CharCounts36].getName, "graft_char_counts"),
      GraftFunctions.charCountsBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      GraftFunctions.simhashBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "graft_hyperplane"),
      GraftFunctions.hyperplaneBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash64].getName, "graft_rolling_hash"),
      GraftFunctions.rollingHashBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      GraftFunctions.minhashSigBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_window_hashes"),
      new ExpressionInfo(classOf[WindowHashes].getName, "graft_window_hashes"),
      GraftFunctions.windowHashesBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_window_hash_counts"),
      new ExpressionInfo(classOf[WindowHashCounts].getName, "graft_window_hash_counts"),
      GraftFunctions.windowHashCountsBuilder))
    ext.injectOptimizerRule(_ => LowerGraftWindow)
    ext.injectPlannerStrategy(_ => GraftTopKStrategy)
  }
}

/** Runtime registration for an ALREADY-RUNNING session (extensions are
  * builder-time only — `withExtensions` on `getOrCreate` of an existing
  * session is silently ignored). The lowering rule lands in
  * `experimental.extraOptimizations`, which runs after the main optimizer
  * batches — lowering still applies, but literal bounds fold at codegen
  * rather than plan time. Prefer [[GraftExtensions]] at builder time.
  */
object GraftFunctions {
  val builder: Seq[Expression] => Expression = children => {
    require(children.length == 3, "graft_window(v, window_center, window_width)")
    GraftWindowIntensity(children(0), children(1), children(2))
  }

  val cosineBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_cosine(a, b)")
    ArrayCosineSimilarity(children(0), children(1))
  }

  val l2sqBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_l2sq(a, b)")
    ArrayL2Squared(children(0), children(1))
  }

  val charCountsBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 1, "graft_char_counts(text)")
    CharCounts36(children(0))
  }

  val simhashBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 1, "graft_simhash(tokens)")
    SimHash64(children(0))
  }

  val hyperplaneBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_hyperplane(vec, nPlanes)")
    HyperplaneBucket(children(0), children(1))
  }

  val rollingHashBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 1, "graft_rolling_hash(normalized_text)")
    RollingHash64(children(0))
  }

  val minhashSigBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_minhash_sig(shingles, numHashes)")
    MinHashSig(children(0), children(1))
  }

  val windowHashesBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_window_hashes(normalized_text, window_len)")
    WindowHashes(children(0), children(1))
  }

  val windowHashCountsBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_window_hash_counts(normalized_text, window_len)")
    WindowHashCounts(children(0), children(1))
  }

  val adcFoldBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_adc_fold(codes, tab)")
    AdcFold(children(0), children(1))
  }

  private val builders = Seq(
    "graft_window" -> builder, "graft_cosine" -> cosineBuilder,
    "graft_l2sq" -> l2sqBuilder, "graft_char_counts" -> charCountsBuilder,
    "graft_simhash" -> simhashBuilder, "graft_hyperplane" -> hyperplaneBuilder,
    "graft_rolling_hash" -> rollingHashBuilder,
    "graft_minhash_sig" -> minhashSigBuilder,
    "graft_window_hashes" -> windowHashesBuilder,
    "graft_window_hash_counts" -> windowHashCountsBuilder,
    "graft_adc_fold" -> adcFoldBuilder)

  /** Registers only what the session lacks, so a repeat call is a no-op:
    * the hot paths call this per micro-batch, and re-registering a
    * function replaces it (one registry WARN line each). Cloned sessions
    * — streams run on clones — copy the registry and the extra rules. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(LowerGraftWindow))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ LowerGraftWindow
    if (!spark.experimental.extraStrategies.contains(GraftTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftTopKStrategy
  }
}
