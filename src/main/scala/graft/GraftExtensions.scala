package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.plans.{AsOfJoinStrategy, RangeJoinRewrite}

/** The single table of everything the engine installs into a Spark
  * session: its native SQL functions, the [[RangeJoinRewrite]] optimizer
  * rule and the [[AsOfJoinStrategy]] planner strategy.
  *
  * The table is applied in one of two ways:
  *  - `apply`, for a session built with `spark.sql.extensions=
  *    graft.GraftExtensions` or `builder.withExtensions(new
  *    GraftExtensions)` (the path a cluster admin configures once for
  *    all jobs);
  *  - [[GraftExtensions.install]], for a session that already exists.
  *    `SparkEntry.queries` calls it on every entry, so every declared
  *    query sees the same extensions whichever query ran first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def fn[T: ClassTag](name: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** Checked foldable-literal extraction: a non-INT argument (e.g. written
    * as 32L, or a column) must fail analysis with a real message, not a
    * ClassCastException from a blind cast. */
  private def intLiteral(fn: String, arg: String, e: Expression): Int =
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a foldable INT literal, got ${e.sql}")
    else e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an INT literal, got $other (${e.dataType.simpleString})")
    }

  private[graft] val Functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[DotProduct]("vec_dot")(e => DotProduct(e(0), e(1))),
    fn[LgMicro]("lg_micro")(e => LgMicro(e(0))),
    fn[HaversineKm]("haversine_km")(e => HaversineKm(e(0), e(1), e(2), e(3))),
    fn[SimHashSig]("simhash_sig")(e => SimHashSig(e(0))),
    fn[PackedPairs]("packed_pairs")(e => PackedPairs(e(0))),
    fn[LangTrigramScores]("lang_trigram_scores")(e =>
      LangTrigramScores(e(0), operators.Text.langProfiles)),
    fn[CharNgrams]("char_ngrams")(e =>
      CharNgrams(e(0), intLiteral("char_ngrams", "n", e(1)))),
    fn[MinHashSigs]("minhash_sigs")(e =>
      MinHashSigs(e(0), intLiteral("minhash_sigs", "numPerms", e(1)))),
    fn[Md5MinHashSigs]("md5_minhash_sigs")(e =>
      Md5MinHashSigs(e(0), intLiteral("md5_minhash_sigs", "numPerms", e(1)))),
    fn[WeightedAvgCents]("wavg_cents")(e =>
      WeightedAvgCents(e(0), e(1)).toAggregateExpression()),
    fn[WeightedMedianCents]("wmedian_cents")(e =>
      WeightedMedianCents(e(0), e(1)).toAggregateExpression()))

  /** Applies the table to an existing session. Idempotent, after
    * Pathling's `SqlStrategy.setup`: the table is installed as a whole, so
    * a session whose planner already carries the strategy, from an earlier
    * call or from `apply`, is left as it is. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy)) {
      val registry = spark.sessionState.functionRegistry
      Functions.foreach { case (id, info, build) =>
        registry.registerFunction(id, info, build) }
      spark.experimental.extraOptimizations :+= RangeJoinRewrite
      spark.experimental.extraStrategies :+= AsOfJoinStrategy
    }
  }
}
