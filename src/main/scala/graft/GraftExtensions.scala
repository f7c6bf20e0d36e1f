package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ArrayDot, Fnv1a64, TokenCount}

/** Rewrites `size(split(s, ' ', -1))` → [[TokenCount]] — a byte scan
  * instead of array materialization. Only fires under the non-legacy
  * size(NULL)=NULL semantics, which TokenCount matches (nullIntolerant).
  */
object OptimizeTokenCount extends Rule[LogicalPlan] {
  private val spaceRegex = UTF8String.fromString(" ")

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(StringSplit(str, Literal(sep: UTF8String, StringType),
          Literal(-1, IntegerType)), false) if sep == spaceRegex =>
      TokenCount(str)
  }
}

/** Full Catalyst extension surface (SURVEY.md §2.13 / §4.3):
  * native functions + optimizer rule, registered either via
  * `spark.sql.extensions=graft.GraftExtensions` (new sessions) or
  * [[GraftExtensions.install]] (an already-running session, which is what
  * [[Session.local]] and the tests use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.fnv1a64Descriptor)
    ext.injectFunction(GraftExtensions.tokenCountDescriptor)
    ext.injectFunction(GraftExtensions.arrayDotDescriptor)
    ext.injectOptimizerRule(_ => OptimizeTokenCount)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {
  private def descriptor(
      name: String,
      usage: String,
      builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, ""),
      (children: Seq[Expression]) => builder(children))

  val fnv1a64Descriptor =
    descriptor("fnv1a64", "fnv1a64(str) - FNV-1a 64-bit hash of str",
      children => Fnv1a64(children.head))

  val tokenCountDescriptor =
    descriptor("token_count",
      "token_count(str) - number of single-space-separated tokens",
      children => TokenCount(children.head))

  val arrayDotDescriptor =
    descriptor("array_dot",
      "array_dot(a, b) - dot product of two double arrays",
      children => ArrayDot(children.head, children(1)))

  /** Idempotently install the functions + rule on a live session (covers
    * harness-built sessions where `spark.sql.extensions` wasn't set). */
  def install(spark: SparkSession): Unit = {
    val registry = org.apache.spark.sql.graft.Shim.functionRegistry(spark)
    Seq(fnv1a64Descriptor, tokenCountDescriptor, arrayDotDescriptor).foreach {
      case (ident, info, builder) =>
        registry.registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(OptimizeTokenCount))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ OptimizeTokenCount
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
  }
}
