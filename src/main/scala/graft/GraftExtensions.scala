package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
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

  /** Entries of Spark's generated-class cache. The cache is JVM-wide,
    * keyed by (class loader, source), and sized once, from `SQLConf.get`,
    * when `CodeGenerator` initializes. Spark's default of 100 is below
    * what one pass of the search ops generates (about 300 classes), so
    * with it every steady pass evicted and recompiled its classes. */
  private val CodegenCacheEntries = 2000

  private val codegenCacheSized = new AtomicBoolean(false)

  /** Initialize `CodeGenerator` under a private conf whose cache cap is
    * the larger of the session's and [[CodegenCacheEntries]]; the
    * session's own conf is never written. Only the first call acts: the
    * cache cannot be resized once built. */
  private def sizeCodegenCache(spark: SparkSession): Unit =
    if (codegenCacheSized.compareAndSet(false, true)) {
      val entry = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
      if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "generated code was compiled before GraftExtensions.install, so " +
            "Spark's codegen cache keeps the cap it was built with and is " +
            s"not sized to $CodegenCacheEntries entries")
      else {
        val conf = new SQLConf
        conf.setConf(entry, math.max(CodegenCacheEntries,
          spark.conf.get(entry.key).toInt))
        SQLConf.withExistingConf(conf)(CodeGenerator.getClass)
      }
    }

  /** Idempotently install the functions + rule on a live session (covers
    * harness-built sessions where `spark.sql.extensions` wasn't set), and
    * size the codegen cache before the JVM's first compile. */
  def install(spark: SparkSession): Unit = {
    sizeCodegenCache(spark)
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
