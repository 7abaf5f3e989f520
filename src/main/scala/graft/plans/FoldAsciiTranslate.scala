package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Literal, StringTranslate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite the engine's declarative ASCII casefold —
  * `translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdef…')`, the
  * dialect-free casing law every text law spells since round 11 — to
  * the native byte-folding [[graft.expressions.AsciiLower]].
  *
  * The rewrite fires only on the EXACT canonical alphabet pair (the
  * one `TextAnalysis.asciiLower`/`asciiLowerSql` emit and the
  * CasefoldConventionSpec pins), only on default-collation strings,
  * and is fixpoint-safe (the result contains no `StringTranslate`).
  * Call sites stay on the declarative translate form, the spelling the
  * oracle SQL shares; ad-hoc SQL that spells the same translate gets
  * the fast path for free.
  *
  * Installed by [[graft.GraftExtensions]] via `injectOptimizerRule`.
  */
object FoldAsciiTranslate extends Rule[LogicalPlan] {
  // the single source of truth for the canonical alphabet — a private
  // copy here could drift and silently stop the rewrite from firing
  private def Upper = graft.functions.TextAnalysis.UpperAscii
  private def Lower = graft.functions.TextAnalysis.LowerAsciiChars

  override def apply(plan: LogicalPlan): LogicalPlan =
    // the pattern's alphabet arguments are literals, so LITERAL-bearing
    // subtrees are the only candidates — same pruned-walk stance as the
    // sibling ThresholdLevenshtein (BINARY_COMPARISON)
    plan.transformAllExpressionsWithPruning(
      _.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.LITERAL)) {
      case StringTranslate(x,
          Literal(m: UTF8String, StringType),
          Literal(r: UTF8String, StringType))
          if m.toString == Upper && r.toString == Lower &&
            x.dataType == StringType =>
        graft.expressions.AsciiLower(x)
    }
}
