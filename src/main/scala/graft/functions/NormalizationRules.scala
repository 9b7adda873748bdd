package graft.functions

import org.apache.spark.sql.catalyst.expressions.StringTrim
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: collapse SELF-IDEMPOTENT normalization chains —
  * `graft_nfc(graft_nfc(x)) → graft_nfc(x)` and nested plain `trim`.
  * Composed pipelines produce these naturally: every stage of the ingest
  * chain (robots gate → NFC → line cleanse → fingerprint) defensively
  * normalizes its input because it cannot know what ran before it, so
  * the fused plan ends up normalizing the same column twice — per row,
  * per stage. The inner call is pure overhead: each listed function is
  * idempotent (`f(f(x)) = f(x)` exactly). This extends to CUSTOM
  * expressions the simplification Spark's own
  * `SimplifyCaseConversionExpressions` performs for lower/upper chains
  * (which is why case conversions are NOT matched here — upstream
  * already owns them; a second rule would double-claim the rewrite).
  *
  * Deliberately conservative: only IDENTICAL adjacent operations
  * collapse, and only charset-less trim (`trim(BOTH 'x' FROM
  * trim(BOTH 'y' FROM s))` is idempotent only per-charset and is left
  * alone).
  *
  * Registered on BOTH function surfaces: `spark.sql.extensions` via
  * [[GraftExtensions]]`.injectOptimizerRule`, and the imperative
  * [[GraftFunctions.register]] via `spark.experimental.extraOptimizations`.
  * Expressions are rewritten bottom-up, so arbitrarily long chains
  * collapse pairwise to one call in a single rule pass.
  */
object CollapseIdempotentNormalization extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case op =>
      op.transformExpressionsUp {
        case NfcExpression(inner @ NfcExpression(_)) => inner
        case StringTrim(inner @ StringTrim(_, None), None) => inner
      }
    }
}
