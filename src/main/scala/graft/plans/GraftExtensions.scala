package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Build-time extension hook for sessions the ENGINE constructs
  * (`graft.Sessions.local` sets `spark.sql.extensions` to this class):
  * injects [[ZonedInstantComparison]] as a post-hoc resolution rule, so
  * zoned comparisons rewrite to instant semantics at ANALYSIS time —
  * before ConstantFolding can fold a both-sides-literal comparison with
  * struct pair semantics (the former ledger residual; r8).
  *
  * The rule is idempotent and ALSO stays installed via
  * `spark.experimental.extraOptimizations` (Registry.install), which is
  * the only hook available on driver-provided sessions; there the
  * literal-literal edge is closed by the ZonedShield anti-folding
  * wrapper (r10), and every column-bearing shape by the optimizer pass.
  * [[SmallSort]] is installed the same two ways: here as a planner
  * strategy, and through `spark.experimental.extraStrategies`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPostHocResolutionRule(_ => ZonedInstantComparison)
    // SQL-standard grand-total row for ROLLUP/CUBE/GROUPING SETS over an
    // empty input (ledger item 13, closed r8) — analysis-time so the
    // rewritten Union flows through the full optimizer.
    extensions.injectPostHocResolutionRule(_ => EmptyGroupingSetsGrandTotal)
    // a global sort of under one partition's worth of input runs as one
    // task, with no range exchange
    extensions.injectPlannerStrategy(_ => SmallSort)
  }
}
