package graft.functions

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in approximate query processing as an optimizer rule: with
  * `spark.graft.approxDistinct=true`, every single-column
  * `COUNT(DISTINCT x)` is rewritten to the mergeable theta-sketch
  * aggregate — turning the one aggregation shape that CANNOT partial-
  * aggregate (exact distinct shuffles every distinct value, and a
  * multi-distinct query plans an Expand that multiplies the input) into
  * a map-side-combinable ~KB-state aggregate. The flag is consciously a
  * semantics trade (±~2% at theta's default lg_k) — the same contract
  * as the engine-level "approx mode" switches of warehouse systems.
  *
  * Deployment: `spark.sql.extensions=graft.GraftExtensions` injects it
  * into every session's optimizer; embedded sessions can append it to
  * `spark.experimental.extraOptimizations`.
  *
  * Scope guard: only COUNT(DISTINCT <single expr>) with no FILTER
  * clause rewrites; multi-arg distincts and filtered aggregates keep
  * exact semantics.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    graft.core.GraftConf.boolean(conf, "spark.graft.approxDistinct", false)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      // Position-independence guard: this rule runs in DIFFERENT spots
      // depending on registration — extendedOperatorOptimizationRules
      // (GraftExtensions) run BEFORE RewriteDistinctAggregates,
      // experimental.extraOptimizations AFTER. Rewrite an Aggregate
      // only when EVERY distinct in it is a rewritable single-arg
      // COUNT: then the whole distinct family becomes mergeable theta
      // aggs (and the pre-Rewrite path never even plans an Expand). A
      // mix with multi-arg or filtered distincts keeps exact semantics
      // wholesale — rewriting part of a mixed family would silently
      // change one column's contract at whichever position we run.
      case agg: Aggregate if allDistinctsRewritable(agg) =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(child)), _, true, None, _)
              if ThetaSupported.ok(child.dataType) =>
            // keep the resultId so every downstream reference to the
            // aggregate's output attribute stays bound
            AggregateExpression(
              ThetaSketchDistinct(child), ae.mode, isDistinct = false,
              filter = None, resultId = ae.resultId)
        }
    }

  private def allDistinctsRewritable(agg: Aggregate): Boolean = {
    val distincts = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression if ae.isDistinct => ae
    })
    distincts.nonEmpty && distincts.forall {
      case AggregateExpression(Count(Seq(child)), _, true, None, _) =>
        ThetaSupported.ok(child.dataType)
      case _ => false
    }
  }
}

private object ThetaSupported {
  import org.apache.spark.sql.types._
  def ok(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | DoubleType |
         FloatType | BinaryType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
