package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Pre-aggregated grouping sets as an optimizer rule — the SQL-path
  * twin of [[graft.operators.RollupOps]] (whose scaladoc carries the
  * algebra): Spark plans `GROUP BY ROLLUP/CUBE/GROUPING SETS` as
  * Expand-FIRST, replicating every input row once per grouping set
  * through the aggregation hash table. When every aggregate is
  * decomposable (SUM / MIN / MAX / COUNT — associative merge), the
  * evaluation factors into ONE aggregation at the finest grouping
  * level followed by Expand over its result rows: map-side work drops
  * from G×N to N and the Expand multiplies ~|distinct key combos|
  * rows instead of the fact table.
  *
  * The rewrite is performed positionally on whatever Expand the
  * analyzer built, with conservative bail-outs (any failed condition
  * leaves the plan untouched):
  *  - every aggregate is an unfiltered, non-distinct SUM/MIN/MAX/COUNT
  *    whose arguments reference only STABLE Expand positions (same
  *    expression in every grouping-set projection — the un-nulled
  *    copies the analyzer feeds aggregates from);
  *  - every grouping key is an Expand output attribute whose
  *    projections are either one fixed expression vs NULL (a rolled-up
  *    dimension), the same expression everywhere (a dimension present
  *    in all grouping sets), or all-integer-literals (the
  *    spark_grouping_id column);
  *  - everything involved is deterministic, ANSI mode is off (re-sum
  *    overflow semantics), and the Expand's child is not already an
  *    Aggregate (idempotence; also skips RollupOps-shaped plans).
  *
  * Grouping-set semantics are untouched: the same Expand null
  * patterns and grouping-id literals are re-emitted over the base
  * aggregate's key attributes, so data-borne NULL dims, grouping_id()
  * and GROUPING() all behave identically (PreAggRuleSpec pins
  * rule-on ≡ rule-off on adversarial shapes). Each re-aggregated
  * value is cast back to the original aggregate's result type (a
  * re-SUM widens decimal precision), so the operator's output schema
  * is bit-identical and downstream references stay bound.
  *
  * Opt-out via `spark.graft.preAggGroupingSets=false`. On by default:
  * unlike [[graft.functions.ApproxDistinctRewrite]] this rewrite is
  * exact.
  */
object PreAggGroupingSets extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    graft.core.GraftConf.boolean(conf, "spark.graft.preAggGroupingSets", true)

  // Idempotence: our own output is Aggregate-under-Expand, but another
  // rule in the same fixpoint batch (ColumnPruning) may interpose a
  // Project between them — strip Projects before testing, or the rule
  // re-fires on its own output (correct but a redundant agg pass).
  @scala.annotation.tailrec
  private def strippedIsAggregate(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case proj: Project => strippedIsAggregate(proj.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || conf.ansiEnabled) plan
    else plan.transformUp {
      case agg @ Aggregate(_, _, expand: Expand, _)
          if !strippedIsAggregate(expand.child) =>
        rewrite(agg, expand).getOrElse(agg)
    }

  // re-aggregation of a partial under the same grouping-set fold
  private def reAgg(fn: AggregateFunction, partial: Attribute): Option[AggregateFunction] =
    fn match {
      case _: Sum => Some(Sum(partial))
      case _: Count => Some(Sum(partial)) // Sum(LongType) = LongType
      case _: Min => Some(Min(partial))
      case _: Max => Some(Max(partial))
      case _ => None
    }

  private def rewrite(agg: Aggregate, expand: Expand): Option[Aggregate] = {
    val out = expand.output
    val nPos = out.length
    if (expand.projections.length < 2) return None
    if (expand.projections.exists(_.length != nPos)) return None

    // classify each Expand output position by its projection column
    sealed trait Pos
    case class Stable(e: Expression) extends Pos          // same expr in every set
    case class Rolled(e: Expression) extends Pos          // expr vs NULL literal
    case object GroupId extends Pos                       // all int literals
    val posKind: Array[Pos] = Array.tabulate(nPos) { j =>
      val col = expand.projections.map(_(j))
      val nonNull = col.filter {
        case Literal(null, _) => false
        case _ => true
      }
      val allLit = col.forall {
        case Literal(_, t) => t == org.apache.spark.sql.types.IntegerType ||
          t == org.apache.spark.sql.types.LongType
        case _ => false
      }
      if (allLit && nonNull.nonEmpty) GroupId
      else if (nonNull.isEmpty) Rolled(Literal(null, out(j).dataType))
      else {
        val distinctExprs = nonNull.map(_.canonicalized).distinct
        if (distinctExprs.length != 1) return None
        else if (nonNull.length == col.length) Stable(nonNull.head)
        else Rolled(nonNull.head)
      }
    }
    val posOf: Map[ExprId, Int] = out.map(_.exprId).zipWithIndex.toMap

    // grouping keys must be Expand outputs; aggregates' args must sit
    // on stable positions only
    val groupingOk = agg.groupingExpressions.forall {
      case a: AttributeReference => posOf.contains(a.exprId)
      case _ => false
    }
    if (!groupingOk) return None
    val groupedPositions = agg.groupingExpressions
      .collect { case a: AttributeReference => posOf(a.exprId) }.toSet

    val aggExprsIn = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggExprsIn.isEmpty) return None
    def stableArgs(ae: AggregateExpression): Boolean =
      ae.references.forall { r =>
        posOf.get(r.exprId).exists(j => posKind(j).isInstanceOf[Stable])
      }
    val rewritable = aggExprsIn.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
        ae.mode == Complete && stableArgs(ae) &&
        reAgg(ae.aggregateFunction,
          AttributeReference("p", ae.aggregateFunction.dataType)()).isDefined
    }
    if (!rewritable) return None
    if (!agg.groupingExpressions.forall(_.deterministic)) return None

    // positions the rewrite must carry through the base aggregate as
    // KEYS: every grouped position that is not the grouping id
    val keyPositions = groupedPositions.filter(posKind(_) != GroupId).toSeq.sorted
    // a Rolled position that is NOT grouped would replicate data rows
    // (it stays at data granularity under the base agg only if it is
    // a key) — for safety, every non-GroupId, non-stable position must
    // be grouped (true for analyzer-built rollup/cube/grouping sets)
    val allRolledGrouped = (0 until nPos).forall { j =>
      posKind(j) match {
        case Rolled(_) => groupedPositions.contains(j)
        case _ => true
      }
    }
    if (!allRolledGrouped) return None
    // substitute Expand-output references inside an expression with
    // the source expressions they stand for (stable copies)
    def toSource(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if posOf.contains(a.exprId) =>
        posKind(posOf(a.exprId)) match {
          case Stable(src) => src
          case Rolled(src) => src
          case GroupId => a // never reached: GroupId positions aren't key/arg sources
        }
    }

    // ---- base aggregate over the Expand's child ----
    val keySourceExprs = keyPositions.map { j =>
      posKind(j) match {
        case Stable(e) => e
        case Rolled(e) => e
        case GroupId => return None
      }
    }
    if (keySourceExprs.exists(!_.deterministic)) return None
    val keyAliases: Seq[NamedExpression] = keyPositions.zip(keySourceExprs).map {
      case (j, e) => Alias(e, out(j).name)()
    }
    // one partial per distinct aggregate (canonicalized)
    val distinctAggs: Seq[AggregateExpression] = {
      val seen = scala.collection.mutable.LinkedHashMap[Expression, AggregateExpression]()
      aggExprsIn.foreach(ae => seen.getOrElseUpdate(ae.canonicalized, ae))
      seen.values.toSeq
    }
    val partialAliases: Seq[(AggregateExpression, Alias)] = distinctAggs.zipWithIndex.map {
      case (ae, i) =>
        val fnOnSource = ae.aggregateFunction
          .mapChildren(toSource).asInstanceOf[AggregateFunction]
        ae -> Alias(
          AggregateExpression(fnOnSource, Complete, isDistinct = false), s"_pre_$i")()
    }
    // group by the SOURCE expressions; the alias list re-exposes them
    // as named outputs for the new Expand to reference
    val base = Aggregate(
      keySourceExprs,
      partialAliases.map(_._2) ++ keyAliases,
      expand.child, None)
    val baseKeyAttr: Map[Int, Attribute] =
      keyPositions.zip(keyAliases.map(_.toAttribute)).toMap

    // ---- new Expand over the base ----
    // output: fresh attrs for partials + the ORIGINAL attrs for every
    // grouped position (ids preserved so the final Aggregate binds)
    val partialOutAttrs: Seq[Attribute] =
      partialAliases.map { case (_, al) =>
        AttributeReference(al.name, al.dataType, nullable = true)()
      }
    val keptPositions = (0 until nPos).filter(groupedPositions.contains)
    val newOutput: Seq[Attribute] = partialOutAttrs ++ keptPositions.map(out)
    val newProjections: Seq[Seq[Expression]] = expand.projections.map { proj =>
      // base output attrs — identical for every grouping set
      val partialPart: Seq[Expression] = partialAliases.map(_._2.toAttribute)
      val groupedPart: Seq[Expression] = keptPositions.map { j =>
        posKind(j) match {
          case GroupId => proj(j) // keep the grouping-id literal pattern
          case Stable(_) => baseKeyAttr(j)
          case Rolled(_) => proj(j) match {
            case Literal(null, _) => Literal(null, out(j).dataType)
            case _ => baseKeyAttr(j)
          }
        }
      }
      partialPart ++ groupedPart
    }
    val newExpand = Expand(newProjections, newOutput, base)

    // ---- final aggregate: same grouping, re-aggregated partials ----
    val partialNewAttr: Map[Expression, Attribute] =
      partialAliases.map(_._1.canonicalized).zip(partialOutAttrs).toMap
    val newAggExprs = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression if partialNewAttr.contains(ae.canonicalized) =>
          val p = partialNewAttr(ae.canonicalized)
          val re = AggregateExpression(
            reAgg(ae.aggregateFunction, p).get, Complete,
            isDistinct = false, filter = None, resultId = ae.resultId)
          if (re.dataType == ae.dataType) re
          else Cast(re, ae.dataType, Some(conf.sessionLocalTimeZone))
      }.asInstanceOf[NamedExpression]
    }
    Some(agg.copy(aggregateExpressions = newAggExprs, child = newExpand))
  }
}
