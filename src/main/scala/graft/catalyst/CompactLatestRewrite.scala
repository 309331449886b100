package graft.catalyst

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the feed-compaction window pattern
  *
  * {{{ Filter(rn = 1, Window(row_number over (partition BY k ORDER BY o DESC) AS rn, child)) }}}
  *
  * into an aggregate
  *
  * {{{ Aggregate(k, max_by(struct(child.*), o)) }}}
  *
  * The window form sorts every partition's full history; the aggregate form
  * is a partial+final `max_by` — map-side combine keeps only one row per
  * key per task, so at 100 TB the shuffle carries |keys| rows instead of
  * |events| (SURVEY.md §4's `ReplaceWindowWithMaxBy` stretch goal). Spark
  * plans it as a partial+final `SortAggregate`, not a hash aggregate: the
  * struct payload has no fixed-width aggregation buffer, so each side of
  * the exchange sorts its rows by key (docs/PLANS.md, LoopOps batch).
  *
  * Fires only when the pattern is exact: a single row_number window
  * expression, a non-empty partition spec, ONE descending order key, and a
  * `rn = 1` (or `rn <= 1`) filter. Null order keys need care: `max_by`
  * skips NULL ordering values, while `row_number` ranks null keys by the
  * sort's null placement (`DESC NULLS LAST` puts them below every non-null
  * key, `DESC NULLS FIRST` above) — and a partition whose keys are entirely
  * NULL still keeps a real row under the window form. So a nullable key is
  * wrapped in a two-field ordering struct whose leading boolean reproduces
  * the declared null placement; struct ordering is null-tolerant, making
  * the aggregate's pick identical to the window's in every case. Ties in
  * the order key: `row_number` picks an arbitrary peer (nondeterministic
  * already), `max_by` likewise — the rewrite preserves the determinism
  * contract the query had. Opt-in via
  * `spark.sql.extensions=graft.catalyst.GraftExtensions` or
  * `spark.experimental.extraOptimizations`.
  */
object CompactLatestRewrite extends Rule[LogicalPlan] {

  private def isKeepFirst(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, Literal(1, IntegerType)) => a.semanticEquals(rn)
    case EqualTo(Literal(1, IntegerType), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, Literal(1, IntegerType)) => a.semanticEquals(rn)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
          partitionSpec, Seq(SortOrder(orderKey, Descending, nullOrdering, _)), child, _))
        if partitionSpec.nonEmpty && orderKey.deterministic &&
          spec.partitionSpec == partitionSpec &&
          isKeepFirst(cond, alias.toAttribute) &&
          partitionSpec.forall(_.isInstanceOf[Attribute]) =>
      val groupAttrs = partitionSpec.map(_.asInstanceOf[Attribute])
      val payload = child.output.filterNot(a => groupAttrs.exists(_.semanticEquals(a)))
      // max_by skips NULL ordering values; a nullable key is wrapped so the
      // aggregate ranks null keys exactly where the sort declared them
      // (struct ordering tolerates the null second field).
      val ordKey =
        if (!orderKey.nullable) orderKey
        else nullOrdering match {
          case NullsLast => CreateStruct(Seq(IsNotNull(orderKey), orderKey))
          case NullsFirst => CreateStruct(Seq(IsNull(orderKey), orderKey))
        }
      val latest = Alias(
        MaxBy(CreateStruct(payload), ordKey).toAggregateExpression(), "_latest")()
      val agg = Aggregate(groupAttrs, groupAttrs :+ latest, child)
      // restore the original output schema AND attribute ids so parents
      // (including the usual drop("rn") projection) still resolve
      val restored: Seq[NamedExpression] = child.output.map { a =>
        if (groupAttrs.exists(_.semanticEquals(a))) a
        else {
          val idx = payload.indexWhere(_.semanticEquals(a))
          Alias(GetStructField(latest.toAttribute, idx, Some(a.name)), a.name)(exprId = a.exprId)
        }
      } :+ Alias(Literal(1, IntegerType), alias.name)(exprId = alias.exprId)
      Project(restored, agg)
  }
}
