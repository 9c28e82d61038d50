package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan,
  LessThanOrEqual, PredicateHelper, RowNumber, SortOrder, WindowExpression,
  WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rung of the extension ladder (SURVEY.md §6): rewrites the
  * universal per-key top-k SQL idiom
  *
  * {{{
  *   SELECT <cols-not-including-rn>
  *   FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY o) AS rn ...)
  *   WHERE rn <= K
  * }}}
  *
  * (and its DataFrame spelling `withColumn + filter + drop`) into the
  * [[TopKPerKey]] logical node, so users writing the idiom get the
  * bounded-heap two-phase plan without knowing the operator exists.
  *
  * Why this beats what Spark already does: 4.x's `InferWindowGroupLimit`
  * inserts a `WindowGroupLimit` below the Window, which trims each group
  * to k rows — but it still requires SORTED input on both the map and
  * final sides (two full local sorts of every input partition) and still
  * runs the Window node itself over the survivors. [[TopKPerKey]] replaces
  * the whole Filter+Window pair with per-key bounded heaps: O(n log k)
  * comparisons, no sort buffers to spill, and ≤ k rows per key per input
  * partition reach the exchange. The rewrite only fires when the rank
  * column itself is discarded (the dominant use — dedup-keep-first, top-k
  * per group); when the rank survives, the builtin WindowGroupLimit path
  * is the right tool and this rule leaves the plan alone.
  *
  * Registered via [[graft.GraftExtensions]] (`injectOptimizerRule`), which
  * places it in the operator-optimization fixed point — BEFORE the "Infer
  * window group limit" batch, so on a match the builtin never sees the
  * pattern (the Window is gone); on a bail the builtin still applies.
  * Fixed-point-safe: the rewrite removes the Window node it matched, so it
  * cannot re-fire on its own output.
  *
  * Only `row_number` is eligible. `rank`/`dense_rank` admit more than k
  * rows on boundary ties, which bounded k-heaps cannot represent —
  * those stay on the builtin path. Ties under a non-total order pick
  * arbitrary winners in BOTH encodings (row_number makes the same
  * non-guarantee), documented on [[TopKPerKey]].
  */
object TopKPerKeyRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Rewrites only for k ≤ this: the exec node holds one k-row heap per
    * key per task, so a huge literal k (paging through most of each
    * group) belongs on the sort-based builtin path, not on heaps. */
  val MaxK = 4096

  /** `rn <= K` in its equivalent spellings → K. `rn = 1` is keep-first. */
  private object RankLimit {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) => Some((a, k))
      case LessThan(a: Attribute, IntegerLiteral(k)) => Some((a, k - 1))
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) => Some((a, k))
      case GreaterThan(IntegerLiteral(k), a: Attribute) => Some((a, k - 1))
      case EqualTo(a: Attribute, IntegerLiteral(1)) => Some((a, 1))
      case EqualTo(IntegerLiteral(1), a: Attribute) => Some((a, 1))
      case _ => None
    }
  }

  private def sameSpec(spec: WindowSpecDefinition, part: Seq[Expression],
                       ord: Seq[SortOrder]): Boolean =
    spec.partitionSpec.length == part.length &&
      spec.partitionSpec.zip(part).forall { case (a, b) => a.semanticEquals(b) } &&
      spec.orderSpec.length == ord.length &&
      spec.orderSpec.zip(ord).forall { case (a, b) => a.semanticEquals(b) }

  private def hasFloatingPoint(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType => true
      case s: StructType => s.fields.exists(f => hasFloatingPoint(f.dataType))
      case a: ArrayType => hasFloatingPoint(a.elementType)
      case m: MapType => hasFloatingPoint(m.keyType) || hasFloatingPoint(m.valueType)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
          part, ord, child, _)))
        if part.nonEmpty && ord.nonEmpty &&
          part.forall(_.deterministic) && ord.forall(_.deterministic) &&
          // float/double partition keys stay on the Window path: the
          // builtin plan normalizes them (NormalizeFloatingNumbers runs
          // AFTER this batch and does not know TopKPerKey), while the
          // node's byte-wise UnsafeRow key map would split NaN bit
          // patterns / -0.0 vs 0.0 into separate groups.
          !part.exists(e => hasFloatingPoint(e.dataType)) &&
          sameSpec(spec, part, ord) &&
          !projectList.exists(_.references.contains(alias.toAttribute)) =>
      rewrite(p, projectList, cond, alias.toAttribute, part, ord, child).getOrElse(p)
  }

  private def rewrite(original: Project, projectList: Seq[org.apache.spark.sql.catalyst
      .expressions.NamedExpression], cond: Expression, rn: Attribute,
      part: Seq[Expression], ord: Seq[SortOrder],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (rankConds, rest) = splitConjunctivePredicates(cond)
      .partition(_.references.contains(rn))
    if (rankConds.isEmpty) return None // no bound on the rank -> not top-k
    val ks = rankConds.map {
      case RankLimit(a, k) if a.semanticEquals(rn) => k
      case _ => return None // rank used in a shape heaps can't honor
    }
    val k = ks.min
    if (k < 1 || k > MaxK) return None
    // Prune once at rewrite time: generic optimizer rules don't know how
    // to push projections through a foreign node, so hand the scan its
    // narrow schema here instead of relying on ColumnPruning.
    val needed = AttributeSet(projectList.flatMap(_.references) ++
      rest.flatMap(_.references) ++ part.flatMap(_.references) ++
      ord.flatMap(_.references))
    val prunedChild =
      if (child.output.forall(needed.contains)) child
      else Project(child.output.filter(needed.contains), child)
    val topk = TopKPerKey(part, ord, k, prunedChild)
    // residual non-rank predicates keep their original position: they ran
    // AFTER ranking (filtering among the top-k), so they must stay above.
    val filtered = rest.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      .map(Filter(_, topk)).getOrElse(topk)
    Some(Project(projectList, filtered))
  }
}
