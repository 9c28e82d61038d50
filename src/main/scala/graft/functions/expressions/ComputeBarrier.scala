package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

import org.apache.spark.sql.graftbridge.ColumnBridge

/** Identity pass-through that REPORTS non-determinism so the optimizer
  * leaves its alias where the author put it (r12 optimization round).
  *
  * Why it exists: a filter over a projected column is pushed through the
  * projection WITH ALIAS SUBSTITUTION — for a pair stage like
  * `join(cheap conds).withColumn("inter", <expensive>).filter(f(inter))`
  * the f(<expensive>) predicate lands INSIDE the join condition, where
  * (a) the expensive expression is re-evaluated once per reference (the
  * jaccard ratio references it in numerator and denominator — observed
  * plan: `sorted_map_bit_intersect` TWICE in the BHJ condition plus once
  * more in the post-join projection), and (b) the pushed conjunct sorts
  * FIRST, ahead of the cheap id/size prunes, so every key-matched
  * candidate pays the expensive path before the cheap rejects run.
  * Wrapping the expensive expression in this barrier makes the alias
  * non-substitutable: the cheap conjuncts stay in the join condition,
  * the expensive expression evaluates exactly once per surviving
  * candidate, and the filter runs right above it (same fused codegen
  * stage — no materialization, no extra exchange).
  *
  * Semantics: exact identity (eval and codegen delegate to the child).
  * The non-determinism flag is a planner annotation only; results are
  * byte-identical. Trade-off per guide §4.4: other predicates cannot be
  * pushed through it either — apply it to expensive pair-stage
  * expressions, not blanket.
  *
  * Legal positions (ComputeBarrierSpec pins each on Spark 4.1): a
  * projection (`select`/`withColumn`), with filters, sorts, joins and
  * groupings then reading the projected column. Spark's analyzer
  * rejects the barrier itself in a join condition and as a sort key
  * (`AnalysisException`, INVALID_NON_DETERMINISTIC_EXPRESSIONS) and as a
  * grouping key (`SparkException`, INTERNAL_ERROR).
  */
case class ComputeBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ExprCode(childGen.code, childGen.isNull, childGen.value)
  }

  override protected def withNewChildInternal(newChild: Expression): ComputeBarrier =
    copy(child = newChild)
  override def prettyName: String = "compute_barrier"
}

object ComputeBarrier {
  def apply(c: Column): Column =
    ColumnBridge.column(ComputeBarrier(ColumnBridge.expression(c)))
}
