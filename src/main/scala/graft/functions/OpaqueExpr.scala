package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that reports `deterministic = false`: a PUSHDOWN
  * BARRIER for an expensive projected column (optimization guide §4.4).
  *
  * Why it exists: `PushDownPredicates` pushes a filter through a Project by
  * SUBSTITUTING the referenced aliases into the predicate, and
  * `CollapseProject` merges projection stages the same way. For a cheap
  * alias that is the right call; for the quality-model score — whose
  * feature pipeline re-derives tokens/bigrams per feature once unstaged —
  * the substituted predicate re-evaluates the ENTIRE pipeline for every
  * input row, and then the projection evaluates it again for the survivors.
  * Measured on the 1M-doc stress corpus (SCALING.md "Retired probes"): the
  * optimizer-inlined `quality_accept = 1` predicate carried 32 lambdas /
  * 24 `split` calls and tripled the pass (6.6 s → 23.3 s noop-sunk).
  * Both rules skip non-deterministic expressions, so wrapping the score
  * alias pins evaluation to exactly once per row. `Dedup.spread`'s barrier
  * does NOT cover this: it blocks reordering across the exchange on
  * small-file inputs, but the substitution happens above it — and at scale
  * (input already split) spread inserts nothing at all.
  *
  * The wrapped expression MUST actually be deterministic (the flag is a
  * fence, not a semantics change): rows are bit-identical with and without
  * the wrapper, so oracle hashes are unaffected. Trade-off, deliberate:
  * NO filter can push through a projection carrying this wrapper, so apply
  * it to expensive model-scoring columns only, never blanket — a cheap
  * upstream-pushable predicate above such a projection stays above it.
  * Codegen passes straight through to the child (no interpreter fallback,
  * no extra copies); `foldable = false` keeps ConstantFolding honest about
  * the nondeterminism claim.
  */
case class OpaqueBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): OpaqueBarrier =
    copy(child = newChild)
}

object OpaqueBarrier {
  /** Column-level helper: `opaque(expensiveScore)` in a projection. */
  def opaque(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Bridge.column(
      OpaqueBarrier(org.apache.spark.sql.graft.Bridge.expression(c)))
}
