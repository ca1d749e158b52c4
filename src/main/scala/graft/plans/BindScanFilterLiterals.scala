package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.expressions.BoundLiteral

/**
 * Physical rule: in each `FilterExec` directly over a file scan, bind the
 * integral literals the re-check predicate compares against as
 * [[BoundLiteral]] parameters, so the stage's generated code no longer
 * depends on them. A point lookup `item_a_id = 1334` then compiles its
 * whole-stage class once per plan shape instead of once per id: every
 * later lookup with another id is a hit in Spark's JVM-wide codegen cache
 * and evicts none of the classes other queries keep there.
 *
 * Only the operands of comparisons (`=`, `<=>`, `<`, `<=`, `>`, `>=`) and
 * of IN lists are bound; a literal that parameterizes a function (a
 * substring position, a rounding scale) stays inlined, and so does NULL,
 * whose code carries no value. The scan is not touched: its pushed and
 * data filters, and so parquet row-group and page pruning, keep the
 * literals.
 *
 * Registered as a pre-transition [[ColumnarRule]] because that hook runs
 * on every physical plan right before whole-stage codegen collapses it,
 * with and without adaptive execution, after file-source pushdown has
 * been planned. It is idempotent: a bound value is no longer a literal.
 */
object BindScanFilterLiterals extends Rule[SparkPlan] {

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t @ (LongType | IntegerType)) if v != null => BoundLiteral(v, t)
    case other => other
  }

  private def bindOperands(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
    case in: In => in.copy(list = in.list.map(bind))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f @ FilterExec(condition, _: FileSourceScanExec) =>
      // keep the node itself when nothing binds: transformUp keeps only
      // an identical instance, and a copy would get fresh SQL metrics
      val bound = bindOperands(condition)
      if (bound.fastEquals(condition)) f else f.copy(condition = bound)
  }

  /** The rule as the columnar hook `GraftExtensions` injects. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindScanFilterLiterals
  }
}
