package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{RollingFingerprint, UnicodeNormalize, VecDot}

/**
 * SparkSessionExtensions entry point: registers the engine's native
 * expressions with the Catalyst function registry so they are callable
 * from SQL as well as the Column API, and the engine's optimizer rule.
 *
 * Activate with `spark.sql.extensions=graft.plans.GraftExtensions`
 * (all of this project's session builders do), then:
 *   SELECT vec_dot(a.embedding, b.embedding) FROM ...
 * and any `p >= lo AND p < hi` inner join plans as a bucket-decomposed
 * equi join instead of a nested loop ([[IntervalJoinRewrite]]).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "rolling_fp"),
      (children: Seq[Expression]) => RollingFingerprint(children.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfc"),
      (children: Seq[Expression]) => UnicodeNormalize(children.head)))
    ext.injectOptimizerRule(_ => IntervalJoinRewrite)
  }
}
