package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: sessions built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.functions.GraftExtensions`) get the
  * library's native functions registered in the SQL function registry
  * and its planner strategy installed at session build — no per-session
  * imperative registration.
  *
  * This is the (c)-tier extension point of the build brief: functions
  * via `injectFunction` and one whole-operator planner strategy via `injectPlannerStrategy` —
  * [[graft.plans.GraftStrategy]] maps the native as-of join's logical
  * node onto its streaming-merge physical operator
  * ([[graft.plans.AsofJoinExec]]), the one operator whose physical
  * semantics existing plans cannot express without row amplification
  * (SURVEY §4.2's "not needed" held for everything else).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("fnv1a32"),
      new ExpressionInfo(classOf[Fnv1a32].getName, "fnv1a32"),
      (children: Seq[Expression]) => Fnv1a32(children.head)))
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
  }
}
