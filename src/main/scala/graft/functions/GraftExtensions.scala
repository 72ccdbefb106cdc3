package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: lets a deployment register graft's
  * SQL functions at session build time instead of calling
  * GraftFunctions.register —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * or `withExtensions(new GraftExtensions)` on a session builder
  * (graft's own mains get it from `graft.LocalSession`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    // one function table shared with GraftFunctions.register — the two
    // registration paths cannot drift apart
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // whole-operator surface: the heap top-k strategy plus the
    // optimizer rule that rewrites row_number-top-k windows onto it
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // hot-key mitigation: salted-join rewrite for keys a deployment
    // configures after profiling (no-op until spark.graft.skewJoin.keys
    // is set — see SaltedJoinRewrite's contract)
    e.injectOptimizerRule(_ => graft.plans.SaltedJoinRewrite)
  }
}
