package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point, and the only way the engine's custom
  * SQL functions ([[graft.functions.ArrayExpressions.functionBuilders]])
  * and its sessionize planner strategy reach a session: build it with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (as
  * `BenchHarness.SessionConf` does for every session the library builds)
  * or `.withExtensions(new GraftExtensions)`. Sessions cloned from such a
  * session (`newSession()`, streaming) inherit both.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.SessionizePlan.SessionizeStrategy)
    graft.functions.ArrayExpressions.functionBuilders.foreach {
      case (name, className, builder) =>
        e.injectFunction((
          FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
  }
}
