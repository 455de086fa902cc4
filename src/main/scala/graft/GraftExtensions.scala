package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: enables the engine's SQL surface for any
  * session without code changes, via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  * The same registrations are available programmatically through
  * [[graft.functions.register]]; both install [[graft.functions.sqlFunctions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    functions.sqlFunctions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), build))
    }
}
