package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.expressions.GraftExpressions

/**
 * Session-extension plugin: register graft's native expressions at session
 * build time, so clusters enable them with
 * `spark.sql.extensions=graft.GraftExtensions` — no code change in user
 * jobs. (`GraftExpressions.registerAll` remains the programmatic route for
 * an already-built session; both routes read the one builder table.)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExpressions.functionBuilders.foreach { case (name, info, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(info, name), builder))
    }
}
