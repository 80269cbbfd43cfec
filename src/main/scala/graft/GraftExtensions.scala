package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * The library's whole SQL surface (the `fn_transform_*` DSL family and the
 * `graft_*` native expressions/aggregates) as a session extension, plugged
 * in when a session's state is built. [[GraftSession.create]] installs it
 * with `withExtensions`; a session a platform constructs (notebooks, job
 * servers, Thrift/Connect servers) gets it with zero code —
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 *
 * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
 * Injected functions live in the session's built-in registry — visible to
 * every `spark.sql(...)` and `expr(...)` — and construct the exact same
 * expression trees as the Column API, so codegen and pushdown behave
 * identically from SQL and from Scala.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, builder) <- plans.GraftExpressions.sqlFunctions ++
        functions.Registry.sqlFunctions)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
}
