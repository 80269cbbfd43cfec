package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * SQL surface for the transformation DSL (SURVEY.md §4's optional nicety):
 * the `fn_transform_*` family, which [[graft.GraftExtensions]] installs in
 * every session's FunctionRegistry so the operators compose inside `expr()`
 * strings and plain `spark.sql(...)`.
 *
 * Two forms:
 *   - `fn_transform('<TRANSFORMATION>'[, '<datatype>'])` — the FULL metadata
 *     DSL (nested calls, `$`/`|`/`->`/`&` micro-syntax) as a foldable string
 *     literal, compiled by [[Transforms]] at analysis time; column references
 *     inside the string resolve against the enclosing query.
 *   - direct registrations for the expression-positional functions
 *     (`fn_transform_Concatenate(col1, col2, ...)` etc.), which take ordinary
 *     SQL expressions as arguments.
 *
 * Everything compiles to the same built-in expression trees as the Column
 * API — registration adds names, not evaluation machinery, so WholeStageCodegen
 * and Catalyst pushdown are unaffected.
 */
object Registry {

  private def C(e: Expression): Column = ColumnBridge.column(e)
  private def E(c: Column): Expression = ColumnBridge.eagerExpression(c)

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other =>
      throw Transforms.CompileError(s"$what must be a string literal, got: $other")
  }

  /** Every SQL-callable DSL name as (name, builder), installed into each
    * session by [[graft.GraftExtensions]]. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // The full DSL through one door: fn_transform('<dsl>'[, '<type>'])
    "fn_transform" -> ((exprs: Seq[Expression]) => {
      val dsl = litString(exprs.head, "fn_transform: transformation")
      val dt = if (exprs.length > 1) litString(exprs(1), "fn_transform: datatype")
               else ""
      E(Transforms.column(dsl, dt))
    }),
    // Expression-positional forms (arguments are ordinary SQL expressions),
    // through the builders the DSL's own arms use.
    "fn_transform_concatenate" -> ((exprs: Seq[Expression]) =>
      E(Transforms.concatenate("|", exprs.map(C)))),
    "fn_transform_concatenate_ws" -> ((exprs: Seq[Expression]) => {
      val sep = litString(exprs.last, "fn_transform_Concatenate_ws: separator")
      E(Transforms.concatenate(sep, exprs.dropRight(1).map(C)))
    }),
    "fn_transform_bytemagic" -> ((exprs: Seq[Expression]) =>
      E(Transforms.byteMagic(C(exprs.head), C(exprs(1))))),
    "fn_transform_clearstring" -> ((exprs: Seq[Expression]) =>
      E(Transforms.clearString(C(exprs.head), exprs.lift(1).map(C)))),
    "fn_transform_date_to_string" -> ((exprs: Seq[Expression]) =>
      E(Transforms.dateToString(C(exprs.head),
        litString(exprs(1), "fn_transform_Date_to_String: format")))),
    // Injectable clock (see [[Transforms.nowUtc]]): fixed via the
    // `spark.graft.now` session conf, wall-clock otherwise.
    "graft_now" -> ((_: Seq[Expression]) => E(Transforms.nowUtc())),
    "fn_transform_periodmagic" -> ((exprs: Seq[Expression]) =>
      E(Transforms.periodMagic(C(exprs.head), C(exprs(1))))))
}
