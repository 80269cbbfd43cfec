package graft.dsl

/**
 * Parser for the reference's `TRANSFORMATION` metadata DSL.
 *
 * Surface (reference: aje-stage-dms-load.py:102-137 `split_parameters` /
 * `split_function`, applied at :390-426):
 *   - nested function calls `fn_transform_X(a, b, fn_transform_Y(c), ...)`
 *   - arguments split on *top-level* commas only (parens tracked)
 *   - paren balance is validated up front (:410-416); imbalance is an error
 *   - a string with no function call at all falls through to a bare
 *     column/SQL expression (:419, transform_light.py:348-349)
 *
 * Argument micro-syntax is NOT resolved here — `$lit`, `a|b->label`, `c1&c2`
 * are interpreted per-function by the compiler (graft.functions.Transforms),
 * exactly as the reference interprets `list_params` inside `transform_df`.
 *
 * The reference flattens nested calls innermost-first through synthetic
 * `$sub_column` intermediates (aje-stage-dms-load.py:420-424). We keep a
 * proper AST instead; the compiler recurses, which evaluates inner calls
 * first — the same order, without the stringly-typed intermediates.
 */
object Parser {

  sealed trait Node
  /** A function invocation `name(args...)`. */
  final case class Call(name: String, args: List[Node]) extends Node
  /** A raw argument: column reference, `$literal`, rule text, format, ... */
  final case class Raw(text: String) extends Node

  final case class ParseError(msg: String) extends Exception(msg)

  private val FnPrefix = "fn_transform_"

  /** Split on top-level commas, tracking paren depth — port of the
    * reference's `split_parameters` (aje-stage-dms-load.py:102-116). */
  def splitTopLevel(s: String, sep: Char = ','): List[String] = {
    val out = List.newBuilder[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == sep && depth == 0) { out += s.substring(last, i); last = i + 1 }
      else if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        if (depth < 0) throw ParseError(s"unbalanced ')' at $i in: $s")
      }
      i += 1
    }
    out += s.substring(last)
    out.result()
  }

  /** Parse one transformation string. Returns a [[Call]] for DSL strings, a
    * [[Raw]] fallthrough otherwise. */
  def parse(input: String): Node = {
    val s = input.trim
    // Reference validates balance by counting (aje-stage-dms-load.py:410-416).
    if (s.count(_ == '(') != s.count(_ == ')'))
      throw ParseError(s"query transformation error (unbalanced parens): $s")
    parseNode(s)
  }

  private def parseNode(raw: String): Node = {
    val s = raw.trim
    val open = s.indexOf('(')
    if (open > 0 && s.endsWith(")") && s.startsWith(FnPrefix)) {
      val name = s.substring(0, open).trim
      val body = s.substring(open + 1, s.length - 1)
      val args =
        if (body.trim.isEmpty) Nil
        else splitTopLevel(body).map(parseNode)
      Call(name, args)
    } else Raw(s)
  }
}
