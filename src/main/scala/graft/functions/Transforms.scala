package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dsl.Parser
import graft.dsl.Parser.{Call, Node, Raw}

/**
 * Compiler: transformation-DSL AST -> Spark `Column`.
 *
 * Faithful Scala/Catalyst re-expression of the reference's `transform_df`
 * dispatcher (reference: artifacts/stage/jobs/aje-stage-dms-load.py:139-325;
 * older Salesforce variant artifacts/stage/salesforce/jobs/transform_light.py:146-280).
 * Where the two variants differ, the stage-job semantics are canonical.
 * The variants even APPLY a nested chain differently: split_function lists
 * the innermost call first, the stage job iterates forward (inner-first
 * via a $sub_column intermediate, aje-stage-dms-load.py:420-424 — proper
 * composition f∘g), while transform_light iterates in reverse
 * (transform_light.py:351-352) so the outer call runs before its
 * intermediate exists and the innermost result overwrites the output
 * column — degrading f(g(c)) to g(c). This compiler's recursive AST
 * descent IS the stage order; TransformsSpec pins the divergence.
 *
 * Everything compiles to built-in `org.apache.spark.sql.functions` —
 * codegen-friendly, no UDFs — so the whole per-column pipeline stays inside
 * WholeStageCodegen and Catalyst can still prune/push down around it.
 *
 * Reproduced quirks (documented, deliberate):
 *   - `fn_transform_Case` (no default): the reference overwrites the output
 *     column per rule with a bare `when` (no otherwise) — so only the LAST
 *     rule survives and non-matching rows are null
 *     (aje-stage-dms-load.py:167-175).
 *   - `fn_transform_Case_with_default` compound (`&`) mode: the reference
 *     accumulates the match condition across rules (`condition_expr |=`), so
 *     a row matching ANY earlier rule receives the LAST rule's label
 *     (aje-stage-dms-load.py:188-218).
 *   - `$` strips ALL dollar signs from a literal, not just the prefix
 *     (`default.replace('$','')`, aje-stage-dms-load.py:162).
 */
object Transforms {

  final case class CompileError(msg: String) extends Exception(msg)

  /** `$foo` => literal "foo" (all `$` stripped); otherwise a column ref.
    * Reference: aje-stage-dms-load.py:162-165,183-186,246-250. */
  private def litOrCol(s: String): Column =
    if (s.contains("$")) lit(s.replace("$", "")) else col(s.trim)

  private def rawText(n: Node): String = n match {
    case Raw(t)  => t
    case c: Call => throw CompileError(s"expected a plain argument, got call: $c")
  }

  /** Argument in column position: nested call compiles recursively. */
  private def argCol(n: Node): Column = n match {
    case Raw(t)  => col(t.trim)
    case c: Call => compileCall(c)
  }

  /** Compile a parsed transformation to an (uncast) `Column`. */
  def compile(node: Node): Column = node match {
    case c: Call => compileCall(c)
    // Fallthrough: bare Spark-SQL scalar expression (transform_light.py:348-349;
    // subsumes the stage job's bare-column `col(...)` path at :419).
    case Raw(t) => expr(t)
  }

  /** Injectable clock for the DSL's now() arm (and the SQL `graft_now()`):
    * reads the session conf `spark.graft.now` at COLUMN-CONSTRUCTION time
    * (driver-side, analysis) — when set, the value (a
    * "yyyy-MM-dd HH:mm:ss" string, interpreted in the session time zone)
    * bakes into the plan as a timestamp literal, making every now()-based
    * transformation deterministic and therefore oracle-checkable; unset
    * (production), it is `current_timestamp()` exactly as before. A
    * Column-level twist on the standard Clock-parameter pattern: the
    * override travels with the session, so the metadata-driven DSL needs
    * no signature change. */
  def nowUtc(): Column =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption("spark.graft.now"))
      .map(v => to_timestamp(lit(v)))
      .getOrElse(current_timestamp())

  /** Parse + compile + cast — one output column, as the reference applies it
    * (every `transform_df` branch ends `.cast(data_type)`). `try_cast`, not
    * `cast`: the reference ran non-ANSI Spark 3 where a malformed cast
    * yields null; under Spark 4's default ANSI mode a plain cast would throw
    * at ACTION time — after the per-column compile quarantine already
    * passed — failing the whole job on one bad row. */
  def column(transformation: String, dataType: String): Column = {
    val c = compile(Parser.parse(transformation))
    if (dataType == null || dataType.trim.isEmpty) c else c.try_cast(dataType)
  }

  // scalastyle:off cyclomatic.complexity method.length
  private def compileCall(call: Call): Column = {
    val args = call.args
    call.name match {

      // concat with "|" separator (aje-stage-dms-load.py:150-152)
      case "fn_transform_Concatenate" =>
        concatenate("|", args.map(argCol))

      // concat with explicit separator, LAST param (:154-156)
      case "fn_transform_Concatenate_ws" =>
        concatenate(rawText(args.last), args.dropRight(1).map(argCol))

      // 'T'/'F' pass-through, else default ($lit or column) (:158-165)
      case "fn_transform_ByteMagic" =>
        byteMagic(argCol(args.head), litOrCol(rawText(args(1))))

      // QUIRK: last rule wins, unmatched -> null (:167-175)
      case "fn_transform_Case" =>
        val c = argCol(args.head)
        val rules = args.tail.map(a => parseRule(rawText(a)))
        val (values, label) = rules.last
        when(c.isin(values: _*), label)

      case "fn_transform_Case_with_default" =>
        caseWithDefault(rawText(args.head), args.tail.dropRight(1).map(rawText),
          rawText(args.last))

      // empty arg -> Lima "now"; else to_timestamp (:227-234). try_ variant:
      // the reference runs non-ANSI Spark 3 where malformed input yields
      // null; under Spark 4 ANSI semantics plain to_timestamp would throw.
      case "fn_transform_Datetime" =>
        if (args.isEmpty || rawText(args.head).isEmpty)
          from_utc_timestamp(nowUtc(), "America/Lima")
        else try_to_timestamp(argCol(args.head))

      // "pending review" in the reference — aliased to Concatenate_ws (:237-239)
      case "fn_transform_ClearDouble" =>
        concatenate(rawText(args.last), args.dropRight(1).map(argCol))

      case "fn_transform_ClearString" =>
        clearString(argCol(args.head), args.lift(1).map(a => litOrCol(rawText(a))))

      case "fn_transform_Date_to_String" =>
        dateToString(argCol(args.head), rawText(args(1)))

      // proleptic-ordinal decode, regex-gated (:263-277); 693596 == ordinal of
      // 1900-01-01 (python date.toordinal convention)
      case "fn_transform_DateMagic" =>
        val c = argCol(args.head)
        val fmt = rawText(args(1))
        val dflt = rawText(args(2))
        when(ordinalMatches(c), decodeOrdinal(c))
          .otherwise(to_date(lit(dflt), fmt))

      // ordinal date + packed HHmmss time -> timestamp, nested fallbacks
      // (:279-308): bad time -> midnight; bad date -> default
      case "fn_transform_DatetimeMagic" =>
        val cd = argCol(args.head)
        val ct = argCol(args(1))
        val fmt = rawText(args(2))
        val dflt = rawText(args(3))
        val dateFmt = "yyyy-MM-dd" // sane reading of the reference's fmt[:8]
        val ts = ct.cast("string")
        val timeOk =
          regexp_extract(ts, "^([01][0-9]|2[0-3])([0-5][0-9])([0-5][0-9])$", 1) =!= ""
        val tpad = lpad(ts, 6, "0")
        val hms = concat_ws(":", tpad.substr(1, 2), tpad.substr(3, 2), tpad.substr(5, 2))
        when(ordinalMatches(cd),
          when(timeOk,
            to_timestamp(concat_ws(" ", decodeOrdinal(cd).cast("string"), hms),
              "yyyy-MM-dd HH:mm:ss"))
            .otherwise(to_timestamp(decodeOrdinal(cd).cast("string"), dateFmt)))
          .otherwise(to_timestamp(lit(dflt), dateFmt))

      case "fn_transform_PeriodMagic" =>
        periodMagic(argCol(args.head), argCol(args(1)))

      case other =>
        // Reference returns the frame unchanged for unknown functions (:324-325)
        // — i.e. the column silently never materializes. We fail loudly instead;
        // the per-column quarantine (StageTransform) records it, preserving the
        // observable behavior (column absent, run degrades to WARNING).
        throw CompileError(s"unknown transform function: $other")
    }
  }
  // scalastyle:on cyclomatic.complexity method.length

  // The expression-positional arms, one builder each over compiled
  // arguments: the DSL arms above and the SQL registrations in [[Registry]]
  // both call them, so the two forms cannot drift apart.

  /** concat with `sep`, skipping nulls (:150-156). */
  private[functions] def concatenate(sep: String, cols: Seq[Column]): Column =
    concat_ws(sep, cols: _*)

  /** 'T'/'F' pass through, anything else (null included) is `default`
    * (:158-165). */
  private[functions] def byteMagic(c: Column, default: Column): Column =
    when(c === "T", "T").when(c === "F", "F").otherwise(default)

  /** trim; with a default, a null takes it (:241-258). */
  private[functions] def clearString(c: Column, default: Option[Column]): Column =
    default.fold(trim(c))(d => when(c.isNotNull, trim(c)).otherwise(d))

  private[functions] def dateToString(c: Column, format: String): Column =
    date_format(c, format)

  /** null period -> '190001'; else period || lpad(exercise, 2, '0')
    * (:311-322). */
  private[functions] def periodMagic(period: Column, exercise: Column): Column =
    when(period.isNull, "190001")
      .otherwise(concat(period.cast("string"), lpad(exercise.cast("string"), 2, "0")))

  /** `v1|v2->label` rule text -> (values, label). */
  private def parseRule(rule: String): (Seq[String], String) = {
    val parts = rule.split("->", 2)
    if (parts.length != 2) throw CompileError(s"bad case rule: $rule")
    (parts(0).split('|').toSeq, parts(1))
  }

  /** Reference aje-stage-dms-load.py:177-225 — both single-column and
    * compound (`&`) modes, with the reproduced accumulation quirk. */
  private def caseWithDefault(origin: String, rules: Seq[String],
      default: String): Column = {
    val seed = litOrCol(default)
    if (origin.contains("&")) {
      val cols = origin.split("&").map(s => col(s.trim))
      // conditionExpr ACCUMULATES across rules (|=), per the reference.
      var acc: Column = null
      rules.foldLeft(seed) { case (prev, rule) =>
        val (values, label) = parseRule(rule)
        val ruleCond = values
          .map { v =>
            val vs = v.split("&")
            cols.zip(vs).map { case (c, value) => c === lit(value) }
              .reduce(_ && _)
          }
          .reduce(_ || _)
        acc = if (acc == null) ruleCond else acc || ruleCond
        when(acc, label).otherwise(prev)
      }
    } else {
      val c = col(origin.trim)
      rules.foldLeft(seed) { case (prev, rule) =>
        val (values, label) = parseRule(rule)
        when(c.isin(values: _*), label).otherwise(prev)
      }
    }
  }

  /** Ordinal day number for 1900-01-01 in python's proleptic convention. */
  val OrdinalAnchor = 693596
  private val OrdinalPattern = "^([7-9][0-9]{5}|[1-2][0-9]{6}|3[0-5][0-9]{5})$"

  private def ordinalMatches(c: Column): Column =
    regexp_extract(c.cast("string"), OrdinalPattern, 1) =!= ""

  private def decodeOrdinal(c: Column): Column =
    date_add(to_date(lit("1900-01-01")), c.cast("int") - lit(OrdinalAnchor))
}
