package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.Transforms

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("ByteMagic: T/F pass, else literal default (all $ stripped)") {
    val df = Seq("T", "F", "X", "Z").toDF("c")
    val got = df.select(
      Transforms.column("fn_transform_ByteMagic(c,$N)", "string"))
      .as[String].collect().toSeq
    assert(got == Seq("T", "F", "N", "N"))
  }

  test("ByteMagic: column default") {
    val df = Seq(("X", "fallback")).toDF("c", "d")
    assert(one[String](df.select(
      Transforms.column("fn_transform_ByteMagic(c,d)", "string"))) == "fallback")
  }

  test("Case quirk: only the last rule survives; unmatched -> null") {
    val df = Seq("a", "b", "x").toDF("c")
    val got = df.select(
      Transforms.column("fn_transform_Case(c,a->first,b->second)", "string"))
      .as[String].collect().toSeq
    assert(got == Seq(null, "second", null))
  }

  test("malformed cast yields null under ANSI (reference non-ANSI fidelity)") {
    val df = Seq(("abc", "42")).toDF("bad", "good")
    val got = df.select(
      Transforms.column("bad", "int").as("b"),
      Transforms.column("good", "int").as("g")).head()
    assert(got.isNullAt(0) && got.getInt(1) == 42)
  }

  test("DateMagic regex boundaries: 699999/3600000 out, 700000/3599999 in") {
    val df = Seq(699999, 700000, 3599999, 3600000).toDF("c")
    val got = df.select(Transforms.column(
      "fn_transform_DateMagic(c,yyyy-MM-dd,1970-01-01)", "date")
      .cast("string")).as[String].collect().toSeq
    // 700000 = 1900-01-01 + (700000-693596) days = 1917-07-15
    assert(got(0) == "1970-01-01" && got(3) == "1970-01-01") // defaults
    assert(got(1) == "1917-07-15")
    assert(got(2) == java.time.LocalDate.of(1900, 1, 1)
      .plusDays(3599999L - 693596L).toString)
  }

  test("Case_with_default: disjoint rules behave like CASE WHEN") {
    val df = Seq("a", "b", "x").toDF("c")
    val got = df.select(Transforms.column(
      "fn_transform_Case_with_default(c,a|a2->A,b->B,$dflt)", "string"))
      .as[String].collect().toSeq
    assert(got == Seq("A", "B", "dflt"))
  }

  test("Case_with_default compound quirk: accumulated condition => last label") {
    val df = Seq(("x", "1"), ("y", "2"), ("z", "9")).toDF("c1", "c2")
    val got = df.select(Transforms.column(
      "fn_transform_Case_with_default(c1&c2,x&1->one,y&2->two,$other)", "string"))
      .as[String].collect().toSeq
    // row (x,1) matches rule 1 but the reference's |= accumulation means the
    // later rule's when() covers it too — both matched rows get "two"
    assert(got == Seq("two", "two", "other"))
  }

  test("ClearString: trims; 2-arg form defaults nulls") {
    val df = Seq(Some("  hi  "), None).toDF("c")
    assert(df.select(Transforms.column("fn_transform_ClearString(c,$na)", "string"))
      .as[String].collect().toSeq == Seq("hi", "na"))
    assert(df.select(Transforms.column("fn_transform_ClearString(c)", "string"))
      .as[String].collect().toSeq == Seq("hi", null))
  }

  test("DateMagic: ordinal decode round-trip, regex gating, default") {
    // 726468 == 1990-01-01 decodes; 42 fails the gate; and — reference
    // QUIRK — 693596 (1900-01-01 itself) also fails the [7-9]\d{5} regex
    // (it starts with 6), so pre-1917 ordinals fall through to the default.
    val df = Seq(693596, 726468, 42).toDF("c")
    val got = df.select(Transforms.column(
      "fn_transform_DateMagic(c,yyyy-MM-dd,1970-01-01)", "date"))
      .as[java.sql.Date].collect().toSeq.map(_.toString)
    assert(got == Seq("1970-01-01", "1990-01-01", "1970-01-01"))
  }

  test("DatetimeMagic: packed time decode with fallbacks") {
    val df = Seq((726468, "235959"), (726468, "9999"), (42, "120000"))
      .toDF("cd", "ct")
    val got = df.select(date_format(Transforms.column(
      "fn_transform_DatetimeMagic(cd,ct,yyyy-MM-dd HH:mm:ss,1900-01-01)",
      "timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .as[String].collect().toSeq
    assert(got == Seq("1990-01-01 23:59:59", "1990-01-01 00:00:00",
      "1900-01-01 00:00:00"))
  }

  test("PeriodMagic: null period -> 190001, else concat with lpad") {
    val df = Seq((Some("2024"), "3"), (None, "7")).toDF("p", "e")
    val got = df.select(Transforms.column(
      "fn_transform_PeriodMagic(p,e)", "string"))
      .as[String].collect().toSeq
    assert(got == Seq("202403", "190001"))
  }

  test("Concatenate uses pipe; Concatenate_ws takes last-arg separator") {
    val df = Seq(("a", "b")).toDF("x", "y")
    assert(one[String](df.select(
      Transforms.column("fn_transform_Concatenate(x,y)", "string"))) == "a|b")
    assert(one[String](df.select(
      Transforms.column("fn_transform_Concatenate_ws(x,y,-)", "string"))) == "a-b")
  }

  test("nested chain applies inner-first (stage order), not the sf reverse") {
    // The reference has TWO application orders for a nested chain
    // f(g(c)): split_function appends on each ')' so functions[0] is the
    // INNERMOST call; the stage job iterates forward, evaluating g first
    // into a $sub_column intermediate and f last
    // (aje-stage-dms-load.py:420-424) — proper composition — while the
    // Salesforce variant iterates in REVERSE (transform_light.py:351-352),
    // so f runs before its intermediate exists and g finally OVERWRITES
    // the output column: the sf order degrades f(g(c)) to just g(c).
    // The canonical compiler (recursive AST descent) must produce the
    // stage-order composition, observably different from the sf clobber.
    val df = Seq(("  a  ", "b")).toDF("pad", "tail")
    val got = one[String](df.select(Transforms.column(
      "fn_transform_Concatenate(fn_transform_ClearString(pad),tail)",
      "string")))
    assert(got == "a|b")     // composed: clear_string THEN concatenate
    assert(got != "a")       // NOT the sf-order result (innermost only)
  }

  test("unknown function raises CompileError (quarantined upstream)") {
    assertThrows[Transforms.CompileError](
      Transforms.column("fn_transform_Bogus(a)", "string"))
  }

  test("Datetime: empty arg yields Lima now; bad strings yield null") {
    val df = Seq("not a ts").toDF("c")
    val row = df.select(
      Transforms.column("fn_transform_Datetime()", "timestamp").as("now"),
      Transforms.column("fn_transform_Datetime(c)", "timestamp").as("bad"))
      .collect().head
    assert(row.getAs[java.sql.Timestamp]("now") != null)
    assert(row.getAs[java.sql.Timestamp]("bad") == null)
  }

  test("injectable clock: spark.graft.now pins the now() arm, unset = wall") {
    spark.conf.set("spark.graft.now", "2026-01-15 10:30:00")
    val pinned = try {
      Seq(1).toDF("x").select(
        date_format(Transforms.column("fn_transform_Datetime()", "timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("lima"),
        date_format(expr("graft_now()"), "yyyy-MM-dd HH:mm:ss").as("utc"))
    } finally spark.conf.unset("spark.graft.now")
    // the literal baked at construction — evaluating AFTER the unset still
    // yields the pinned instant (Lima = UTC-5, no DST)
    val r = pinned.collect().head
    assert(r.getString(0) == "2026-01-15 05:30:00")
    assert(r.getString(1) == "2026-01-15 10:30:00")
    // conf unset -> the production wall-clock arm
    val t0 = System.currentTimeMillis()
    val got = Seq(1).toDF("x")
      .select(Transforms.column("fn_transform_Datetime()", "timestamp"))
      .collect().head.getTimestamp(0).getTime
    assert(math.abs(got + 5L * 3600 * 1000 - t0) < 120000,
      s"wall-clock now() drifted: $got vs $t0")
  }

  /** Rows with a null in every argument position, for the SQL-form cases. */
  private val formRows = """VALUES
      ('T', 'x', DATE'2024-03-05', 2024, 3),
      ('F', NULL, NULL, NULL, 11),
      (NULL, 'y', DATE'2024-12-31', 2023, NULL),
      (' X ', NULL, NULL, 2024, 1),
      (NULL, NULL, NULL, NULL, NULL) AS v(a, b, d, p, e)"""

  // each expression-positional SQL registration against its DSL arm
  for ((name, forms) <- Seq(
      "concatenate" -> Seq("fn_transform_concatenate(a, b)" -> "fn_transform_Concatenate(a,b)"),
      "concatenate_ws" ->
        Seq("fn_transform_concatenate_ws(a, b, '-')" -> "fn_transform_Concatenate_ws(a,b,-)"),
      "bytemagic" -> Seq("fn_transform_bytemagic(a, b)" -> "fn_transform_ByteMagic(a,b)"),
      "clearstring" -> Seq(
        "fn_transform_clearstring(a, b)" -> "fn_transform_ClearString(a,b)",
        "fn_transform_clearstring(a)" -> "fn_transform_ClearString(a)"),
      "date_to_string" -> Seq("fn_transform_date_to_string(d, 'yyyyMMdd')" ->
        "fn_transform_Date_to_String(d,yyyyMMdd)"),
      "periodmagic" -> Seq("fn_transform_periodmagic(p, e)" -> "fn_transform_PeriodMagic(p,e)")))
    test(s"fn_transform_$name: the SQL form equals the DSL form, nulls included") {
      for ((sqlForm, dsl) <- forms) {
        val got = spark.sql(
          s"SELECT $sqlForm AS s, fn_transform('$dsl') AS d FROM $formRows").collect()
        assert(got.forall(r => r.get(0) == r.get(1)), got.mkString(", "))
        // the rows tell the forms apart: more than a null and one value
        assert(got.map(_.get(0)).distinct.length > 2, got.mkString(", "))
      }
    }
}
