package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Transforms
import graft.incr.Incremental
import graft.meta.ColumnSpec
import graft.ops.{Dedup, Graph, Multimodal, Recon, Sampling, Similarity, TextOps}
import graft.pipeline.StageTransform
import graft.write.MergeWriter
import graft.catalog.Shared._

/** scalar-function DSL queries (SURVEY 2.5) — split from the single-object catalog;
  * content unchanged. Assembled by [[graft.QueryCatalog]]. */
private[graft] object DslQueries {
  val entries: Seq[(String, Q, Option[String])] = Seq(

    ("q_dsl_concat",
      (s: SparkSession, d: String) => t(s, d, "customer").select(
        col("c_custkey"),
        Transforms.column("fn_transform_Concatenate(c_name,c_mktsegment)",
          "string").as("ck")),
      Some("SELECT c_custkey, concat_ws('|', c_name, c_mktsegment) AS ck " +
        "FROM customer")),

    ("q_dsl_concat_ws",
      (s: SparkSession, d: String) => t(s, d, "customer").select(
        col("c_custkey"),
        Transforms.column("fn_transform_Concatenate_ws(c_name,c_mktsegment,-)",
          "string").as("ckw")),
      Some("SELECT c_custkey, concat_ws('-', c_name, c_mktsegment) AS ckw " +
        "FROM customer")),

    ("q_dsl_bytemagic",
      (s: SparkSession, d: String) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Transforms.column("fn_transform_ByteMagic(l_linestatus,$N)", "string")
          .as("flag_lit"),
        Transforms.column("fn_transform_ByteMagic(l_linestatus,l_returnflag)",
          "string").as("flag_col")),
      Some("""SELECT l_orderkey, l_linenumber,
        CASE WHEN l_linestatus='T' THEN 'T' WHEN l_linestatus='F' THEN 'F'
             ELSE 'N' END AS flag_lit,
        CASE WHEN l_linestatus='T' THEN 'T' WHEN l_linestatus='F' THEN 'F'
             ELSE l_returnflag END AS flag_col
        FROM lineitem""")),

    // QUIRK reproduction: only the LAST rule survives (SURVEY §2.5)
    ("q_dsl_case",
      (s: SparkSession, d: String) => t(s, d, "orders").select(
        col("o_orderkey"),
        Transforms.column(
          "fn_transform_Case(o_orderpriority,1-URGENT|2-HIGH->hot,3-MEDIUM->warm)",
          "string").as("prio")),
      Some("SELECT o_orderkey, CASE WHEN o_orderpriority = '3-MEDIUM' " +
        "THEN 'warm' ELSE NULL END AS prio FROM orders")),

    ("q_dsl_case_default",
      (s: SparkSession, d: String) => t(s, d, "orders").select(
        col("o_orderkey"),
        Transforms.column("fn_transform_Case_with_default(o_orderpriority," +
          "1-URGENT|2-HIGH->hot,3-MEDIUM->warm,$cold)", "string").as("prio")),
      Some("""SELECT o_orderkey,
        CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'hot'
             WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
             ELSE 'cold' END AS prio FROM orders""")),

    // QUIRK reproduction: compound mode accumulates conditions across rules,
    // so any row matching rule 1 OR rule 2 gets the LAST label
    ("q_dsl_case_compound",
      (s: SparkSession, d: String) => t(s, d, "orders").select(
        col("o_orderkey"),
        Transforms.column("fn_transform_Case_with_default(" +
          "o_orderstatus&o_orderpriority,O&1-URGENT->hot1,F&5-LOW->cold5,$mid)",
          "string").as("cls"),
        Transforms.column("fn_transform_Case_with_default(" +
          "o_orderstatus&o_orderpriority,O&1-URGENT|F&5-LOW->either,$rest)",
          "string").as("alt")),
      Some("""SELECT o_orderkey,
        CASE WHEN (o_orderstatus='O' AND o_orderpriority='1-URGENT')
                OR (o_orderstatus='F' AND o_orderpriority='5-LOW')
             THEN 'cold5' ELSE 'mid' END AS cls,
        CASE WHEN (o_orderstatus='O' AND o_orderpriority='1-URGENT')
                OR (o_orderstatus='F' AND o_orderpriority='5-LOW')
             THEN 'either' ELSE 'rest' END AS alt
        FROM orders""")),

    ("q_dsl_clearstring",
      (s: SparkSession, d: String) => t(s, d, "customer").select(
        col("c_custkey"),
        Transforms.column("fn_transform_ClearString(c_name,$none)", "string")
          .as("name_clean"),
        Transforms.column("fn_transform_ClearString(c_name)", "string")
          .as("name_trim")),
      Some("""SELECT c_custkey,
        CASE WHEN c_name IS NOT NULL THEN trim(c_name) ELSE 'none' END
          AS name_clean,
        trim(c_name) AS name_trim FROM customer""")),

    ("q_dsl_date_to_string",
      (s: SparkSession, d: String) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Transforms.column("fn_transform_Date_to_String(l_shipdate,yyyy-MM)",
          "string").as("ship_ym")),
      Some("SELECT l_orderkey, l_linenumber, " +
        "strftime(l_shipdate, '%Y-%m') AS ship_ym FROM lineitem")),

    ("q_dsl_datemagic",
      (s: SparkSession, d: String) => {
        val withOrd = t(s, d, "lineitem").withColumn("ord_col",
          (datediff(to_date(col("l_shipdate")), to_date(lit("1900-01-01"))) +
            Transforms.OrdinalAnchor).cast("int"))
        withOrd.select(
          col("l_orderkey"), col("l_linenumber"),
          Transforms.column(
            "fn_transform_DateMagic(ord_col,yyyy-MM-dd,1970-01-01)", "date")
            .as("ship_decoded"),
          Transforms.column(
            "fn_transform_DateMagic(l_linenumber,yyyy-MM-dd,1970-01-01)", "date")
            .as("bad_decoded"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        CAST(l_shipdate AS DATE) AS ship_decoded,
        DATE '1970-01-01' AS bad_decoded FROM lineitem""")),

    ("q_dsl_datetimemagic",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "events")
          .withColumn("ord_col",
            (datediff(to_date(col("ts")), to_date(lit("1900-01-01"))) +
              Transforms.OrdinalAnchor).cast("int"))
          .withColumn("hms_pad", lpad(
            (hour(col("ts")) * 10000 + minute(col("ts")) * 100 +
              second(col("ts"))).cast("string"), 6, "0"))
          .withColumn("hms_raw",
            (hour(col("ts")) * 10000 + minute(col("ts")) * 100 +
              second(col("ts"))).cast("string"))
        e.select(col("event_id"),
          date_format(Transforms.column(
            "fn_transform_DatetimeMagic(ord_col,hms_pad,yyyy-MM-dd HH:mm:ss,1900-01-01)",
            "timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_full"),
          date_format(Transforms.column(
            "fn_transform_DatetimeMagic(ord_col,hms_raw,yyyy-MM-dd HH:mm:ss,1900-01-01)",
            "timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_fallback"))
      },
      Some("""SELECT event_id,
        strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_full,
        CASE WHEN (hour(ts)*10000 + minute(ts)*100 + second(ts)) >= 100000
             THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
             ELSE strftime(CAST(ts AS DATE), '%Y-%m-%d %H:%M:%S')
        END AS ts_fallback FROM events""")),

    ("q_dsl_periodmagic",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
          .withColumn("per_col", when(col("o_orderstatus") === "F", lit(null))
            .otherwise(year(col("o_orderdate")).cast("string")))
          .withColumn("ex_col", month(col("o_orderdate")).cast("string"))
        o.select(col("o_orderkey"),
          Transforms.column("fn_transform_PeriodMagic(per_col,ex_col)",
            "string").as("period"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'F' THEN '190001'
             ELSE CAST(year(o_orderdate) AS VARCHAR) ||
                  lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')
        END AS period FROM orders""")),

    // fallthrough: bare Spark-SQL expression (transform_light.py:348-349)
    ("q_dsl_expr",
      (s: SparkSession, d: String) => t(s, d, "customer").select(
        col("c_custkey"),
        Transforms.column("upper(c_mktsegment)", "string").as("seg_up")),
      Some("SELECT c_custkey, upper(c_mktsegment) AS seg_up FROM customer")),

    // nested calls compile inner-first (reference $sub_column chaining)
    ("q_dsl_nested",
      (s: SparkSession, d: String) => t(s, d, "customer").select(
        col("c_custkey"),
        Transforms.column(
          "fn_transform_ClearString(fn_transform_Concatenate(c_name,c_mktsegment))",
          "string").as("nested")),
      Some("SELECT c_custkey, trim(concat_ws('|', c_name, c_mktsegment)) " +
        "AS nested FROM customer")),

    // fn_transform_Datetime()'s now() arm, made ORACLE-ABLE by the
    // injectable clock (Transforms.nowUtc): the `spark.graft.now` session
    // conf pins the instant, which bakes into the plan as a literal at
    // column construction / analysis — so the conf can be cleared before
    // the query even runs, and production (conf unset) stays wall-clock.
    // Both doors are exercised: the DSL branch and the SQL `graft_now()`.
    ("q_dsl_datetime_now",
      (s: SparkSession, d: String) => {
        s.conf.set("spark.graft.now", "2026-01-15 10:30:00")
        try {
          // DataFrame construction analyzes eagerly, so graft_now() has
          // resolved (and read the conf) by the time select returns
          t(s, d, "customer").filter(col("c_custkey") <= 10).select(
            col("c_custkey"),
            date_format(Transforms.column("fn_transform_Datetime()",
              "timestamp"), "yyyy-MM-dd HH:mm:ss").as("now_lima"),
            date_format(expr("graft_now()"), "yyyy-MM-dd HH:mm:ss")
              .as("now_utc"),
            date_format(Transforms.column("fn_transform_Datetime(c_name)",
              "timestamp"), "yyyy-MM-dd HH:mm:ss").as("null_ts"))
        } finally s.conf.unset("spark.graft.now")
      },
      Some("""SELECT c_custkey, '2026-01-15 05:30:00' AS now_lima,
          '2026-01-15 10:30:00' AS now_utc, CAST(NULL AS VARCHAR) AS null_ts
        FROM customer WHERE c_custkey <= 10""")),

    // the PARSE arm of fn_transform_Datetime (non-empty arg ->
    // try_to_timestamp: well-formed input parses, malformed yields null —
    // the non-ANSI reference behavior) — oracle-able, unlike the now() arm
    ("q_dsl_datetime_parse",
      (s: SparkSession, d: String) => t(s, d, "orders")
        .filter(col("o_orderkey") < 400)
        .select(col("o_orderkey"),
          concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
            lit(" 12:30:45")).as("ts_str"),
          col("o_orderstatus"))
        .select(col("o_orderkey"),
          date_format(Transforms.column("fn_transform_Datetime(ts_str)",
            "timestamp"), "yyyy-MM-dd HH:mm:ss").as("parsed"),
          date_format(Transforms.column(
            "fn_transform_Datetime(o_orderstatus)", "timestamp"),
            "yyyy-MM-dd HH:mm:ss").as("bad_ts")),
      Some("""SELECT o_orderkey,
          strftime(TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') || ' 12:30:45'
            AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS parsed,
          strftime(TRY_CAST(o_orderstatus AS TIMESTAMP),
            '%Y-%m-%d %H:%M:%S') AS bad_ts
        FROM orders WHERE o_orderkey < 400""")))

  // =========================================================== pipeline

}
