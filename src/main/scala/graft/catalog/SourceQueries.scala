package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Transforms
import graft.incr.Incremental
import graft.meta.ColumnSpec
import graft.ops.{Dedup, Graph, Multimodal, Recon, Sampling, Similarity, TextOps}
import graft.pipeline.StageTransform
import graft.sources
import graft.write.MergeWriter
import graft.catalog.Shared._
import graft.catalog.DslQueries._
import graft.catalog.PipelineQueries._
import graft.catalog.RelationalQueries._
import graft.catalog.TextQueries._
import graft.catalog.DedupQueries._
import graft.catalog.SimQueries._
import graft.catalog.MmQueries._

/** source/sink, incremental-planning and profiling queries — split from the single-object catalog;
  * content unchanged. Assembled by [[graft.QueryCatalog]]. */
private[graft] object SourceQueries {
  val entries: Seq[(String, Q, Option[String])] = spearmanEntry +: Seq(

    // S4 + K1/K2 — csv.gz write with header, schema-less read back, casts
    // re-applied (the reference's raw-zone round trip)
    ("q_src_csv_roundtrip",
      (s: SparkSession, d: String) => {
        val out = scratch("csv") + "/raw"
        val src = t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
        graft.sources.RawZone.writeRawCsv(src, out, overwrite = true)
        graft.sources.RawZone.readRawCsv(s, out).select(
          col("l_orderkey").cast("bigint").as("l_orderkey"),
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_returnflag"), col("ship"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
        strftime(l_shipdate, '%Y-%m-%d') AS ship FROM lineitem""")),

    // Federated multi-format union: the same region dim served from
    // parquet, CSV and ORC, unified under one schema and aggregated —
    // the lake reality where history lives in one format and fresh loads
    // in another. Schema alignment is explicit casts at the source reads
    // (unionByName after normalization); each branch keeps its own
    // format-native scan. Oracle: each region appears once per format.
    ("q_src_federated",
      (s: SparkSession, d: String) => {
        val base = t(s, d, "region")
          .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
            col("r_name"))
        val tmp = scratch("fed")
        graft.sources.RawZone.writeRawCsv(base, s"$tmp/csv",
          overwrite = true)
        base.write.mode("overwrite").orc(s"$tmp/orc")
        val fromCsv = graft.sources.RawZone.readRawCsv(s, s"$tmp/csv")
          .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
            col("r_name"))
        val fromOrc = s.read.orc(s"$tmp/orc")
        base.withColumn("fmt", lit("parquet"))
          .unionByName(fromCsv.withColumn("fmt", lit("csv")))
          .unionByName(fromOrc.withColumn("fmt", lit("orc")))
          .groupBy("r_regionkey", "r_name")
          .agg(count(lit(1)).as("n_copies"),
            count_distinct(col("fmt")).as("n_formats"))
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
          CAST(3 AS BIGINT) AS n_copies, CAST(3 AS BIGINT) AS n_formats
        FROM region""")),

    // ORC round trip: the second columnar format a lake interoperates
    // with — typed write + read-back, verified lossless against the
    // parquet-sourced oracle
    ("q_src_orc",
      (s: SparkSession, d: String) => {
        val out = scratch("orc") + "/docs"
        t(s, d, "documents").select("doc_id", "text", "lang", "n_chars")
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
            col("lang"), col("n_chars"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, n_chars
        FROM documents""")),

    // Fixed-width interchange round trip (RawZone.writeFixedWidth /
    // readFixedWidth) — the COBOL-copybook/settlement-file layout legacy
    // feeds still arrive in: right-padded fields at declared offsets, no
    // delimiter; overflow throws loudly (silent truncation is a
    // corrupted feed), the reader is one substring per field in the scan
    // stage, and the format stays line-splittable at any size. The
    // oracle reads the PARQUET source, so the hash match proves the
    // offsets/padding round trip lossless. Supplier names carry no
    // trailing spaces in the fixture (rtrim would eat them — the
    // documented fixed-width ambiguity), and acctbal rides as exact
    // cents digits.
    ("q_src_fixedwidth",
      (s: SparkSession, d: String) => {
        val out = scratch("fixw") + "/supp"
        val widths = Seq("s_suppkey" -> 10, "s_name" -> 24,
          "s_nationkey" -> 4, "bal_cents" -> 14)
        sources.RawZone.writeFixedWidth(
          t(s, d, "supplier").select(
            col("s_suppkey").cast("string").as("s_suppkey"),
            col("s_name"),
            col("s_nationkey").cast("string").as("s_nationkey"),
            cents(col("s_acctbal")).cast("string").as("bal_cents")),
          out, widths, overwrite = true)
        sources.RawZone.readFixedWidth(s, out, widths)
          .select(col("s_suppkey").cast("long").as("s_suppkey"),
            col("s_name"), col("s_nationkey").cast("long")
              .as("s_nationkey"),
            col("bal_cents").cast("long").as("bal_cents"))
      },
      Some(s"""SELECT s_suppkey, s_name,
          CAST(s_nationkey AS BIGINT) AS s_nationkey,
          ${centsSql("s_acctbal")} AS bal_cents
        FROM supplier""")),

    // XML interchange round trip — Spark 4's NATIVE xml source (the
    // spark-xml package merged into core), the format B2B/legacy feeds
    // still arrive in. Declared read schema + explicit rowTag (schema
    // inference over 100 TB of XML is a full extra scan); values survive
    // the text round trip because every emitted column is integer or
    // md5-hashed text — the q_src_orc/jsonl losslessness convention. The
    // oracle reads the PARQUET source: a hash match proves the XML
    // write→read is lossless, not merely self-consistent.
    ("q_src_xml",
      (s: SparkSession, d: String) => {
        val out = scratch("xml") + "/docs"
        t(s, d, "documents").select("doc_id", "text", "lang", "n_chars")
          .write.mode("overwrite")
          .option("rowTag", "doc").option("rootTag", "docs")
          .format("xml").save(out)
        s.read
          .schema("doc_id LONG, text STRING, lang STRING, n_chars LONG")
          .option("rowTag", "doc").format("xml").load(out)
          .select(col("doc_id"),
            md5(col("text").cast("binary")).as("text_md5"),
            col("lang"), col("n_chars"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, n_chars
        FROM documents""")),

    // Schema evolution on READ: two partition directories with different
    // schemas (a column added mid-stream) merged by mergeSchema + partition
    // discovery — the old partition reads the new column as NULL, no
    // rewrite of old data. The oracle recomputes both generations from the
    // source table
    ("q_src_evolved",
      (s: SparkSession, d: String) => {
        val out = scratch("evo") + "/orders"
        val o = t(s, d, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(out + "/gen=old")
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(out + "/gen=new")
        s.read.option("mergeSchema", "true").parquet(out)
          .select("o_orderkey", "o_custkey", "o_totalprice", "gen")
      },
      Some("""SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice,
          CASE WHEN o_orderkey % 2 = 1 THEN 'new' ELSE 'old' END AS gen
        FROM orders""")),

    // Snapshot-committed table round trip: two commits + a vacuum, read
    // through the pointer — the commit protocol (atomic pointer flip,
    // immutable versions, retention) exercised end-to-end; the oracle is
    // the second commit's content
    ("q_snapshot_roundtrip",
      (s: SparkSession, d: String) => {
        val root = scratch("snap") + "/orders"
        val src = t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_custkey")
        graft.write.SnapshotStore.commit(
          src.filter(col("o_orderkey") % 2 === 0), root)
        graft.write.SnapshotStore.commit(src, root,
          partitionCols = Seq("o_orderstatus"))
        graft.write.SnapshotStore.vacuum(root, keep = 1)
        graft.write.SnapshotStore.read(s, root)
          .select("o_orderkey", "o_orderstatus", "o_custkey")
      },
      Some("SELECT o_orderkey, o_orderstatus, o_custkey FROM orders")),

    // Change-data feed between two snapshot versions (Delta CDF's
    // table_changes, re-derived from immutable snapshots): v0 = even
    // orderkeys, v1 = keys not divisible by 3 with o_custkey bumped on
    // multiples of 4 -> odd non-3-multiples are inserts, even 3-multiples
    // deletes, 4-multiples (not div 3) updates; the oracle recomputes the
    // classification from the same predicates over the source table
    ("q_snapshot_changes",
      (s: SparkSession, d: String) => {
        val root = scratch("cdc") + "/orders"
        val src = t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_custkey")
        graft.write.SnapshotStore.commit(
          src.filter(col("o_orderkey") % 2 === 0), root)
        graft.write.SnapshotStore.commit(
          src.filter(col("o_orderkey") % 3 =!= 0)
            .withColumn("o_custkey", when(col("o_orderkey") % 4 === 0,
              col("o_custkey") + 1).otherwise(col("o_custkey"))), root)
        graft.write.SnapshotStore.changesBetween(s, root, 0L, 1L,
          Seq("o_orderkey"))
      },
      Some("""WITH src AS (SELECT o_orderkey, o_orderstatus, o_custkey
            FROM orders)
        SELECT o_orderkey, 'insert' AS change_op, o_orderstatus, o_custkey
          FROM src WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey, 'delete', o_orderstatus, o_custkey
          FROM src WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 'update', o_orderstatus, o_custkey + 1
          FROM src WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 <> 0""")),

    // JSONL round trip (write -> declared-schema read): lossless through
    // JSON string escaping — verified via md5 over the full text body
    ("q_src_jsonl",
      (s: SparkSession, d: String) => {
        val out = scratch("jsonl") + "/docs"
        graft.sources.RawZone.writeJsonl(
          t(s, d, "documents").select("doc_id", "text", "lang", "n_chars"),
          out, overwrite = true)
        graft.sources.RawZone.readJsonl(s, out,
            "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
          .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
            col("lang"), col("n_chars"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, n_chars
        FROM documents""")),

    // Malformed-record tolerance: a JSONL feed with broken lines must load
    // the good rows and COUNT the bad ones (PERMISSIVE parse, corrupt
    // lines land in a rescue column) — silently dropping them is how a
    // 100 TB ingest loses data without anyone noticing. Three known-bad
    // lines are injected among the real export; the oracle states the
    // expected census directly.
    ("q_src_jsonl_bad",
      (s: SparkSession, d: String) => {
        val dir = scratch("jsonl_bad") + "/docs"
        graft.sources.RawZone.writeJsonl(
          t(s, d, "documents").select("doc_id", "lang"),
          dir, overwrite = true)
        // corrupt lines: truncated JSON, non-JSON garbage, wrong bracket
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "bad.json"),
          "{\"doc_id\": 1, \"lang\"\nnot json at all\n[3, 4]\n"
            .getBytes("UTF-8"))
        s.read.schema("doc_id BIGINT, lang STRING, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(dir)
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
              .as("n_bad"),
            count_distinct(col("lang")).as("n_langs"))
      },
      Some("""SELECT count(*) + 3 AS n_lines, CAST(3 AS BIGINT) AS n_bad,
          count(DISTINCT lang) AS n_langs
        FROM documents""")),

    // S1/S3 ORACLE-CHECKED — the reference's flagship JDBC extraction
    // executed against a LIVE embedded database inside the query: a
    // bounded deterministic subset of `orders` is loaded into in-memory
    // Derby (driver-side JDBC batch — harness setup bounded by the key
    // filter literal, not a data-path collect), then extracted back
    // through the SAME generated SQL production uses (P4/P6 projection +
    // key alias, P3 window predicate) via the Spark-partitioned bounded
    // read (S3: executors issue the per-range queries; bounds control the
    // stride, the window predicate lives in the pushed subquery). The
    // oracle recomputes the window from the original parquet — a JDBC
    // round-trip fidelity proof, not just a spec.
    ("q_src_jdbc",
      (s: SparkSession, d: String) => {
        val url = "jdbc:derby:memory:graftq;create=true"
        val drv = "org.apache.derby.jdbc.EmbeddedDriver"
        Class.forName(drv)
        val rows = t(s, d, "orders")
          .filter(col("o_orderkey") <= 20000)
          .select(col("o_orderkey").cast("long"),
            col("o_custkey").cast("long"), col("o_orderstatus"),
            cents(col("o_totalprice")),
            date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .collect()
        val c = java.sql.DriverManager.getConnection(url)
        try {
          val st = c.createStatement()
          // Derby has no IF EXISTS: idempotent re-create for repeated
          // invocations (bench warm-up runs every query twice)
          try st.executeUpdate("DROP TABLE GRAFT.ORDERS_SRC")
          catch { case _: java.sql.SQLException => () }
          try st.executeUpdate("CREATE SCHEMA GRAFT")
          catch { case _: java.sql.SQLException => () }
          st.executeUpdate("""CREATE TABLE GRAFT.ORDERS_SRC(
            O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, O_CUSTKEY BIGINT,
            O_ORDERSTATUS VARCHAR(1), CENTS BIGINT, O_DATE VARCHAR(10))""")
          val ps = c.prepareStatement(
            "INSERT INTO GRAFT.ORDERS_SRC VALUES (?,?,?,?,?)")
          rows.foreach { r =>
            ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
            ps.setString(3, r.getString(2)); ps.setLong(4, r.getLong(3))
            ps.setString(5, r.getString(4)); ps.addBatch()
          }
          ps.executeBatch()
          st.close(); ps.close()
        } finally c.close()
        val baseQ = Incremental.fullQuery("GRAFT", "ORDERS_SRC",
          "o_custkey,o_orderstatus,cents,o_date", idColumn = "o_orderkey")
        val pred = Incremental.windowPredicateSql("o_orderkey",
          "4000", "16000")
        // the projection aliased the key to `id` (P6) — Spark's partition
        // column must name the SUBQUERY's output column
        graft.sources.JdbcSource.readPartitioned(s, url, drv,
            s"($baseQ where $pred) AS src", "id", "4000", "16000",
            numPartitions = 4)
          .select(col("id").cast("bigint").as("o_orderkey"),
            col("o_custkey").cast("bigint").as("o_custkey"),
            col("o_orderstatus"), col("cents").cast("bigint").as("cents"),
            col("o_date"))
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
          ${centsSql("o_totalprice")} AS cents,
          strftime(o_orderdate, '%Y-%m-%d') AS o_date
        FROM orders
        WHERE o_orderkey <= 20000 AND o_orderkey BETWEEN 4000 AND 16000""")),

    // S5 — every TimestampType column shifted UTC -> Lima (-5h)
    ("q_src_tz_shift",
      (s: SparkSession, d: String) =>
        graft.sources.RawZone.shiftTimestamps(t(s, d, "events"))
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_lima")),
      Some("""SELECT event_id,
        strftime(ts - INTERVAL 5 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS ts_lima
        FROM events""")),

    // D1 — full-row distinct (load_with_query.py:169)
    ("q_distinct_full",
      (s: SparkSession, d: String) => t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).dropDuplicates(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // D2 — keyed distinct (dropDuplicates(ids) pre-merge,
    // aje-stage-dms-load.py:483-485); keys-only output for determinism
    ("q_distinct_keyed",
      (s: SparkSession, d: String) => t(s, d, "events")
        .dropDuplicates(Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type")),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // J1 + P6 — free-text JOIN_EXPR lifted to a Spark join + projection-list
    // with key alias (SELECT {ID_COLUMN} as id, ...)
    ("q_join_lifted",
      (s: SparkSession, d: String) => t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          expr("c_nationkey = n_nationkey AND n_regionkey <= 2"))
        .selectExpr("c_custkey as id", "c_name", "n_name"),
      Some("""SELECT c_custkey AS id, c_name, n_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey AND n_regionkey <= 2""")),

    // A1 — count action gating empty-input handling
    ("q_agg_count",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(count(lit(1)).as("n_rows")),
      Some("SELECT count(*) AS n_rows FROM lineitem")),

    // §4 nicety — DSL registered in the FunctionRegistry: full-DSL literal
    // form, expression-positional form, and the native rolling_hash
    // Expression, all inside ONE spark.sql statement
    ("q_dsl_sql_registry",
      (s: SparkSession, d: String) => {
        t(s, d, "customer").createOrReplaceTempView("customer_sqlreg")
        s.sql("""SELECT c_custkey,
          fn_transform(
            'fn_transform_Case_with_default(c_mktsegment,BUILDING|AUTOMOBILE->ba,$oo)',
            'string') AS seg,
          fn_transform_concatenate(c_name, c_mktsegment) AS ck,
          graft_rolling_hash(lower(c_name)) AS rh
        FROM customer_sqlreg""")
      },
      Some("""WITH n AS (SELECT *, lower(c_name) AS lname FROM customer)
        SELECT c_custkey,
          CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 'ba'
               ELSE 'oo' END AS seg,
          concat_ws('|', c_name, c_mktsegment) AS ck,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(lname) + 1),
                i -> CAST(unicode(lname[i]) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000000000000) AS rh
        FROM n""")),

    // the sketch surface through SQL: graft_kmv_distinct over the native
    // graft_md5_prefix60 hash, grouped — `expr()`/spark.sql users get the
    // same bounded-state distinct estimation the Scala API ships, and the
    // oracle replays each group's sketch (row_number over ordered 60-bit
    // hashes) bit-for-bit
    ("q_dsl_sql_sketch",
      (s: SparkSession, d: String) => {
        t(s, d, "documents").createOrReplaceTempView("documents_sqlsk")
        s.sql("""SELECT lang, count(*) AS n_docs,
            graft_kmv_distinct(
              graft_md5_prefix60(CAST(doc_id AS STRING)), 64) AS nd_doc_est
          FROM documents_sqlsk GROUP BY lang""")
      },
      Some("""WITH h AS MATERIALIZED (SELECT lang,
              CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
            FROM (SELECT DISTINCT lang, doc_id FROM documents)),
          r AS (SELECT lang, h,
              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY lang) AS cnt
            FROM (SELECT DISTINCT lang, h FROM h)),
          est AS (SELECT lang,
              CASE WHEN any_value(cnt) < 64 THEN CAST(any_value(cnt) AS DOUBLE)
                   ELSE 63.0 * 1152921504606846976.0 /
                     CAST(max(CASE WHEN rn <= 64 THEN h END) AS DOUBLE)
              END AS nd_doc_est FROM r GROUP BY lang),
          n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        SELECT n.lang, n.n_docs, est.nd_doc_est
        FROM n JOIN est USING (lang)""")),

    // multimodal frame sampling: one row per sampled frame index per video
    ("q_mm_frames",
      (s: SparkSession, d: String) => Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, t(s, d, "documents")), everyMs = 5000),
      Some("""SELECT doc_id AS media_id,
          unnest(generate_series(0, CAST(n_chars * 10 AS INTEGER), 5000))
            AS frame_ms
        FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2""")),

    // multimodal resize (metadata-only stub) through the typed Dataset path
    ("q_mm_resize",
      (s: SparkSession, d: String) => Multimodal.resize(
          Multimodal.mediaFromDocuments(s, t(s, d, "documents")), 64, 48)
        .toDF().select(col("media_id"), col("kind"), col("width"), col("height")),
      Some("""SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
               WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          64 AS width, 48 AS height
        FROM documents""")),

    // skew-mitigated shuffle join: row-identical to the plain join, hot keys
    // spread over nSalts reducers
    // Join-key skew audit (Skew.keyAudit): rows / distinct keys / hottest
    // key share / ceil(max/avg) salt recommendation per candidate join
    // key — the measurement that picks plain vs salted vs AQE-split joins
    // BEFORE the slow shuffle happens. One combine-enabled aggregate per
    // key; all-integer report.
    ("q_profile_skew",
      (s: SparkSession, d: String) => graft.ops.Skew.keyAudit(Seq(
        (t(s, d, "lineitem"), "l_orderkey", "lineitem.l_orderkey"),
        (t(s, d, "lineitem"), "l_partkey", "lineitem.l_partkey"),
        (t(s, d, "lineitem"), "l_suppkey", "lineitem.l_suppkey"),
        (t(s, d, "orders"), "o_custkey", "orders.o_custkey"))),
      Some(Seq(("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
          ("lineitem", "l_suppkey"), ("orders", "o_custkey"))
        .map { case (tbl, k) =>
          s"""SELECT '$tbl.$k' AS key_name,
            CAST(sum(c) AS BIGINT) AS n_rows,
            count(*) AS n_keys,
            CAST(max(c) AS BIGINT) AS max_rows,
            CAST(floor(CAST(max(c) AS DOUBLE) * 1e6 /
              CAST(sum(c) AS DOUBLE)) AS BIGINT) AS top1_share_ppm,
            CAST(ceil(CAST(max(c) AS DOUBLE) * CAST(count(*) AS DOUBLE)
              / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS salt_factor
          FROM (SELECT count(*) AS c FROM $tbl GROUP BY $k)"""
        }.mkString("\nUNION ALL\n"))),

    ("q_skew_salted_join",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = t(s, d, "orders")
          .selectExpr("o_orderkey as l_orderkey", "o_orderstatus")
        graft.ops.Skew.saltedJoin(li, o, Seq("l_orderkey"), nSalts = 8)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            (sum(cents(col("l_extendedprice")) *
              (lit(100L) - cents(col("l_discount")))) / lit(10000.0))
              .as("revenue"))
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        CAST(sum(${centsSql("l_extendedprice")} *
                 (100 - ${centsSql("l_discount")})) AS BIGINT) / 10000.0
          AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus""")),

    // catalog registration (crawlers_job analog): write a partitioned stage
    // Column-level lineage extracted FROM THE PLAN of a join+aggregate
    // pipeline (Lineage.columnLineage — pure driver-side plan walk, no
    // data pass, no job): each output column maps to the source-relation
    // columns whose values reach it. The oracle is the literal expected
    // edge set — plan-derived metadata is deterministic and SF-invariant.
    ("q_meta_lineage",
      (s: SparkSession, d: String) => {
        val q = t(s, d, "lineitem")
          .join(t(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority").as("prio"))
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        graft.meta.Lineage.columnLineage(q)
      },
      Some("""SELECT * FROM (VALUES
          ('prio', 'orders.parquet', 'o_orderpriority'),
          ('revenue', 'lineitem.parquet', 'l_discount'),
          ('revenue', 'lineitem.parquet', 'l_extendedprice'))
        AS t(out_col, source, src_col)""")),

    // table, register it, and read it back BY NAME through the catalog —
    // content must equal a plain scan of the same source rows
    ("q_catalog_register",
      (s: SparkSession, d: String) => {
        // Deterministic path per source dir + a fresh registration each run:
        // re-invocations (Bench warmup then timed pass, possibly different
        // SF dirs) must re-point LOCATION at THIS run's data, not reuse a
        // stale first-registration temp dir, and must not leak a dir per run.
        val path = sys.props("java.io.tmpdir") + "/graft_catreg_" +
          d.replaceAll("[^A-Za-z0-9._-]", "_") + "/t"
        val src = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
        MergeWriter.writeSwap(src, path, partitionCols = Seq("o_orderstatus"))
        val db = graft.write.CatalogRegistry
          .stageDatabaseName("graft", "mssql", "ep_bench")
        s.sql(s"DROP TABLE IF EXISTS `$db`.`orders_stage`")
        graft.write.CatalogRegistry.registerStage(s, db, "orders_stage", path,
          Seq("o_orderstatus"))
        s.table(s"$db.orders_stage")
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("SELECT o_orderkey, o_orderstatus FROM orders")),

    // A4 — BIGINT-epoch watermark conversion round trip
    ("q_incr_epoch",
      (s: SparkSession, d: String) => {
        import graft.incr.Incremental
        t(s, d, "events").select(col("event_id"),
          Incremental.timestampToEpoch(col("ts")).as("epoch_s"),
          date_format(Incremental.epochToTimestamp(
              Incremental.timestampToEpoch(col("ts"))),
            "yyyy-MM-dd HH:mm:ss").as("ts_rt"))
      },
      Some("""SELECT event_id,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
          strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_rt
        FROM events""")),

    // K7 — small-file compaction round trip: content identical after rewrite
    // Partition pruning round trip: write partitioned by status, read
    // with a partition predicate — the scan must touch ONLY the matching
    // directory (PlanShapeSpec pins PartitionFilters on the scan node;
    // this query pins the content). At 100 TB, pruning is the difference
    // between scanning a status's slice and scanning the lake.
    // Zone-map skippability audit: the same rows under two layouts —
    // hash-bucketed by orderkey vs value-clustered by price — and, per
    // layout, how many zones (and rows) a `price > $300k` scan could
    // SKIP from min/max zone stats alone. The number that justifies
    // clustering/Z-order spend: hash zones all straddle the predicate
    // (skip ~0), value zones are disjoint (skip ~everything below the
    // cut). One pass: a 2x scan-stage fan-out (layout tag), one
    // combine-enabled zone-stats aggregate, one layout-level rollup.
    ("q_maint_zonemap",
      (s: SparkSession, d: String) => {
        val cut = 30000000L // cents: $300k
        val o = t(s, d, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("pc"))
        val tagged = o.select(col("pc"), explode(array(
          struct(lit("hash64").as("layout"),
            pmod(col("o_orderkey"), lit(64L)).as("zone")),
          struct(lit("value_clustered").as("layout"),
            expr("pc div 2000000L").as("zone")))).as("s"))
          .select(col("s.layout").as("layout"), col("s.zone").as("zone"),
            col("pc"))
        val zones = tagged.groupBy("layout", "zone")
          .agg(count(lit(1)).as("n_rows"), max("pc").as("max_pc"))
        zones.groupBy("layout")
          .agg(count(lit(1)).as("n_zones"),
            sum(when(col("max_pc") <= cut, 1L).otherwise(0L))
              .as("n_skippable"),
            sum("n_rows").as("rows_total"),
            sum(when(col("max_pc") <= cut, col("n_rows")).otherwise(0L))
              .as("rows_skipped"))
          .select(col("layout"), col("n_zones"), col("n_skippable"),
            col("rows_total"), col("rows_skipped"),
            floor(col("rows_skipped").cast("double") * lit(1e6) /
              col("rows_total").cast("double")).cast("long")
              .as("skip_ppm"))
      },
      Some(s"""WITH o AS (SELECT o_orderkey,
            ${centsSql("o_totalprice")} AS pc FROM orders),
        tagged AS (
          SELECT 'hash64' AS layout, o_orderkey % 64 AS zone, pc FROM o
          UNION ALL
          SELECT 'value_clustered', pc // 2000000, pc FROM o),
        z AS (SELECT layout, zone, count(*) AS n_rows,
            CAST(max(pc) AS BIGINT) AS max_pc
          FROM tagged GROUP BY 1, 2),
        a AS (SELECT layout, count(*) AS n_zones,
            CAST(sum(CASE WHEN max_pc <= 30000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_skippable,
            CAST(sum(n_rows) AS BIGINT) AS rows_total,
            CAST(sum(CASE WHEN max_pc <= 30000000 THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_skipped
          FROM z GROUP BY 1)
        SELECT layout, n_zones, n_skippable, rows_total, rows_skipped,
          CAST(floor(CAST(rows_skipped AS DOUBLE) * 1e6
            / CAST(rows_total AS DOUBLE)) AS BIGINT) AS skip_ppm
        FROM a""")),

    ("q_maint_prune",
      (s: SparkSession, d: String) => {
        val out = scratch("prune") + "/orders"
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        s.read.parquet(out).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        WHERE o_orderstatus = 'F'""")),

    ("q_maint_compact",
      (s: SparkSession, d: String) => {
        val out = scratch("compact") + "/t"
        val src = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
        src.repartition(16).write.mode("overwrite").parquet(out) // many files
        MergeWriter.compact(s, out, target = 1)
        assert(new java.io.File(out).listFiles()
          .count(_.getName.endsWith(".parquet")) == 1)
        s.read.parquet(out)
      },
      Some("SELECT o_orderkey, o_orderstatus FROM orders")),

    // Data-skipping layout maintenance: range-clustered sorted rewrite
    // (Bucketing.writeClustered); content must round-trip unchanged while
    // every file covers a disjoint o_orderkey range
    ("q_maint_cluster",
      (s: SparkSession, d: String) => {
        // deterministic per source dir — re-runs overwrite, nothing leaks
        val out = sys.props("java.io.tmpdir") + "/graft_cluster_" +
          d.replaceAll("[^A-Za-z0-9._-]", "_") + "/t"
        val src = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        graft.write.Bucketing.writeClustered(src, out, Seq("o_orderkey"), 8)
        s.read.parquet(out)
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders")),

    // Z-order rewrite: multi-column Morton clustering (files become compact
    // key-space rectangles -> min/max skipping on EITHER column); the
    // driver-verified contract is content preservation
    ("q_maint_zorder",
      (s: SparkSession, d: String) => {
        val out = sys.props("java.io.tmpdir") + "/graft_zorder_" +
          d.replaceAll("[^A-Za-z0-9._-]", "_") + "/t"
        val src = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        graft.write.Bucketing.writeZOrdered(src, out,
          Seq("o_orderkey", "o_custkey"), 8)
        s.read.parquet(out)
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders")),

    // ANALYZE-style column profile: one aggregation pass emitting the
    // statistics a CBO / drift monitor keeps per column. String-typed
    // columns only get string min/max; doubles and timestamps are excluded
    // from the catalog variant (engine string renderings differ)
    ("q_profile_stats",
      (s: SparkSession, d: String) => graft.ops.Stats.profileColumns(
        t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")),
      Some {
        def rowFor(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_val,
              CAST(max($c) AS VARCHAR) AS max_val FROM lineitem"""
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")
          .map(rowFor).mkString("\n UNION ALL\n ")
      }),

    // Data-contract check — the declared-expectations gate an ingest
    // runs before publishing a table (the Great-Expectations/dbt-test
    // shape): a literal contract (per column: max null ppm, min distinct
    // count, required lower bound on the min value) joined against ONE
    // profiling pass, emitting per-column pass/violation flags. The
    // contract rides as a broadcast literal table; the corpus is scanned
    // once (the profileColumns aggregate). Exact integers: null ppm is a
    // cross-multiplication, never a stored ratio. CAVEAT (deliberate,
    // matching the profile's string-typed min/max): the min-bound check
    // compares LEXICOGRAPHICALLY — right for status codes and dates,
    // wrong for multi-digit numerics ("10" < "2"); numeric range
    // contracts belong on q_profile_hist's typed bounds instead.
    ("q_profile_contract",
      (s: SparkSession, d: String) => {
        val prof = graft.ops.Stats.profileColumns(t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
        val contract = s.createDataFrame(Seq(
          ("o_orderkey", 0L, 1000L, "1"),
          ("o_custkey", 0L, 10000000L, "1"),
          ("o_totalprice", 0L, 500L, "0"),
          ("o_orderstatus", 0L, 2L, "G")))
          .toDF("col_name", "max_null_ppm", "min_distinct", "min_at_least")
        prof.join(broadcast(contract), Seq("col_name"))
          .select(col("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"),
            (col("n_null") * lit(1000000L) >
              col("max_null_ppm") * col("n_rows")).cast("long")
              .as("null_violation"),
            (col("n_distinct") < col("min_distinct")).cast("long")
              .as("distinct_violation"),
            (col("min_val") < col("min_at_least")).cast("long")
              .as("min_violation"))
      },
      Some {
        def rowFor(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_val FROM orders"""
        val prof = Seq("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus").map(rowFor).mkString("\n UNION ALL\n ")
        s"""WITH prof AS ($prof),
          contract(col_name, max_null_ppm, min_distinct, min_at_least) AS
            (VALUES ('o_orderkey', 0, 1000, '1'),
                    ('o_custkey', 0, 10000000, '1'),
                    ('o_totalprice', 0, 500, '0'),
                    ('o_orderstatus', 0, 2, 'G'))
          SELECT p.col_name, p.n_rows, p.n_null, p.n_distinct,
            CAST(p.n_null * 1000000 > c.max_null_ppm * p.n_rows AS BIGINT)
              AS null_violation,
            CAST(p.n_distinct < c.min_distinct AS BIGINT)
              AS distinct_violation,
            CAST(p.min_val < c.min_at_least AS BIGINT) AS min_violation
          FROM prof p JOIN contract c USING (col_name)"""
      }),

    // The 100 TB profile: ONE global pass, KMV-sketch distinct estimates
    // (no Expand — nothing is replicated into the shuffle), exact
    // everything else. The oracle replays each column's sketch
    // (row_number over ordered 60-bit md5 hashes) bit-for-bit
    ("q_profile_approx",
      (s: SparkSession, d: String) => graft.ops.Stats.profileColumnsApprox(
        t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag"),
        sketchK = 256),
      Some {
        def rowFor(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              (WITH h AS (SELECT DISTINCT CAST(concat('0x',
                    substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                  FROM lineitem WHERE $c IS NOT NULL),
                r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
                    count(*) OVER () AS cnt FROM h)
                SELECT CASE WHEN any_value(cnt) < 256
                    THEN CAST(any_value(cnt) AS DOUBLE)
                    ELSE 255.0 * 1152921504606846976.0 /
                      CAST(max(CASE WHEN rn <= 256 THEN h END) AS DOUBLE)
                  END FROM r) AS n_distinct_est,
              CAST(min($c) AS VARCHAR) AS min_val,
              CAST(max($c) AS VARCHAR) AS max_val FROM lineitem"""
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")
          .map(rowFor).mkString("\n UNION ALL\n ")
      }),

    // Exact grouped discrete quantiles: order statistics over the
    // aggregated (group, value) CELL table — map-side combine collapses
    // the corpus before the only window, which runs over cells (the
    // countAnomalies pattern). Selection is pure integer arithmetic; the
    // oracle replays the identical cumulative formulation
    ("q_profile_quantiles",
      (s: SparkSession, d: String) => graft.ops.Stats.quantilesDisc(
        t(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity",
        Seq(0.25, 0.5, 0.75, 0.95)),
      Some("""WITH cells AS (SELECT l_returnflag, l_quantity AS v,
              count(*) AS cnt
            FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
          cum AS (SELECT l_returnflag, v, cnt,
              sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(cnt) OVER (PARTITION BY l_returnflag) AS n_rows
            FROM cells),
          qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q)
        SELECT l_returnflag, CAST(q AS DOUBLE) AS q, v AS value,
          greatest(CAST(ceil(CAST(q AS DOUBLE) * n_rows) AS BIGINT), 1)
            AS rank,
          CAST(n_rows AS BIGINT) AS n_rows
        FROM cum CROSS JOIN qs
        WHERE cum - cnt <
            greatest(CAST(ceil(CAST(q AS DOUBLE) * n_rows) AS BIGINT), 1)
          AND greatest(CAST(ceil(CAST(q AS DOUBLE) * n_rows) AS BIGINT), 1)
            <= cum""")),

    // Candidate-key discovery: distinct ratio per declared column combo —
    // is_key fires when every row is unique (the profiling step that
    // finds join keys and catches PK violations before a merge). One
    // groupBy per combo over pre-projected strings; combos chosen are the
    // plausible identities of the events table.
    ("q_profile_uniqueness",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "events")
        def probe(name: String, key: org.apache.spark.sql.Column) =
          e.agg(lit(name).as("combo"), count(lit(1)).as("n"),
            count_distinct(key).as("n_distinct"))
        probe("event_id", col("event_id"))
          .unionByName(probe("user_id", col("user_id")))
          .unionByName(probe("user_id|ts",
            concat_ws("|", col("user_id"),
              unix_micros(col("ts")).cast("string"))))
          .withColumn("is_key", col("n_distinct") === col("n"))
      },
      Some("""SELECT 'event_id' AS combo, count(*) AS n,
          count(DISTINCT event_id) AS n_distinct,
          count(DISTINCT event_id) = count(*) AS is_key FROM events
        UNION ALL
        SELECT 'user_id', count(*), count(DISTINCT user_id),
          count(DISTINCT user_id) = count(*) FROM events
        UNION ALL
        SELECT 'user_id|ts', count(*),
          count(DISTINCT concat(CAST(user_id AS VARCHAR), '|',
            CAST(epoch_us(ts) AS VARCHAR))),
          count(DISTINCT concat(CAST(user_id AS VARCHAR), '|',
            CAST(epoch_us(ts) AS VARCHAR))) = count(*) FROM events""")),

    // Benford leading-digit audit: observed first-digit distribution of
    // order totals against Benford expectation — the classic fabricated-
    // numbers screen. Digits extracted by integer string ops (exact);
    // expected shares are injected as round-tripping double literals so
    // both engines compare the same constants; one combine-enabled
    // aggregate.
    ("q_profile_benford", {
      // P(d) = log10(1 + 1/d), pre-rounded to 6 dp so the literal
      // round-trips identically through Scala and SQL text
      val exp = (1 to 9).map(dd =>
        dd -> (math.floor(math.log10(1.0 + 1.0 / dd) * 1e6) / 1e6))
      ((s: SparkSession, d: String) => {
        val tot = t(s, d, "orders").agg(count(lit(1)).as("n_total"))
        t(s, d, "orders")
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .withColumn("observed",
            floor(lit(1e6) * col("n").cast("double") /
              col("n_total").cast("double")) / lit(1e6))
          .withColumn("expected",
            element_at(map(exp.flatMap { case (k, v) =>
              Seq(lit(k), lit(v)) }: _*), col("digit")))
      }): Q
      },
      Some {
        val expCase = (1 to 9).map { dd =>
          val v = math.floor(math.log10(1.0 + 1.0 / dd) * 1e6) / 1e6
          s"WHEN $dd THEN $v"
        }.mkString(" ")
        s"""WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
              AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
            FROM orders),
          tot AS (SELECT count(*) AS n_total FROM dg)
          SELECT digit, count(*) AS n, n_total,
            floor(1e6 * CAST(count(*) AS DOUBLE) /
              CAST(n_total AS DOUBLE)) / 1e6 AS observed,
            CASE digit $expCase END AS expected
          FROM dg, tot GROUP BY digit, n_total"""
      }),

    // Column-entropy profile in whole bits: Shannon entropy with
    // floor-log2 (bit-length) term weights — H ≈ log2(n) − Σc·log2(c)/n,
    // every moment an exact BIGINT (the information-content screen that
    // flags constant-ish columns and near-unique keys in one scan). All
    // three columns melt through ONE explode, so the fact table is read
    // once; presentation is a single double division.
    // Pairwise mutual-information screen (Stats.mutualInfoBits) in the
    // entropy query's floor-log2 bit units — the dependence / leakage
    // audit over categorical column pairs (a leaked label or denormalized
    // copy scores high; independent pairs ~0). Null categories fold to a
    // '-' sentinel so no cell drops at the marginal joins.
    ("q_profile_mi",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val dow = date_format(col("ts"), "EEEE")
        val hour = date_format(col("ts"), "HH")
        val vbin = coalesce(
          least(floor(cents(col("value")).cast("double") / lit(5000.0)),
            lit(9.0)).cast("long").cast("string"), lit("-"))
        val pairs = ev.select(explode(array(
            struct(lit("event_type|dow").as("pair"),
              col("event_type").as("x"), dow.as("y")),
            struct(lit("event_type|value_bin").as("pair"),
              col("event_type").as("x"), vbin.as("y")),
            struct(lit("dow|hour").as("pair"), dow.as("x"),
              hour.as("y")))).as("p"))
          .select(col("p.pair").as("pair"), col("p.x").as("x"),
            col("p.y").as("y"))
        graft.ops.Stats.mutualInfoBits(pairs, "pair", "x", "y")
      },
      Some("""WITH m AS (
          SELECT 'event_type|dow' AS pair, event_type AS x,
            strftime(ts, '%A') AS y FROM events
          UNION ALL
          SELECT 'event_type|value_bin', event_type,
            coalesce(CAST(CAST(least(floor(
              CAST(CAST(floor("value" * 100) AS BIGINT) AS DOUBLE)
                / 5000.0), 9.0) AS BIGINT) AS VARCHAR), '-')
          FROM events
          UNION ALL
          SELECT 'dow|hour', strftime(ts, '%A'), strftime(ts, '%H')
          FROM events),
        cells AS (SELECT pair, x, y, count(*) AS c FROM m GROUP BY 1, 2, 3),
        mx AS (SELECT pair, x, CAST(sum(c) AS BIGINT) AS cx
          FROM cells GROUP BY 1, 2),
        my AS (SELECT pair, y, CAST(sum(c) AS BIGINT) AS cy
          FROM cells GROUP BY 1, 2),
        nn AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n
          FROM cells GROUP BY 1),
        ag AS (SELECT pair, count(*) AS n_cells, max(n) AS n,
            CAST(sum(c * ((length(bin(c)) - 1) + (length(bin(n)) - 1)
              - (length(bin(cx)) - 1) - (length(bin(cy)) - 1)))
              AS BIGINT) AS s_bits
          FROM cells JOIN mx USING (pair, x) JOIN my USING (pair, y)
            JOIN nn USING (pair) GROUP BY 1)
        SELECT pair, n_cells, n, s_bits,
          CAST(floor(1e6 * CAST(s_bits AS DOUBLE) / CAST(n AS DOUBLE))
            AS BIGINT) AS mi_microbits
        FROM ag""")),

    ("q_profile_entropy",
      (s: SparkSession, d: String) => {
        val bl = (c: org.apache.spark.sql.Column) =>
          graft.plans.GraftExpressions.bit_length_long(c) - lit(1L)
        t(s, d, "events")
          .select(explode(array(
            struct(lit("event_type").as("c"),
              col("event_type").cast("string").as("v")),
            struct(lit("user_id").as("c"),
              col("user_id").cast("string").as("v")),
            struct(lit("day").as("c"),
              date_format(col("ts"), "yyyy-MM-dd").as("v")))).as("x"))
          .select(col("x.c").as("column_name"), col("x.v").as("v"))
          .groupBy("column_name", "v").agg(count(lit(1)).as("cnt"))
          .groupBy("column_name")
          .agg(count(lit(1)).as("n_distinct"),
            sum("cnt").as("n"),
            sum(col("cnt") * bl(col("cnt"))).as("s_bits"))
          .withColumn("h_microbits",
            floor(lit(1e6) *
              (bl(col("n")) * col("n") - col("s_bits")).cast("double") /
              col("n").cast("double")).cast("long"))
      },
      Some("""WITH m AS (
          SELECT 'event_type' AS column_name, event_type AS v FROM events
          UNION ALL
          SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
          UNION ALL
          SELECT 'day', strftime(ts, '%Y-%m-%d') FROM events),
        cts AS (SELECT column_name, v, count(*) AS cnt
          FROM m GROUP BY 1, 2),
        agg AS (SELECT column_name, count(*) AS n_distinct,
            CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(cnt * (length(bin(cnt)) - 1)) AS BIGINT) AS s_bits
          FROM cts GROUP BY 1)
        SELECT column_name, n_distinct, n, s_bits,
          CAST(floor(1e6 * CAST((length(bin(n)) - 1) * n - s_bits
              AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS h_microbits
        FROM agg""")),

    // Robust (MAD-based) outlier profile — see Stats.madOutliers: median
    // and MAD are exact discrete quantiles broadcast onto the fact scan;
    // the |v-med| > 3·MAD gate cannot be dragged by the outliers it hunts
    ("q_profile_mad",
      (s: SparkSession, d: String) => graft.ops.Stats.madOutliers(
        t(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("v")),
        Seq("event_type"), "v", k = 3),
      Some("""WITH e AS (SELECT event_type,
              CAST(floor("value" * 100) AS BIGINT) AS v
            FROM events WHERE "value" IS NOT NULL),
          c1 AS (SELECT event_type, v, count(*) AS cnt FROM e GROUP BY 1, 2),
          u1 AS (SELECT event_type, v, cnt,
              sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n_rows
            FROM c1),
          med AS (SELECT event_type, v AS med FROM u1
            WHERE cum - cnt < greatest(CAST(ceil(0.5 * n_rows) AS BIGINT), 1)
              AND greatest(CAST(ceil(0.5 * n_rows) AS BIGINT), 1) <= cum),
          d AS (SELECT e.event_type, v, abs(v - med) AS dev
            FROM e JOIN med USING (event_type)),
          c2 AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
          u2 AS (SELECT event_type, dev, cnt,
              sum(cnt) OVER (PARTITION BY event_type ORDER BY dev
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n_rows
            FROM c2),
          mad AS (SELECT event_type, dev AS mad FROM u2
            WHERE cum - cnt < greatest(CAST(ceil(0.5 * n_rows) AS BIGINT), 1)
              AND greatest(CAST(ceil(0.5 * n_rows) AS BIGINT), 1) <= cum)
        SELECT d.event_type, count(*) AS n_rows, med, mad,
          CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
            AS n_out
        FROM d JOIN mad USING (event_type) JOIN med USING (event_type)
        GROUP BY 1, med, mad""")),

    // Per-type winsorized value profile: clamp at the exact p05/p95
    // discrete quantiles (cents-quantized, so the clamped sum is exact
    // BIGINT), bounds broadcast onto the fact scan — see Stats.winsorize
    ("q_profile_winsorize",
      (s: SparkSession, d: String) => graft.ops.Stats.winsorize(
        t(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("v")),
        Seq("event_type"), "v", lo = 0.05, hi = 0.95),
      Some("""WITH e AS (SELECT event_type,
              CAST(floor("value" * 100) AS BIGINT) AS v
            FROM events WHERE "value" IS NOT NULL),
          cells AS (SELECT event_type, v, count(*) AS cnt
            FROM e GROUP BY 1, 2),
          cum AS (SELECT event_type, v, cnt,
              sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(cnt) OVER (PARTITION BY event_type) AS n_rows
            FROM cells),
          qs AS (SELECT unnest([0.05, 0.95]) AS q),
          qv AS (SELECT event_type, CAST(q AS DOUBLE) AS q, v
            FROM cum CROSS JOIN qs
            WHERE cum - cnt < greatest(
                CAST(ceil(CAST(q AS DOUBLE) * n_rows) AS BIGINT), 1)
              AND greatest(
                CAST(ceil(CAST(q AS DOUBLE) * n_rows) AS BIGINT), 1) <= cum),
          b AS (SELECT event_type,
              min(CASE WHEN q = 0.05 THEN v END) AS lo_v,
              min(CASE WHEN q = 0.95 THEN v END) AS hi_v
            FROM qv GROUP BY 1)
        SELECT e.event_type, count(*) AS n_rows,
          CAST(sum(CASE WHEN v < lo_v THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
          CAST(sum(CASE WHEN v > hi_v THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
          lo_v, hi_v,
          CAST(sum(least(greatest(v, lo_v), hi_v)) AS BIGINT) AS sum_w
        FROM e JOIN b USING (event_type)
        GROUP BY e.event_type, lo_v, hi_v""")),

    // The PRODUCTION sketch profile: same one-pass KMV plan as
    // q_profile_approx but hashing with Spark's codegen'd xxhash64 instead
    // of a cryptographic digest — the variant a real 100 TB deployment
    // runs. xxhash64's layout is Spark-specific, so no external engine can
    // replay the ESTIMATE itself; instead of settling for a rows-only
    // check, the query emits what DuckDB CAN verify — the exact profile
    // fields plus `sketch_within_20pct`, the deterministic claim that the
    // xxhash64 KMV estimate lands within 20% of the exact distinct count
    // (k=256 KMV has ~6.25% standard error; worst observed across all
    // three fixtures is 9% on l_partkey, so 20% ≈ 3σ is a regression
    // tripwire, not a statistical gamble). A broken sketch flips the bit
    // and the oracle hash-mismatches. Exact raw estimates stay spec-pinned
    // against the EXACT profile (OpsSpec); pipelines call
    // profileColumnsSketch directly — the exact-ND join here is the
    // test harness, not the production plan.
    ("q_profile_sketch",
      (s: SparkSession, d: String) => {
        val cols =
          Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")
        val sk = graft.ops.Stats.profileColumnsSketch(
            t(s, d, "lineitem"), cols, sketchK = 256)
          .select(col("col_name"), col("n_distinct_est"))
        graft.ops.Stats.profileColumns(t(s, d, "lineitem"), cols)
          .join(sk, Seq("col_name"))
          .select(col("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_val"), col("max_val"),
            when(abs(col("n_distinct_est") - col("n_distinct")) <=
              lit(0.2) * col("n_distinct"), 1L).otherwise(0L)
              .as("sketch_within_20pct"))
      },
      Some {
        def rowFor(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_val,
              CAST(max($c) AS VARCHAR) AS max_val,
              CAST(1 AS BIGINT) AS sketch_within_20pct FROM lineitem"""
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")
          .map(rowFor).mkString("\n UNION ALL\n ")
      }),

    // KMV sketch MERGEABILITY proof: per-(lang, source) bottom-k states
    // re-aggregated to the lang level must estimate EXACTLY what a direct
    // lang-level sketch estimates (bottom-k of a union == bottom-k of the
    // union of bottom-ks) — the algebraic property that lets a 100 TB
    // profile keep per-partition sketches and combine them without a
    // second data pass. The oracle computes the direct estimate once and
    // asserts it for BOTH columns.
    ("q_profile_sketch_merge",
      (s: SparkSession, d: String) => {
        val h = t(s, d, "documents")
          .select(col("lang"), col("source"),
            explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
          .withColumn("h",
            graft.plans.GraftExpressions.md5_prefix60(col("w")))
        val est = (sk: org.apache.spark.sql.Column) =>
          when(size(sk) < 16, size(sk).cast("double"))
            .otherwise(lit(15.0 * 1152921504606846976.0) /
              element_at(sk, 16).cast("double"))
        val parts = h.groupBy("lang", "source")
          .agg(graft.plans.GraftExpressions.bottomk_distinct(col("h"), 16)
            .as("sk"))
        val merged = parts
          .select(col("lang"), explode(col("sk")).as("h"))
          .groupBy("lang")
          .agg(graft.plans.GraftExpressions.bottomk_distinct(col("h"), 16)
            .as("sk"))
          .select(col("lang"), est(col("sk")).as("est_merged"))
        val direct = h.groupBy("lang")
          .agg(graft.plans.GraftExpressions.kmv_distinct(col("h"), 16)
            .as("est_direct"))
        merged.join(direct, Seq("lang"))
      },
      Some(s"""WITH toks AS (SELECT lang, t
            FROM documents, UNNEST(${tokensSql()}) AS u(t)),
          h AS (SELECT DISTINCT lang,
              CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
            FROM toks),
          r AS (SELECT lang, h,
              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY lang) AS cnt FROM h),
          kth AS (SELECT lang, max(CASE WHEN rn <= 16 THEN h END) AS h_k,
              any_value(cnt) AS cnt FROM r GROUP BY 1),
          e AS (SELECT lang,
              CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
                   ELSE 15.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
              END AS est FROM kth)
        SELECT lang, est AS est_merged, est AS est_direct FROM e""")),

    // Deterministic HyperLogLog (Stats.hllSummary): the CONSTANT-state
    // distinct counter — 512 registers whatever the cardinality, merged
    // by max (map-side combining), vs the KMV sketch whose state is k
    // hashes. The whole estimate is exact-integer until ONE final IEEE
    // division by a shared literal constant, so DuckDB replays the sketch
    // bit-for-bit (including the floored estimate and its ppm error
    // against the exact count) — which Spark's builtin
    // approx_count_distinct can never offer.
    ("q_profile_hll",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey").cast("string").as("v"))
        val sk = graft.ops.Stats.hllSummary(li, "v", p = 9)
        val ex = li.agg(count_distinct(col("v")).as("n_exact"))
        sk.crossJoin(broadcast(ex))
          .select(col("n_exact"), col("v_empty"), col("s_units"),
            col("hll_raw"),
            floor(abs(col("hll_raw") - col("n_exact")).cast("double") * 1e6 /
              col("n_exact").cast("double")).cast("long").as("err_ppm"))
      },
      Some(hllOracleSql)),

    // Per-group z-score standardization — the vanilla feature scaler
    // (companion to winsorize/MAD): z = (x·n − Σx) / sqrt(n·Σx² − (Σx)²),
    // algebraically identical to (x−mean)/sd_pop but with every
    // intermediate an EXACT integer, so the single sqrt+divide (both
    // IEEE-defined) replays bit-identically. Moments are one
    // combine-enabled aggregate broadcast back onto the scan.
    ("q_profile_zscore",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val m = docs.groupBy("lang").agg(count(lit(1)).as("n"),
          sum("n_chars").as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
        docs.join(broadcast(m), "lang")
          .select(col("doc_id"), col("lang"),
            when(col("n") * col("sxx") - col("sx") * col("sx") === 0, 0L)
              .otherwise(floor(
                (col("n_chars") * col("n") - col("sx")).cast("double") * 1e6
                / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))).cast("long")).as("z_micro"))
      },
      Some("""WITH m AS (SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sx,
            CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
          FROM documents GROUP BY 1)
        SELECT doc_id, d.lang,
          CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST(n_chars * n - sx AS DOUBLE) * 1e6 /
              sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT)
          END AS z_micro
        FROM documents d JOIN m ON d.lang = m.lang""")),

    // Functional-dependency audit (Stats.fdViolations): does o_custkey
    // really determine c_nationkey after the join (it must — join
    // fidelity), how badly does it NOT determine o_orderkey (a customer
    // has many orders), and is nation -> segment even close to
    // functional? One two-level combine-enabled aggregate per declared
    // FD — the lookup-key sanity check an ingest runs before
    // denormalizing.
    ("q_profile_fd",
      (s: SparkSession, d: String) => {
        val oc = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "customer").select(col("c_custkey"),
            col("c_nationkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
        graft.ops.Stats.fdViolations(oc, Seq(
          (Seq("o_custkey"), "c_nationkey"),
          (Seq("o_custkey"), "o_orderkey"),
          (Seq("c_nationkey"), "c_mktsegment")))
      },
      Some("""WITH oc AS (SELECT o_orderkey, o_custkey, c_nationkey,
            c_mktsegment
          FROM orders JOIN customer ON o_custkey = c_custkey),
        f1 AS (SELECT o_custkey AS dk,
            count(DISTINCT coalesce(CAST(c_nationkey AS VARCHAR), '<NULL>'))
              AS card,
            count(*) AS nr FROM oc GROUP BY 1),
        f2 AS (SELECT o_custkey AS dk,
            count(DISTINCT coalesce(CAST(o_orderkey AS VARCHAR), '<NULL>'))
              AS card,
            count(*) AS nr FROM oc GROUP BY 1),
        f3 AS (SELECT c_nationkey AS dk,
            count(DISTINCT coalesce(CAST(c_mktsegment AS VARCHAR), '<NULL>'))
              AS card,
            count(*) AS nr FROM oc GROUP BY 1)
        SELECT 'o_custkey->c_nationkey' AS fd, count(*) AS n_groups,
          CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_groups,
          CAST(sum(CASE WHEN card > 1 THEN nr ELSE 0 END) AS BIGINT)
            AS n_violating_rows,
          max(card) AS max_dep_cardinality FROM f1
        UNION ALL
        SELECT 'o_custkey->o_orderkey', count(*),
          CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(sum(CASE WHEN card > 1 THEN nr ELSE 0 END) AS BIGINT),
          max(card) FROM f2
        UNION ALL
        SELECT 'c_nationkey->c_mktsegment', count(*),
          CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(sum(CASE WHEN card > 1 THEN nr ELSE 0 END) AS BIGINT),
          max(card) FROM f3""")),

    // k-anonymity / l-diversity audit — the privacy gate a dataset passes
    // before release: rows grouped by their quasi-identifier tuple
    // (status, order month, price band), classes smaller than k=5 are
    // re-identifiable, classes whose sensitive column (priority) is
    // homogeneous leak it outright. Two combine-enabled aggregates,
    // corpus -> |classes| -> 1 row; the price band is one IEEE division
    // by a literal, identical in any engine.
    // Local-DP randomized response release — the other privacy gate next
    // to q_profile_kanon's suppression: each document reports its TRUE
    // lang with probability 3/4, else a uniform pick from the (sorted,
    // dense-ranked) lang domain — Warner's randomized response, the
    // mechanism local-DP telemetry (RAPPOR-family) builds on. The release
    // then DEBIASES: E[n_rep] = n·3/4 + N/20, so n_est =
    // (20·n_rep − N)/15, reported in milli units (can dip below 0 for
    // rare classes — that IS the mechanism's noise floor, shown, not
    // clamped). The coin is md5-prefix60(doc_id): deterministic, so both
    // engines replay the exact same "randomness" — the mechanism's
    // arithmetic is pinned bit-for-bit (a production run swaps in a real
    // RNG; nothing else changes). The uniform branch uses bit-shift
    // (u >> 2), NOT u/4 — a 60-bit hash through a double loses the low
    // bits above 2^53. Shape: one 5-row broadcast domain table, one
    // corpus scan, two combine-enabled counts.
    ("q_text_rr_release",
      (s: SparkSession, d: String) => {
        val E = graft.plans.GraftExpressions
        val docs = t(s, d, "documents")
        val wl = Window.orderBy(col("lang").asc)
        val langs = docs.select("lang").distinct()
          .withColumn("idx", row_number().over(wl).cast("long") - 1L)
        val nl = langs.agg(count(lit(1)).as("n_langs"))
        val r = docs.select(col("lang"),
            E.md5_prefix60(col("doc_id").cast("string")).as("u"))
          .crossJoin(broadcast(nl))
          .withColumn("pick", shiftright(col("u"), 2) % col("n_langs"))
          .join(broadcast(langs.select(col("idx"),
            col("lang").as("picked"))), col("pick") === col("idx"))
          .select(col("lang"),
            when(col("u") % 4 < 3, col("lang")).otherwise(col("picked"))
              .as("reported"))
        val rep = r.groupBy(col("reported").as("lang"))
          .agg(count(lit(1)).as("n_reported"))
        val truth = r.groupBy("lang").agg(count(lit(1)).as("n_true"))
        val tot = r.agg(count(lit(1)).as("n_total"))
        rep.join(truth, Seq("lang")).crossJoin(broadcast(tot))
          .select(col("lang"), col("n_reported"), col("n_true"),
            floor((col("n_reported") * 20L - col("n_total"))
                .cast("double") * lit(1000.0) / lit(15.0))
              .cast("long").as("est_milli"))
      },
      Some("""WITH langs AS (SELECT lang,
            row_number() OVER (ORDER BY lang) - 1 AS idx
          FROM (SELECT DISTINCT lang FROM documents)),
        nl AS (SELECT count(*) AS n_langs FROM langs),
        r AS (SELECT d.lang,
            CASE WHEN u % 4 < 3 THEN d.lang ELSE p.lang END AS reported
          FROM (SELECT lang,
              CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                1, 15)) AS BIGINT) AS u
            FROM documents) d, nl
          JOIN langs p ON (u >> 2) % n_langs = p.idx),
        rep AS (SELECT reported AS lang, count(*) AS n_reported
          FROM r GROUP BY 1),
        truth AS (SELECT lang, count(*) AS n_true FROM r GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM r)
        SELECT lang, n_reported, n_true,
          CAST(floor(CAST(n_reported * 20 - n_total AS DOUBLE) * 1000.0
            / 15.0) AS BIGINT) AS est_milli
        FROM rep JOIN truth USING (lang), tot""")),

    ("q_profile_kanon",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders").select(
          col("o_orderstatus").as("qi1"),
          date_format(col("o_orderdate"), "yyyy-MM").as("qi2"),
          floor(col("o_totalprice") / 50000.0).cast("long").as("qi3"),
          col("o_orderpriority").as("sens"))
        o.groupBy("qi1", "qi2", "qi3")
          .agg(count(lit(1)).as("sz"),
            count_distinct(col("sens")).as("ldiv"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("sz") < 5, 1L).otherwise(0L))
              .as("n_small_classes"),
            sum(when(col("sz") < 5, col("sz")).otherwise(0L))
              .as("n_rows_at_risk"),
            min("sz").as("min_class_size"),
            sum(when(col("ldiv") < 2, 1L).otherwise(0L))
              .as("n_homogeneous_classes"))
      },
      Some("""WITH q AS (SELECT o_orderstatus AS qi1,
            strftime(o_orderdate, '%Y-%m') AS qi2,
            CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS qi3,
            o_orderpriority AS sens
          FROM orders),
        cls AS (SELECT qi1, qi2, qi3, count(*) AS sz,
            count(DISTINCT sens) AS ldiv
          FROM q GROUP BY 1, 2, 3)
        SELECT count(*) AS n_classes,
          CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_small_classes,
          CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
            AS n_rows_at_risk,
          CAST(min(sz) AS BIGINT) AS min_class_size,
          CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_homogeneous_classes
        FROM cls""")),

    // Per-class l-diversity and t-closeness audit (Machanavajjhala et
    // al. TKDD'07; Li, Li & Venkatasubramanian ICDE'07 — t measured as
    // total-variation distance over the categorical sensitive domain,
    // the EMD instantiation for unordered categories): extends
    // q_profile_kanon's corpus summary to the per-equivalence-class
    // detail a release decision needs. Entropy l-diversity uses the
    // catalog's integer floor-log2 (bit-length) form — no libm anywhere,
    // exact cross-engine. The TV numerator is the exact BIGINT
    // cross-multiplication Σ|cnt·N − g·sz| over PRESENT cells plus
    // (N − Σg_present)·sz for the absent sensitive values (≤ 2·sz·N
    // ≈ 1e12 at sf0.1; promote the products to DECIMAL(38,0) past
    // ~sf100); the single closing division is one IEEE op. Scale shape:
    // ONE combine-enabled corpus groupBy to (class, sens) cells, then a
    // 5-row broadcast global distribution and class-bounded aggregates.
    ("q_profile_ldiv",
      (s: SparkSession, d: String) => {
        val bl = (c: org.apache.spark.sql.Column) =>
          graft.plans.GraftExpressions.bit_length_long(c) - lit(1L)
        val q = t(s, d, "orders").select(
          col("o_orderstatus").as("qi1"),
          date_format(col("o_orderdate"), "yyyy-MM").as("qi2"),
          floor(col("o_totalprice") / 50000.0).cast("long").as("qi3"),
          col("o_orderpriority").as("sens"))
        // lazy cut (r13): cells feeds the class rollup, both global
        // anchors and the final join — one orders aggregate instead of 4
        val cells = q.groupBy("qi1", "qi2", "qi3", "sens")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val cls = cells.groupBy("qi1", "qi2", "qi3")
          .agg(sum("cnt").as("sz"), count(lit(1)).as("l_distinct"),
            sum(col("cnt") * bl(col("cnt"))).as("s_bits"))
        val glob = cells.groupBy("sens").agg(sum("cnt").as("g"))
          .crossJoin(cells.agg(sum("cnt").as("nn")))
        cells.join(broadcast(glob), "sens")
          .join(cls, Seq("qi1", "qi2", "qi3"))
          .groupBy("qi1", "qi2", "qi3")
          .agg(max("sz").as("sz"), max("l_distinct").as("l_distinct"),
            max("s_bits").as("s_bits"), max("nn").as("nn"),
            sum(abs(col("cnt") * col("nn") - col("g") * col("sz")))
              .as("tv_present"),
            sum("g").as("g_present"))
          .withColumn("tv_num", col("tv_present") +
            (col("nn") - col("g_present")) * col("sz"))
          .select(col("qi1"), col("qi2"), col("qi3"), col("sz"),
            col("l_distinct"),
            floor(lit(1e6) *
              (bl(col("sz")) * col("sz") - col("s_bits")).cast("double") /
              col("sz").cast("double")).cast("long").as("h_microbits"),
            floor(lit(1e6) * col("tv_num").cast("double") /
              (col("sz") * col("nn") * lit(2L)).cast("double"))
              .cast("long").as("t_tv_ppm"))
      },
      Some("""WITH q AS (SELECT o_orderstatus AS qi1,
            strftime(o_orderdate, '%Y-%m') AS qi2,
            CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS qi3,
            o_orderpriority AS sens
          FROM orders),
        cells AS (SELECT qi1, qi2, qi3, sens,
            CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY 1, 2, 3, 4),
        cls AS (SELECT qi1, qi2, qi3, CAST(sum(cnt) AS BIGINT) AS sz,
            CAST(count(*) AS BIGINT) AS l_distinct,
            CAST(sum(cnt * (length(bin(cnt)) - 1)) AS BIGINT) AS s_bits
          FROM cells GROUP BY 1, 2, 3),
        nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM cells),
        gd AS (SELECT sens, CAST(sum(cnt) AS BIGINT) AS g
          FROM cells GROUP BY 1),
        jn AS (SELECT c.qi1, c.qi2, c.qi3, sz, l_distinct, s_bits, nn,
            CAST(sum(abs(cnt * nn - g * sz)) AS BIGINT) AS tv_present,
            CAST(sum(g) AS BIGINT) AS g_present
          FROM cells c JOIN gd USING (sens)
            JOIN cls USING (qi1, qi2, qi3), nn
          GROUP BY 1, 2, 3, 4, 5, 6, 7)
        SELECT qi1, qi2, qi3, sz, l_distinct,
          CAST(floor(1e6 * CAST((length(bin(sz)) - 1) * sz - s_bits
            AS DOUBLE) / CAST(sz AS DOUBLE)) AS BIGINT) AS h_microbits,
          CAST(floor(1e6 * CAST(tv_present + (nn - g_present) * sz
            AS DOUBLE) / CAST(sz * nn * 2 AS DOUBLE)) AS BIGINT)
            AS t_tv_ppm
        FROM jn""")),

    // Ordered t-closeness (Li-Li-Venkatasubramanian 2007 §5.2): for a
    // NUMERIC sensitive attribute the right group-vs-global distance is
    // the Earth Mover's Distance over the ordered bins — for one-dim
    // ordered data, EMD = Σ|cumP_i − cumQ_i| / (B−1) — not the total-
    // variation distance q_profile_ldiv's t_tv_ppm uses for categorical
    // ones (TV treats $1 and $400 as equally "different" from $2; EMD
    // does not). Integer-exact: per-(group, bin) counts against a
    // domain-bounded 10-bin grid (groups × 10 rows — the per-group
    // cumsum window is over 10 rows, never data-sized), and the cum
    // difference |cum_c·N − cum_C·n_g| goes through DECIMAL so a 100 TB
    // N never wraps the cross product. One fact scan, one groupBy.
    ("q_profile_tclose",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val grouped = ev.select(col("event_type"),
            date_format(col("ts"), "EEEE").as("dow"),
            least(floor(cents(col("value")).cast("double") / lit(5000.0)),
              lit(9.0)).cast("long").as("bin"))
          .groupBy("event_type", "dow", "bin")
          .agg(count(lit(1)).as("c"))
        val groups = grouped.groupBy("event_type", "dow")
          .agg(sum("c").as("n_g"))
        val globalBins = grouped.groupBy("bin").agg(sum("c").as("cg"))
        val nn = grouped.agg(sum("c").as("nn"))
        val grid = groups
          .select(col("event_type"), col("dow"), col("n_g"),
            explode(sequence(lit(0L), lit(9L))).as("bin"))
          .join(grouped, Seq("event_type", "dow", "bin"), "left")
          .join(broadcast(globalBins), Seq("bin"), "left")
          .crossJoin(broadcast(nn))
          .select(col("event_type"), col("dow"), col("bin"), col("n_g"),
            coalesce(col("c"), lit(0L)).as("c"),
            coalesce(col("cg"), lit(0L)).as("cg"), col("nn"))
        val w = Window.partitionBy("event_type", "dow").orderBy("bin")
        grid
          .withColumn("cum_c", sum("c").over(w))
          .withColumn("cum_g", sum("cg").over(w))
          .filter(col("bin") < 9)
          .withColumn("term", abs(
            col("cum_c").cast("decimal(20,0)") *
              col("nn").cast("decimal(18,0)") -
            col("cum_g").cast("decimal(20,0)") *
              col("n_g").cast("decimal(18,0)")))
          .groupBy("event_type", "dow")
          .agg(max("n_g").as("n_g"), max("nn").as("nn"),
            sum("term").as("t_num"))
          .select(col("event_type"), col("dow"), col("n_g"),
            floor(lit(1e6) * col("t_num").cast("double") /
              (col("n_g").cast("decimal(20,0)") *
                col("nn").cast("decimal(18,0)") *
                lit(9).cast("decimal(2,0)")).cast("double"))
              .cast("long").as("emd_ppm"))
          .withColumn("t_violation",
            when(col("emd_ppm") > 200000L, 1L).otherwise(0L))
      },
      Some(s"""WITH e AS (SELECT event_type, strftime(ts, '%A') AS dow,
            CAST(least(floor(CAST(${centsSql(""""value"""")} AS DOUBLE)
              / 5000.0), 9.0) AS BIGINT) AS bin
          FROM events),
        cells AS (SELECT event_type, dow, bin,
            CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2, 3),
        grp AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS n_g
          FROM cells GROUP BY 1, 2),
        gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cg
          FROM cells GROUP BY 1),
        nn AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells),
        grid AS (SELECT g.event_type, g.dow, CAST(b AS BIGINT) AS bin,
            g.n_g, coalesce(c.c, 0) AS c, coalesce(gb.cg, 0) AS cg, nn.nn
          FROM grp g CROSS JOIN UNNEST(range(0, 10)) AS u(b)
          LEFT JOIN cells c ON c.event_type = g.event_type
            AND c.dow = g.dow AND c.bin = b
          LEFT JOIN gb ON gb.bin = b, nn),
        cum AS (SELECT event_type, dow, bin, n_g, nn,
            sum(c) OVER (PARTITION BY event_type, dow ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cum_c,
            sum(cg) OVER (PARTITION BY event_type, dow ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cum_g
          FROM grid),
        agg AS (SELECT event_type, dow, max(n_g) AS n_g, max(nn) AS nn,
            sum(abs(CAST(cum_c AS DECIMAL(20,0)) * CAST(nn AS DECIMAL(18,0))
              - CAST(cum_g AS DECIMAL(20,0)) * CAST(n_g AS DECIMAL(18,0))))
              AS t_num
          FROM cum WHERE bin < 9 GROUP BY 1, 2)
        SELECT event_type, dow, n_g,
          CAST(floor(1e6 * CAST(t_num AS DOUBLE) /
            CAST(CAST(n_g AS DECIMAL(20,0)) * CAST(nn AS DECIMAL(18,0))
              * CAST(9 AS DECIMAL(2,0)) AS DOUBLE)) AS BIGINT) AS emd_ppm,
          CASE WHEN CAST(floor(1e6 * CAST(t_num AS DOUBLE) /
            CAST(CAST(n_g AS DECIMAL(20,0)) * CAST(nn AS DECIMAL(18,0))
              * CAST(9 AS DECIMAL(2,0)) AS DOUBLE)) AS BIGINT) > 200000
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
            AS t_violation
        FROM agg""")),

    // Differentially-private histogram release (Stats.dpHistogram — the
    // GRS'09 geometric mechanism at α = 1/2 with the two production
    // companions: per-user contribution bounding at cap=8 distinct cells,
    // ranked by a deterministic per-user hash; and noisy-threshold
    // partition selection at the median count 8). Noise = difference of two Geometric(1/2)
    // draws realized as trailing-ones counts of cell-keyed md5 bits —
    // whole-bit integer ops, so the oracle replays the release exactly.
    // The md5 seed is the replayable TESTING twin of the secret production
    // seed (same distribution, same (cap·ln2)-DP analysis — see the
    // operator scaladoc). Shape: one distinct shuffle, one user-bounded
    // rank, one combine-enabled cell count, scan-stage noise.
    ("q_profile_dp_release",
      (s: SparkSession, d: String) => graft.ops.Stats.dpHistogram(
        events(s, d).select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day")),
        "user_id", Seq("event_type", "day"), cap = 8, threshold = 8L),
      Some("""WITH ev AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u,
            concat(event_type, '|', strftime(ts, '%Y-%m-%d')) AS cell
          FROM events),
        rk AS (SELECT u, cell, row_number() OVER (PARTITION BY u
            ORDER BY md5(concat(u, '|', cell)), cell) AS rk FROM ev),
        c AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
          FROM rk WHERE rk <= 8 GROUP BY 1),
        g AS (SELECT cell, n,
            CAST(concat('0x', substr(md5(concat('dp1|', cell)), 1, 10))
              AS BIGINT) AS x1,
            CAST(concat('0x', substr(md5(concat('dp2|', cell)), 1, 10))
              AS BIGINT) AS x2
          FROM c),
        nz AS (SELECT cell, n,
            least(length(bin((~x1) & (x1 + 1))) - 1, 40) AS g1,
            least(length(bin((~x2) & (x2 + 1))) - 1, 40) AS g2
          FROM g)
        SELECT cell,
          greatest(CAST(0 AS BIGINT), n + g1 - g2) AS released
        FROM nz
        WHERE greatest(CAST(0 AS BIGINT), n + g1 - g2) >= 8""")),

    // Keyed pseudonymization + collision audit — the reversible-with-
    // salt cousin of q_text_pii's redaction (analytics keeps joinable
    // identities, the raw key leaves the table): token = 16 hex chars of
    // md5(salt|value), applied in the scan stage, then the audit every
    // tokenization run must ship — distinct values vs distinct tokens
    // per column (a collision silently MERGES two users downstream; at
    // 64 bits the corpus has to be ~2^32 distinct before that's even
    // likely, and the audit turns "likely not" into a checked fact).
    ("q_text_pseudonym",
      (s: SparkSession, d: String) => {
        val salt = "graft-fixture-salt"
        val ev = events(s, d).select(
          col("user_id").cast("string").as("user_id"),
          col("event_type"))
        def tok(c: org.apache.spark.sql.Column) =
          substring(md5(concat(lit(salt + "|"), c)), 1, 16)
        ev.select(col("event_type"), col("user_id"),
          tok(col("user_id")).as("user_tok"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_values"),
            countDistinct(col("user_tok")).as("n_tokens"))
          .withColumn("n_collisions", col("n_values") - col("n_tokens"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT CAST(user_id AS VARCHAR)) AS BIGINT)
            AS n_values,
          CAST(count(DISTINCT substr(md5(concat('graft-fixture-salt|',
            CAST(user_id AS VARCHAR))), 1, 16)) AS BIGINT) AS n_tokens,
          CAST(count(DISTINCT CAST(user_id AS VARCHAR))
            - count(DISTINCT substr(md5(concat('graft-fixture-salt|',
              CAST(user_id AS VARCHAR))), 1, 16)) AS BIGINT)
            AS n_collisions
        FROM events GROUP BY 1""")),

    // Differentially-private per-group MEAN release (Stats.dpMeans) —
    // the bounded-sum companion to q_profile_dp_release: values clipped
    // to [0, 200000] cents (above the per-user totals the fixture
    // produces, so clipping is a bound, not a flattener), one clipped row per (user, type) so L∞ = clip
    // and L0 = 1, noisy sum (noise × clip) over noisy count, groups
    // under 20 noisy users suppressed. Same replayable Geometric(1/2)
    // construction; the oracle rebuilds clip, per-user totals, both
    // noise draws and the quantized ratio.
    ("q_profile_dp_means",
      (s: SparkSession, d: String) => graft.ops.Stats.dpMeans(
        events(s, d), "user_id", "event_type",
        floor(col("value") * 100).cast("long"), clip = 200000L,
        threshold = 20L),
      Some("""WITH rows_ AS (SELECT CAST(user_id AS VARCHAR) AS u,
            event_type AS g,
            greatest(CAST(0 AS BIGINT),
              least(CAST(floor(value * 100) AS BIGINT), 200000)) AS v
          FROM events),
        pu AS (SELECT u, g,
            least(CAST(sum(v) AS BIGINT), 200000) AS uv
          FROM rows_ GROUP BY 1, 2),
        gg AS (SELECT g, CAST(sum(uv) AS BIGINT) AS s,
            CAST(count(*) AS BIGINT) AS n
          FROM pu GROUP BY 1),
        nz AS (SELECT g, s, n,
            least(length(bin((~x1) & (x1 + 1))) - 1, 40) AS gn1,
            least(length(bin((~x2) & (x2 + 1))) - 1, 40) AS gn2,
            least(length(bin((~x3) & (x3 + 1))) - 1, 40) AS gs1,
            least(length(bin((~x4) & (x4 + 1))) - 1, 40) AS gs2
          FROM (SELECT g, s, n,
            CAST(concat('0x', substr(md5(concat('dpmn1|', g)), 1, 10))
              AS BIGINT) AS x1,
            CAST(concat('0x', substr(md5(concat('dpmn2|', g)), 1, 10))
              AS BIGINT) AS x2,
            CAST(concat('0x', substr(md5(concat('dpms1|', g)), 1, 10))
              AS BIGINT) AS x3,
            CAST(concat('0x', substr(md5(concat('dpms2|', g)), 1, 10))
              AS BIGINT) AS x4
          FROM gg)),
        rel AS (SELECT g,
            greatest(CAST(0 AS BIGINT), n + gn1 - gn2) AS released_n,
            greatest(CAST(0 AS BIGINT), s + 200000 * (gs1 - gs2))
              AS released_sum
          FROM nz)
        SELECT g, released_n, released_sum,
          CAST(floor(CAST(released_sum AS DOUBLE) * 1e3
            / CAST(nullif(released_n, 0) AS DOUBLE)) AS BIGINT)
            AS mean_milli
        FROM rel WHERE released_n >= 20""")),

    // Referential-integrity audit (Stats.riAudit): orphan FK rows/keys per
    // declared child->parent edge of the star schema — the pre-merge key
    // sanity gate. Per edge: a combine-enabled key-count aggregate (corpus
    // -> |keys|) then LEFT ANTI against the parent key column (broadcast
    // for dimension parents, shuffled for orders-sized ones — AQE picks).
    ("q_profile_ri",
      (s: SparkSession, d: String) => graft.ops.Stats.riAudit(
        riEdges.map { case (child, fk, parent, pk) =>
          (t(s, d, child), fk, t(s, d, parent), pk,
            s"$child.$fk->$parent.$pk")
        }),
      Some(riEdges.map((riRelSql _).tupled).mkString("\nUNION ALL\n"))),

    // Equi-width histogram (bounds pass -> bounded bucketing groupBy);
    // bucket expression evaluated in one fixed IEEE op order on both
    // engines, bounds floor-quantized to 6 dp
    ("q_profile_hist",
      (s: SparkSession, d: String) => graft.ops.Stats.histogram(
        t(s, d, "lineitem"), "l_quantity", buckets = 10),
      Some("""WITH b AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS mn,
              CAST(max(l_quantity) AS DOUBLE) AS mx FROM lineitem),
          h AS (SELECT CAST(least(floor((CAST(l_quantity AS DOUBLE) - mn)
                / (mx - mn) * 10), 9) AS BIGINT) AS bucket,
              count(*) AS n
            FROM lineitem, b WHERE l_quantity IS NOT NULL GROUP BY 1)
        SELECT bucket,
          floor((mn + bucket * (mx - mn) / 10) * 1e6) / 1e6 AS lo,
          floor((mn + (bucket + 1) * (mx - mn) / 10) * 1e6) / 1e6 AS hi, n
        FROM h, b""")),

    // Post-load integrity gate: FK orphan counts, PK surplus rows and
    // null-rate cells for the star schema, one labeled row per check —
    // the validation suite an ingest runs before publishing a batch
    // (generalizes the reference's count-action bookkeeping, §2.7). Each
    // check is one anti-join or combine-enabled aggregate; the union is a
    // single plan, no driver-side loop.
    ("q_profile_validate",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        def row(label: String, bad: DataFrame, total: Long): DataFrame =
          bad.select(lit(label).as("check"),
            coalesce(col("n_bad"), lit(0L)).as("n_bad"),
            lit(total).as("n_total"))
        val fkLiO = li.join(o.select(col("o_orderkey").as("l_orderkey")),
            Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
        val fkOC = o.join(c.select(col("c_custkey").as("o_custkey")),
            Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
        val pkO = o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") - 1).as("n_bad"))
        val pkLi = li.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") - 1).as("n_bad"))
        val nullP = o.agg(count(when(col("o_totalprice").isNull, 1))
          .as("n_bad"))
        row("fk_lineitem_orders", fkLiO, li.count())
          .union(row("fk_orders_customer", fkOC, o.count()))
          .union(row("pk_orders_surplus", pkO, o.count()))
          .union(row("pk_lineitem_surplus", pkLi, li.count()))
          .union(row("null_o_totalprice", nullP, o.count()))
      },
      Some("""SELECT 'fk_lineitem_orders' AS check, CAST((
            SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
              (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_bad,
          (SELECT count(*) FROM lineitem) AS n_total
        UNION ALL SELECT 'fk_orders_customer', CAST((
            SELECT count(*) FROM orders WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer)) AS BIGINT),
          (SELECT count(*) FROM orders)
        UNION ALL SELECT 'pk_orders_surplus', CAST(coalesce((
            SELECT sum(cnt - 1) FROM (SELECT count(*) AS cnt FROM orders
              GROUP BY o_orderkey)), 0) AS BIGINT),
          (SELECT count(*) FROM orders)
        UNION ALL SELECT 'pk_lineitem_surplus', CAST(coalesce((
            SELECT sum(cnt - 1) FROM (SELECT count(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber)), 0) AS BIGINT),
          (SELECT count(*) FROM lineitem)
        UNION ALL SELECT 'null_o_totalprice', CAST((
            SELECT count(*) FROM orders WHERE o_totalprice IS NULL)
            AS BIGINT),
          (SELECT count(*) FROM orders)""")),

    // Categorical drift monitor: Laplace-smoothed per-category chi-square
    // contributions between two corpus halves (Stats.chiSquareDrift) —
    // exact BIGINT terms, one quantized double division per category
    // Daily drift trend (Stats.driftTrend): chi-square event-mix shift
    // between each day and its predecessor, contributions floor-quantized
    // to micro-units and summed as BIGINTs (order-independent). The lag
    // window runs over the distinct-day table only.
    ("q_profile_drift_trend",
      (s: SparkSession, d: String) => graft.ops.Stats.driftTrend(
          t(s, d, "events"), date_trunc("day", col("ts")), "event_type")
        .select(date_format(col("cell"), "yyyy-MM-dd").as("day"),
          col("n_cats"), col("chi2_micros"), col("chi2")),
      Some("""WITH wc AS (SELECT date_trunc('day', ts) AS cell,
            event_type AS category, count(*) AS n FROM events GROUP BY 1, 2),
          paired AS (SELECT cell, prev FROM (
            SELECT cell, lag(cell) OVER (ORDER BY cell) AS prev
            FROM (SELECT DISTINCT cell FROM wc)) WHERE prev IS NOT NULL),
          cats AS (
            SELECT DISTINCT p.cell, p.prev, w.category
            FROM paired p JOIN wc w ON w.cell = p.cell
            UNION
            SELECT DISTINCT p.cell, p.prev, w.category
            FROM paired p JOIN wc w ON w.cell = p.prev),
          f AS (SELECT c.cell, c.category,
              coalesce(cu.n, 0) AS nc, coalesce(rf.n, 0) AS nr
            FROM cats c
            LEFT JOIN wc cu ON cu.cell = c.cell AND cu.category = c.category
            LEFT JOIN wc rf ON rf.cell = c.prev AND rf.category = c.category),
          tot AS (SELECT cell, CAST(sum(nc) + count(*) AS BIGINT) AS curT,
              CAST(sum(nr) + count(*) AS BIGINT) AS refT FROM f GROUP BY 1),
          contrib AS (SELECT f.cell,
              CAST(floor(
                CAST((f.nc + 1) * t.refT - (f.nr + 1) * t.curT AS DOUBLE)
                * CAST((f.nc + 1) * t.refT - (f.nr + 1) * t.curT AS DOUBLE)
                / CAST((f.nr + 1) * t.curT * t.refT AS DOUBLE) * 1e6)
                AS BIGINT) AS chi2_micros
            FROM f JOIN tot t USING (cell))
        SELECT strftime(cell, '%Y-%m-%d') AS day, count(*) AS n_cats,
          CAST(sum(chi2_micros) AS BIGINT) AS chi2_micros,
          CAST(CAST(sum(chi2_micros) AS BIGINT) AS DOUBLE) / 1e6 AS chi2
        FROM contrib GROUP BY 1""")),

    ("q_profile_drift",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        graft.ops.Stats.chiSquareDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), "lang")
      },
      Some("""WITH o AS (SELECT lang AS category, count(*) AS n_cur
            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          r AS (SELECT lang AS category, count(*) AS n_ref
            FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1),
          cells AS (SELECT category, coalesce(n_cur, 0) AS n_cur,
              coalesce(n_ref, 0) AS n_ref
            FROM o FULL OUTER JOIN r USING (category)),
          t AS (SELECT CAST(sum(n_cur) + count(*) AS BIGINT) AS curT,
              CAST(sum(n_ref) + count(*) AS BIGINT) AS refT FROM cells)
        SELECT category, n_cur, n_ref,
          floor(CAST(((n_cur + 1) * refT - (n_ref + 1) * curT)
              * ((n_cur + 1) * refT - (n_ref + 1) * curT) AS DOUBLE)
            / CAST((n_ref + 1) * curT * refT AS DOUBLE) * 1e6) / 1e6 AS chi2
        FROM cells, t""")),

    // Join-cardinality (fan-out) profile: the distribution of child rows
    // per parent key across the orders->lineitem FK — the number a join
    // planner needs BEFORE choosing broadcast vs shuffle vs salt (a
    // fan-out histogram with a heavy tail is the skew warning). Parents
    // with zero children included via one left join; two combine-enabled
    // aggregates.
    // Join-size estimation by CORRELATED key sampling (Vengerov et al.,
    // VLDB'15) — the cardinality-estimation primitive a cost-based
    // planner runs BEFORE choosing broadcast vs shuffle vs skew-salt:
    // |A ⋈ B| = Σ_k fA(k)·fB(k), estimated from the 1/16 of KEYS whose
    // md5-prefix60 hash ≡ 0 (mod 16). Sampling KEYS (not rows) with the
    // SAME hash on both sides is the trick — every sampled key carries
    // its full fA·fB product, so the estimator is unbiased with variance
    // driven by the key-frequency skew, where independent row sampling
    // loses the matching rows. Audited on two joins: the orders⋈lineitem
    // PK-FK join and the lineitem self-join on partkey (= Σ f², the
    // skew-radar number). Per join: one map-side-combinable key count
    // per side, the sampled estimate and the TRUE size from the same
    // count tables (never the expanded join), exact BIGINT throughout.
    // At 100 TB only the hash-filtered 1/16 count tables are computed —
    // the truth column here is the audit, not the production path.
    ("q_profile_join_size",
      (s: SparkSession, d: String) => {
        val E = graft.plans.GraftExpressions
        def counts(df: DataFrame, key: org.apache.spark.sql.Column)
            : DataFrame =
          df.groupBy(key.as("key")).agg(count(lit(1)).as("f"))
            .withColumn("in_sample",
              (E.md5_prefix60(col("key").cast("string")) % 16 === 0)
                .cast("long"))
        def audit(name: String, a: DataFrame, b: DataFrame): DataFrame =
          a.join(b.select(col("key"), col("f").as("fb")), Seq("key"))
            .agg(sum(col("f") * col("fb")).as("true_size"),
              (sum(col("in_sample") * col("f") * col("fb")) * 16L)
                .as("est_size"))
            .select(lit(name).as("join_name"), col("true_size"),
              col("est_size"),
              floor(abs(col("est_size") - col("true_size"))
                  .cast("double") * lit(1e6) /
                col("true_size").cast("double")).cast("long")
                .as("err_ppm"))
        val lo = counts(t(s, d, "lineitem"), col("l_orderkey"))
        val oo = counts(t(s, d, "orders"), col("o_orderkey"))
        val lp = counts(t(s, d, "lineitem"), col("l_partkey"))
        // fresh subtree for the self-join's right side (avoids Spark's
        // ambiguous-self-join attribute collision)
        val lp2 = counts(t(s, d, "lineitem"), col("l_partkey"))
        audit("orders_lineitem", oo, lo)
          .unionAll(audit("lineitem_self_partkey", lp, lp2))
      },
      Some("""WITH lo AS (SELECT l_orderkey AS key, count(*) AS f,
            CASE WHEN CAST(concat('0x', substr(md5(
                CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END AS in_sample
          FROM lineitem GROUP BY 1),
        oo AS (SELECT o_orderkey AS key, count(*) AS f,
            CASE WHEN CAST(concat('0x', substr(md5(
                CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END AS in_sample
          FROM orders GROUP BY 1),
        lp AS (SELECT l_partkey AS key, count(*) AS f,
            CASE WHEN CAST(concat('0x', substr(md5(
                CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END AS in_sample
          FROM lineitem GROUP BY 1),
        j1 AS (SELECT CAST(sum(a.f * b.f) AS BIGINT) AS true_size,
            CAST(sum(a.in_sample * a.f * b.f) * 16 AS BIGINT) AS est_size
          FROM oo a JOIN lo b ON a.key = b.key),
        j2 AS (SELECT CAST(sum(a.f * b.f) AS BIGINT) AS true_size,
            CAST(sum(a.in_sample * a.f * b.f) * 16 AS BIGINT) AS est_size
          FROM lp a JOIN lp b ON a.key = b.key)
        SELECT 'orders_lineitem' AS join_name, true_size, est_size,
          CAST(floor(CAST(abs(est_size - true_size) AS DOUBLE) * 1e6 /
            CAST(true_size AS DOUBLE)) AS BIGINT) AS err_ppm
        FROM j1
        UNION ALL
        SELECT 'lineitem_self_partkey', true_size, est_size,
          CAST(floor(CAST(abs(est_size - true_size) AS DOUBLE) * 1e6 /
            CAST(true_size AS DOUBLE)) AS BIGINT) AS err_ppm
        FROM j2""")),

    ("q_profile_fanout",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders").select(col("o_orderkey").as("ok"))
        val per = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("fanout"))
        o.join(per, Seq("ok"), "left_outer")
          .select(coalesce(col("fanout"), lit(0L)).as("fanout"))
          .groupBy("fanout").agg(count(lit(1)).as("n_orders"))
      },
      Some("""WITH per AS (SELECT l_orderkey AS ok, count(*) AS fanout
            FROM lineitem GROUP BY 1)
          SELECT coalesce(per.fanout, 0) AS fanout, count(*) AS n_orders
          FROM orders LEFT JOIN per ON o_orderkey = per.ok
          GROUP BY 1""")),

    // Power-of-two-bucket quantile BOUNDS (Stats.quantileBounds): the
    // 100 TB quantile path — 64 buckets max per group regardless of
    // cardinality (bit-length bucketing, one combine-enabled aggregate,
    // 64-row windows), each quantile reported as the [lo, hi] octave
    // range that provably contains the exact discrete quantile.
    ("q_profile_quantile_bounds",
      (s: SparkSession, d: String) => graft.ops.Stats.quantileBounds(
        t(s, d, "lineitem"), Seq("l_returnflag"),
        floor(col("l_extendedprice")), Seq(0.25, 0.5, 0.75, 0.9, 0.99)),
      Some("""WITH v AS (SELECT l_returnflag,
            CAST(floor(l_extendedprice) AS BIGINT) AS v FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND floor(l_extendedprice) >= 0),
          cells AS (SELECT l_returnflag,
              CAST(length(bin(v + 1)) AS BIGINT) AS bucket,
              count(*) AS cnt FROM v GROUP BY 1, 2),
          tot AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n_rows
            FROM cells GROUP BY 1),
          cum AS (SELECT cells.*, CAST(sum(cnt) OVER (
              PARTITION BY l_returnflag ORDER BY bucket) AS BIGINT) AS cum
            FROM cells),
          x AS (SELECT cum.l_returnflag, bucket, cnt, cum, n_rows, q,
              greatest(CAST(ceil(q * n_rows) AS BIGINT), 1) AS rank
            FROM cum JOIN tot USING (l_returnflag),
              UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]) AS u(q))
        SELECT l_returnflag, q, rank, n_rows, bucket,
          (CAST(1 AS BIGINT) << (CAST(bucket AS INT) - 1)) - 1 AS lo,
          (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 2 AS hi,
          cnt AS n_in_bucket
        FROM x WHERE cum - cnt < rank AND rank <= cum""")),

    // Equi-depth decile binning of extendedprice whole dollars
    // (Stats.equiDepthBins): exact type-III quantile boundaries over the
    // distinct-value cell table (domain-bounded state), compiled into a
    // scan-stage comparison chain; ties fall to the lower bin. The
    // feature-discretization profile.
    ("q_profile_bins",
      (s: SparkSession, d: String) => graft.ops.Stats.equiDepthBins(
        t(s, d, "lineitem"), floor(col("l_extendedprice")), bins = 10),
      Some("""WITH v AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v
            FROM lineitem WHERE l_extendedprice IS NOT NULL),
          n AS (SELECT count(*) AS n FROM v),
          cells AS (SELECT v, count(*) AS cnt FROM v GROUP BY 1),
          cum AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum
            FROM cells),
          b AS (SELECT DISTINCT bv FROM (
            SELECT q, min(v) AS bv FROM cum, n,
              UNNEST([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS u(q)
            WHERE cum >= greatest(CAST(ceil(q * n) AS BIGINT), 1)
            GROUP BY 1)),
          assigned AS (SELECT c.v, c.cnt,
              (SELECT count(*) FROM b WHERE b.bv < c.v) AS bin
            FROM cells c)
          SELECT bin, CAST(sum(cnt) AS BIGINT) AS n_rows,
            min(v) AS min_v, max(v) AS max_v
          FROM assigned GROUP BY 1""")),

    // Per-group Pearson correlation on integer-quantized measures
    // (Stats.pearson): quantity cents vs extendedprice whole dollars by
    // return flag — the feature-redundancy profile. Five exact BIGINT
    // moment sums in ONE combine-enabled aggregate; the final formula runs
    // in decimal(38,0) (HUGEINT in the oracle) because n*Σxy outgrows
    // BIGINT, then three IEEE ops, floor-quantized.
    ("q_profile_corr",
      (s: SparkSession, d: String) => graft.ops.Stats.pearson(
        t(s, d, "lineitem"), Seq("l_returnflag"),
        floor(col("l_quantity") * 100), floor(col("l_extendedprice"))),
      Some("""WITH q AS (SELECT l_returnflag,
            CAST(floor(l_quantity * 100) AS BIGINT) AS x,
            CAST(floor(l_extendedprice) AS BIGINT) AS y FROM lineitem),
          m AS (SELECT l_returnflag, count(*) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx,
            CAST(sum(y * y) AS BIGINT) AS syy FROM q GROUP BY 1)
        SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
          CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
                AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
          THEN floor(
            CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
              AS DOUBLE)
            / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
              AS DOUBLE))
            / sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
              AS DOUBLE))
            * 1e6) / 1e6
          ELSE NULL END AS corr
        FROM m""")))

  // Spearman rank correlation per order-priority segment — the ROBUST
  // companion to q_profile_corr (monotone association, immune to the
  // heavy-tailed magnitudes that drag Pearson around): price rank vs
  // item-count rank. Ranks are TIE-AVERAGED and exact: rank2 = 2·avg
  // rank = 2·(count below) + count(=v) + 1, an integer, with the
  // count-below coming from the GROUPED two-pass range scan
  // (Prefix.runningOffsetsBy over the distinct-value table — never a
  // corpus-wide rank window; the 5-value priority domain satisfies its
  // low-cardinality contract). Moments are staged through
  // DECIMAL(18)²→(38) / HUGEINT (rank products reach 4n³ — past 2^63
  // long before 100 TB; the q_agg_ols lesson applied up front), and ρ is
  // the Pearson form on rank2 with the same guarded sqrt emission as
  // q_profile_corr. Bound: n⁴ ≤ 1e38 keeps the decimal staging exact to
  // ~3e9 rows per segment; shard beyond that.
  // NB: def, not val — referenced from the earlier-initializing `entries`
  // (the [[Shared.quantSql]] object-init-order rule)
  private[graft] def spearmanEntry: (String, Q, Option[String]) =
    ("q_profile_spearman",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("y"))
        val o = t(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_orderpriority").as("priority"),
          cents(col("o_totalprice")).as("x"))
        // base feeds THREE consumers (wr plus both rank tables): one
        // eager cut = one orders⋈lineitem-agg evaluation instead of
        // three (r13)
        val base = o.join(li, Seq("ok")).select("priority", "x", "y")
          .localCheckpoint()
        def rank2(cn: String): DataFrame = {
          val vt = base.groupBy(col("priority"), col(cn).as("v"))
            .agg(count(lit(1)).as("cnt"))
          graft.ops.Prefix.runningOffsetsBy(vt, "priority", Seq("v"), "cnt")
            .select(col("priority"), col("v").as(cn),
              (col("offset") * 2 + col("cnt") + 1).as(s"${cn}_r2"))
        }
        val wr = base.join(rank2("x"), Seq("priority", "x"))
          .join(rank2("y"), Seq("priority", "y"))
        def d18(c: org.apache.spark.sql.Column) = c.cast("decimal(18,0)")
        val m = wr.groupBy("priority").agg(count(lit(1)).as("n"),
          sum(d18(col("x_r2"))).as("sx"), sum(d18(col("y_r2"))).as("sy"),
          sum(d18(col("x_r2")) * d18(col("y_r2"))).as("sxy"),
          sum(d18(col("x_r2")) * d18(col("x_r2"))).as("sxx"),
          sum(d18(col("y_r2")) * d18(col("y_r2"))).as("syy"))
        val vx = d18(col("n")) * col("sxx") - col("sx") * col("sx")
        val vy = d18(col("n")) * col("syy") - col("sy") * col("sy")
        val cov = d18(col("n")) * col("sxy") - col("sx") * col("sy")
        m.select(col("priority"), col("n"),
          when(vx > 0 && vy > 0,
            floor(cov.cast("double") / sqrt(vx.cast("double")) /
              sqrt(vy.cast("double")) * 1e6) / 1e6)
            .otherwise(lit(null)).as("rho"))
      },
      Some(s"""WITH li AS (SELECT l_orderkey AS ok,
            CAST(count(*) AS BIGINT) AS y
          FROM lineitem GROUP BY 1),
        o AS (SELECT o_orderkey AS ok, o_orderpriority AS priority,
            ${centsSql("o_totalprice")} AS x
          FROM orders),
        base AS (SELECT priority, x, y FROM o JOIN li USING (ok)),
        vx AS (SELECT priority, x AS v, CAST(count(*) AS BIGINT) AS cnt,
            coalesce(sum(count(*)) OVER (PARTITION BY priority ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM base GROUP BY priority, x),
        rx AS (SELECT priority, v AS x, 2 * off + cnt + 1 AS x_r2 FROM vx),
        vy AS (SELECT priority, y AS v, CAST(count(*) AS BIGINT) AS cnt,
            coalesce(sum(count(*)) OVER (PARTITION BY priority ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM base GROUP BY priority, y),
        ry AS (SELECT priority, v AS y, 2 * off + cnt + 1 AS y_r2 FROM vy),
        wr AS (SELECT b.priority, x_r2, y_r2 FROM base b
          JOIN rx ON b.priority = rx.priority AND b.x = rx.x
          JOIN ry ON b.priority = ry.priority AND b.y = ry.y),
        m AS (SELECT priority, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(x_r2 AS HUGEINT)) AS sx,
            sum(CAST(y_r2 AS HUGEINT)) AS sy,
            sum(CAST(x_r2 AS HUGEINT) * y_r2) AS sxy,
            sum(CAST(x_r2 AS HUGEINT) * x_r2) AS sxx,
            sum(CAST(y_r2 AS HUGEINT) * y_r2) AS syy
          FROM wr GROUP BY 1)
        SELECT priority, n,
          CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
                AND CAST(n AS HUGEINT) * syy - sy * sy > 0
          THEN floor(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
            / sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))
            * 1e6) / 1e6
          ELSE NULL END AS rho
        FROM m"""))

  // ============================================================ sampling

}
