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
import graft.catalog.DslQueries._

/** stage-pipeline / merge / maintenance queries — split from the single-object catalog;
  * content unchanged. Assembled by [[graft.QueryCatalog]]. */
private[graft] object PipelineQueries {
  val entries: Seq[(String, Q, Option[String])] = Seq(

    // Telemetry debounce: an event repeating its (user, type) key within
    // 5 s of the PREVIOUS occurrence is a client-side duplicate — the
    // lag-window suppression every clickstream ingest runs before
    // counting. One per-key window (user-bounded), exact integer micros.
    ("q_dedup_debounce",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").asc, col("event_id").asc)
        t(s, d, "events")
          .withColumn("gap_us", unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("kept",
            col("gap_us").isNull || col("gap_us") >= 5000000L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      },
      Some("""WITH g AS (SELECT event_type,
            epoch_us(ts) - lag(epoch_us(ts)) OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts ASC, event_id ASC) AS gap_us
          FROM events)
        SELECT event_type, count(*) AS n_total,
          CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 5000000
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 5000000
            THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM g GROUP BY 1""")),

    // W1 — latest row per user with the pinned order ts DESC, event_id ASC
    // (the stage rule, StageTransform.dedupLatest, breaks ties by every
    // other column descending instead; the window is spelled out here so
    // the oracle's order stays exact)
    ("q_dedup_latest",
      (s: SparkSession, d: String) => t(s, d, "events")
        .withColumn("__rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").asc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("event_type")),
      Some("""SELECT user_id, event_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, event_type
        FROM (SELECT *, row_number() OVER
                (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
              FROM events) WHERE rn = 1""")),

    // full config-driven stage pipeline over a fixture spec set
    ("q_pipeline_stage",
      (s: SparkSession, d: String) => {
        val specs = Seq(
          ColumnSpec("T", "cust_id", 1, "bigint", "c_custkey", isId = true,
            isOrderBy = true),
          ColumnSpec("T", "seg", 2, "string",
            "fn_transform_Case_with_default(c_mktsegment,BUILDING|AUTOMOBILE->ba,$oo)"),
          ColumnSpec("T", "name_c", 3, "string",
            "fn_transform_ClearString(c_name,$x)"),
          // bare-expr + bigint cast: floor-quantized cents (a decimal(12,2)
          // newDataType on the raw double would be cross-engine-unstable)
          ColumnSpec("T", "bal", 4, "bigint", "floor(c_acctbal * 100)"),
          ColumnSpec("T", "broken", 5, "string", "no_such_column")) // quarantined
        StageTransform.run(t(s, d, "customer"), specs).df
      },
      Some(s"""SELECT CAST(c_custkey AS BIGINT) AS cust_id,
        CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 'ba'
             ELSE 'oo' END AS seg,
        trim(c_name) AS name_c,
        ${centsSql("c_acctbal")} AS bal FROM customer""")),

    // Quarantine / WARNING degradation end-to-end UNDER THE ORACLE
    // (reference fidelity: aje-stage-dms-load.py:536-542 — a failed column
    // degrades the run to WARNING with a "can not create the columns:"
    // reason, never a job failure). Two tables run through the REAL
    // orchestrator (IngestOrchestrator.runAll -> StageTransform.run ->
    // MergeWriter.write): one with 2 failing specs (an unresolvable
    // column reference and an unknown fn_transform_*), one clean. The
    // output IS the RunStatus table; the oracle replays it as VALUES with
    // rows_written tied to the live table counts, so a silently-dropped
    // quarantine, a wrong reason string, or a short write all
    // hash-mismatch.
    ("q_pipeline_quarantine",
      (s: SparkSession, d: String) => {
        import graft.meta.TableConfig
        import graft.pipeline.IngestOrchestrator
        val stageRoot = scratch("quarantine")
        def specsFor(tc: TableConfig): Seq[ColumnSpec] =
          tc.targetTableName match {
            case "cust_bad" => Seq(
              ColumnSpec("cust_bad", "cust_id", 1, "bigint", "c_custkey",
                isId = true),
              ColumnSpec("cust_bad", "seg", 2, "string", "c_mktsegment"),
              // unresolvable column reference -> analysis failure
              ColumnSpec("cust_bad", "broken_ref", 3, "string",
                "no_such_column"),
              // unknown DSL function -> CompileError
              ColumnSpec("cust_bad", "broken_fn", 4, "string",
                "fn_transform_Nope(c_name,$x)"))
            case _ => Seq(
              ColumnSpec("nat_ok", "nat_id", 1, "bigint", "n_nationkey",
                isId = true),
              ColumnSpec("nat_ok", "nat_name", 2, "string", "n_name"))
          }
        val orch = new IngestOrchestrator(s, stageRoot,
          readRaw = tc => t(s, d, tc.sourceTable),
          specsFor = specsFor, parallelism = 2)
        val statuses = orch.runAll(Seq(
          TableConfig("cust_bad", "pe1", "src", "customer", "stg_cust_bad"),
          TableConfig("nat_ok", "pe1", "src", "nation", "stg_nat_ok")))
        import s.implicits._
        statuses.map(r => (r.targetTableName, r.status, r.failReason,
            r.rowsWritten, r.quarantinedColumns.mkString(",")))
          .toDF("table_name", "status", "fail_reason", "rows_written",
            "quarantined_cols")
      },
      Some("""SELECT 'cust_bad' AS table_name, 'WARNING' AS status,
          'can not create the columns: broken_ref,broken_fn' AS fail_reason,
          (SELECT count(*) FROM customer) AS rows_written,
          'broken_ref,broken_fn' AS quarantined_cols
        UNION ALL
        SELECT 'nat_ok', 'SUCCEEDED', '',
          (SELECT count(*) FROM nation), ''""")),

    // K4 — native merge upsert with schema evolution (autoMerge equivalent)
    ("q_merge_upsert",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        // price carried as BIGINT cents (floor-quantized; see `cents`) — the
        // decimal(15,2) cast of a raw double is cross-engine-unstable
        val target = o.filter(col("o_orderkey") % 7 < 5).select(
          col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price"))
        val batch = o.filter(col("o_orderkey") % 7 >= 3).select(
          col("o_orderkey"), lit("U").as("o_orderstatus"),
          (cents(col("o_totalprice")) + lit(100000L)).as("price"),
          lit(1).as("batch_flag"))
        MergeWriter.upsert(target, batch, Seq("o_orderkey"))
      },
      Some(s"""WITH target AS (
          SELECT o_orderkey, o_orderstatus,
                 ${centsSql("o_totalprice")} AS price
          FROM orders WHERE o_orderkey % 7 < 5),
        batch AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 ${centsSql("o_totalprice")} + 100000 AS price,
                 1 AS batch_flag
          FROM orders WHERE o_orderkey % 7 >= 3)
        SELECT t.*, CAST(NULL AS INTEGER) AS batch_flag FROM target t
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL SELECT * FROM batch""")),

    // PARTIAL-update upsert (MergeWriter.upsertPartial): a batch NULL
    // keeps the target's value instead of erasing it — the sparse-CDC /
    // column-patch merge. The batch carries a status patch with price
    // NULLed on every other key, so the oracle must reproduce BOTH the
    // coalesce-kept old prices and the overwritten ones, plus pure
    // inserts where the batch key is new. One full-outer join, never a
    // per-column re-join.
    ("q_merge_partial",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val target = o.filter(col("o_orderkey") % 7 < 5).select(
          col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price"))
        val batch = o.filter(col("o_orderkey") % 7 >= 3).select(
          col("o_orderkey"), lit("U").as("o_orderstatus"),
          when(col("o_orderkey") % 2 === 0,
            cents(col("o_totalprice")) + lit(100000L)).as("price"))
        MergeWriter.upsertPartial(target, batch, Seq("o_orderkey"))
      },
      Some(s"""WITH target AS (
          SELECT o_orderkey, o_orderstatus,
                 ${centsSql("o_totalprice")} AS price
          FROM orders WHERE o_orderkey % 7 < 5),
        batch AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 CASE WHEN o_orderkey % 2 = 0
                   THEN ${centsSql("o_totalprice")} + 100000 END AS price
          FROM orders WHERE o_orderkey % 7 >= 3)
        SELECT coalesce(t.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN t.o_orderkey IS NULL THEN b.o_orderstatus
               WHEN b.o_orderkey IS NULL THEN t.o_orderstatus
               ELSE coalesce(b.o_orderstatus, t.o_orderstatus) END
            AS o_orderstatus,
          CASE WHEN t.o_orderkey IS NULL THEN b.price
               WHEN b.o_orderkey IS NULL THEN t.price
               ELSE coalesce(b.price, t.price) END AS price
        FROM target t FULL OUTER JOIN batch b
          ON t.o_orderkey = b.o_orderkey""")),

    // Exactly-once replay semantics, demonstrated not asserted: the SAME
    // batch upserts twice and the result must equal the single apply —
    // the retry-safety a checkpointed ingest leans on when a write
    // succeeds but its acknowledgment is lost. The oracle is the
    // single-apply expected state, so a non-idempotent merge (dup rows,
    // double-applied increments) hash-mismatches immediately.
    ("q_merge_idempotent",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val target = o.filter(col("o_orderkey") % 7 < 5).select(
          col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price"))
        val batch = o.filter(col("o_orderkey") % 7 >= 3).select(
          col("o_orderkey"), lit("U").as("o_orderstatus"),
          (cents(col("o_totalprice")) + lit(100000L)).as("price"))
        val once = MergeWriter.upsert(target, batch, Seq("o_orderkey"))
        MergeWriter.upsert(once, batch, Seq("o_orderkey"))
      },
      Some(s"""WITH target AS (
          SELECT o_orderkey, o_orderstatus,
                 ${centsSql("o_totalprice")} AS price
          FROM orders WHERE o_orderkey % 7 < 5),
        batch AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 ${centsSql("o_totalprice")} + 100000 AS price
          FROM orders WHERE o_orderkey % 7 >= 3)
        SELECT t.* FROM target t
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL SELECT * FROM batch""")),

    // K5 — transactional-window delete + merge
    ("q_merge_txnwindow",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders").withColumn("processperiod",
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("int"))
        val target = o.filter(col("o_orderkey") % 3 === 0).select(
          col("o_orderkey"), col("processperiod"), col("o_orderstatus"))
        val batch = o.filter(col("o_orderkey") % 3 <= 1 &&
            col("processperiod") >= 199801)
          .select(col("o_orderkey"), col("processperiod"),
            lit("M").as("o_orderstatus"))
        MergeWriter.transactionalWindowMerge(target, batch,
          Seq("o_orderkey"), 199801)
      },
      Some("""WITH o AS (
          SELECT *, CAST(year(o_orderdate)*100 + month(o_orderdate) AS INTEGER)
                 AS processperiod FROM orders),
        target AS (
          SELECT o_orderkey, processperiod, o_orderstatus FROM o
          WHERE o_orderkey % 3 = 0),
        kept AS (SELECT * FROM target WHERE processperiod < 199801),
        batch AS (
          SELECT o_orderkey, processperiod, 'M' AS o_orderstatus FROM o
          WHERE o_orderkey % 3 <= 1 AND processperiod >= 199801)
        SELECT * FROM kept
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL SELECT * FROM batch""")),

    // P3 — incremental window predicate (single + two-column OR variant)
    ("q_incr_window",
      (s: SparkSession, d: String) => t(s, d, "lineitem")
        .filter(Incremental.windowPredicate("l_shipdate",
          lit("1995-06-01 00:00:00"), lit("1995-12-31 23:59:59")))
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship")),
      Some("""SELECT l_orderkey, l_linenumber,
          strftime(l_shipdate, '%Y-%m-%d') AS ship
        FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_shipdate BETWEEN
          TIMESTAMP '1995-06-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59'""")),

    ("q_incr_window_2col",
      (s: SparkSession, d: String) => t(s, d, "events")
        .withColumn("ts2", col("ts") + expr("INTERVAL 12 HOURS"))
        .filter(Incremental.windowPredicate("ts,ts2",
          lit("2024-01-02 00:00:00"), lit("2024-01-02 06:00:00")))
        .select(col("event_id"), col("event_type")),
      Some("""SELECT event_id, event_type FROM
        (SELECT *, ts + INTERVAL 12 HOUR AS ts2 FROM events)
        WHERE (ts IS NOT NULL AND ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                 AND TIMESTAMP '2024-01-02 06:00:00')
           OR (ts2 IS NOT NULL AND ts2 BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                 AND TIMESTAMP '2024-01-02 06:00:00')""")),

    // I2 — period-window limits drive a filter (fixed "now" for determinism)
    ("q_incr_period_limits",
      (s: SparkSession, d: String) => {
        val now = java.time.LocalDateTime.of(1997, 6, 15, 0, 0)
        val (plo, phi) = Incremental.limitsForFilter(-2, "aje_period", now)
        val (olo, ohi) = Incremental.limitsForFilter(-2, "aje_date", now)
        t(s, d, "orders")
          .withColumn("period", date_format(col("o_orderdate"), "yyyyMM"))
          .withColumn("ord",
            (datediff(to_date(col("o_orderdate")), to_date(lit("1900-01-01"))) +
              Transforms.OrdinalAnchor).cast("long"))
          .filter(col("period").between(plo, phi) ||
            col("ord").between(olo.toLong, ohi.toLong))
          .select(col("o_orderkey"), col("period"), col("ord"))
      },
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y%m') AS period,
          CAST(CAST(o_orderdate AS DATE) - DATE '1900-01-01' + 693596 AS BIGINT)
            AS ord
        FROM orders
        WHERE strftime(o_orderdate, '%Y%m') BETWEEN '199704' AND '199706'
           OR (CAST(o_orderdate AS DATE) - DATE '1900-01-01' + 693596)
              BETWEEN (DATE '1997-04-01' - DATE '1900-01-01' + 693596)
                  AND (DATE '1997-06-30' - DATE '1900-01-01' + 693596)""")),

    // A2/A3 — watermark MAX with GREATEST + null default
    ("q_agg_watermark",
      (s: SparkSession, d: String) => t(s, d, "events")
        .select(when(col("event_type") === "click", col("ts")).as("f1"),
          when(col("event_type") === "error", col("ts")).as("f2"))
        .agg(date_format(Incremental.maxWatermark(Seq("f1", "f2"),
          "2000-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("wm"),
          count(lit(1)).cast("bigint").as("n_rows")),
      Some("""SELECT strftime(greatest(
          coalesce(max(CASE WHEN event_type='click' THEN ts END),
                   TIMESTAMP '2000-01-01 00:00:00'),
          coalesce(max(CASE WHEN event_type='error' THEN ts END),
                   TIMESTAMP '2000-01-01 00:00:00')),
          '%Y-%m-%d %H:%M:%S.%f') AS wm,
        count(*) AS n_rows FROM events""")))

  // ========================================================== relational

  /** WITH-chain oracle for q_seq_attribution_markov: replays the journey
    * transition matrix (start → channels → purchase/null) and, for the base
    * chain plus one chain per removed channel, `rounds` synchronous exact-ppm
    * fixed-point steps of v(s) = P(reach 'purchase' within the remaining
    * steps). Removal of channel c is the standard first-order-Markov node
    * removal: walks entering c die, i.e. v(c) is pinned to 0 every round
    * (matrix unchanged). Removal effect and credit are exact floor-ppm
    * divisions. Chain CTEs are MATERIALIZED for the same inlining-planner
    * reason as [[kmeansCtes]]. */
  private[graft] def markovAttributionSql(channels: Seq[String],
      rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH r AS MATERIALIZED (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC,
            event_id ASC) AS prev,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC,
            event_id ASC) AS next
        FROM events),
        tr AS (SELECT tsrc, tdst, count(*) AS c FROM (
          SELECT 'start' AS tsrc, event_type AS tdst FROM r
            WHERE prev IS NULL OR prev = 'purchase'
          UNION ALL
          SELECT event_type, next FROM r
            WHERE event_type <> 'purchase' AND next IS NOT NULL
          UNION ALL
          SELECT event_type, 'null' FROM r
            WHERE event_type <> 'purchase' AND next IS NULL) GROUP BY 1, 2),
        m AS MATERIALIZED (SELECT tsrc, tdst,
            c * 1000000 // sum(c) OVER (PARTITION BY tsrc) AS p FROM tr),
        st AS MATERIALIZED (SELECT unnest(['start', 'click', 'error',
          'signup', 'view', 'purchase', 'null']) AS st)""")
    val chains = ("base", None: Option[String]) +:
      channels.map(c => (s"x$c", Some(c): Option[String]))
    for ((tag, dead) <- chains) {
      sb ++= s""",
        ${tag}0 AS (SELECT st, CASE WHEN st = 'purchase'
            THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS v
          FROM st)"""
      for (i <- 1 to rounds) {
        val deadCase = dead.map(c => s"WHEN s.st = '$c' THEN 0").getOrElse("")
        sb ++= s""",
        $tag$i AS MATERIALIZED (SELECT s.st,
            CAST(CASE WHEN s.st = 'purchase' THEN 1000000 $deadCase
                 ELSE coalesce(a.v0, 0) END AS BIGINT) AS v
          FROM st s LEFT JOIN (SELECT m.tsrc AS st,
              sum(m.p * v.v // 1000000) AS v0
            FROM m JOIN $tag${i - 1} v ON v.st = m.tdst GROUP BY 1) a
            USING (st))"""
      }
    }
    sb ++= s""",
        base_p AS (SELECT v AS pb FROM base$rounds WHERE st = 'start'),
        rem AS ("""
    sb ++= channels.map(c =>
        s"SELECT '$c' AS channel, v AS pr FROM x$c$rounds WHERE st = 'start'")
      .mkString("\n          UNION ALL\n          ")
    sb ++= s"""),
        re AS (SELECT channel, pb, pr,
            (pb - pr) * 1000000 // greatest(pb, 1) AS re_ppm
          FROM rem CROSS JOIN base_p),
        tot_re AS (SELECT greatest(sum(re_ppm), 1) AS t FROM re)
        SELECT channel, CAST(pb AS BIGINT) AS p_base_ppm,
          CAST(pr AS BIGINT) AS p_removed_ppm,
          CAST(re_ppm AS BIGINT) AS removal_effect_ppm,
          CAST(re_ppm * 1000000 // t AS BIGINT) AS credit_ppm
        FROM re CROSS JOIN tot_re"""
    sb.toString
  }

}
