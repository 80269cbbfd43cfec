package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.meta._
import graft.pipeline.IngestOrchestrator

class EntrySpec extends SparkSpec {

  test("entry: flagship config-driven pipeline returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("order_id") && df.columns.contains("flag"))
  }

  test("every query runs at sf0.001 and returns a non-degenerate frame") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.limit(1).collect() // must at least execute
    }
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("catalog registration: stage tables readable by name, repartitions seen") {
    import graft.write.{CatalogRegistry, MergeWriter}
    import spark.implicits._
    val db = CatalogRegistry.stageDatabaseName("graft", "mssql", "ep_pe")
    assert(db == "graft_sqlserver_ep_pe_stage") // mssql -> sqlserver rename
    val path = Files.createTempDirectory("graft_cat").toString + "/t"
    MergeWriter.write(spark, Seq((1, "a", 10), (2, "b", 20)).toDF("id", "v", "p"),
      path, LoadMode.FullOverwrite, partitionCols = Seq("p"),
      retrySleepMs = _ => 0L)
    CatalogRegistry.registerStage(spark, db, "cust_stage", path, Seq("p"))
    assert(spark.table(s"$db.cust_stage").count() == 2)
    // a pruned merge adds partition p=30; re-registration (the crawler
    // re-run analog) makes it visible to name-based readers
    MergeWriter.write(spark, Seq((3, "c", 30)).toDF("id", "v", "p"), path,
      LoadMode.IncrementalMerge, ids = Seq("id"), partitionCols = Seq("p"),
      retrySleepMs = _ => 0L, partitionStable = true)
    CatalogRegistry.registerStage(spark, db, "cust_stage", path, Seq("p"))
    assert(spark.table(s"$db.cust_stage").count() == 3)
    assert(spark.sql(s"SELECT v FROM $db.cust_stage WHERE p = 30")
      .as[String].collect().toSeq == Seq("c"))
  }

  test("catalog registration: dropped partitions and evolved columns synced") {
    import graft.write.{CatalogRegistry, MergeWriter}
    import spark.implicits._
    val db = "graft_cat_sync"
    val path = Files.createTempDirectory("graft_catsync").toString + "/t"
    MergeWriter.write(spark,
      Seq((1, "a", 202311), (2, "b", 202401)).toDF("id", "v", "processperiod"),
      path, LoadMode.FullOverwrite, partitionCols = Seq("processperiod"),
      retrySleepMs = _ => 0L)
    CatalogRegistry.registerStage(spark, db, "tx_stage", path,
      Seq("processperiod"))
    assert(spark.table(s"$db.tx_stage").count() == 2)
    // window merge with NO replacement rows for 202401: its directory is
    // deleted; re-registration must DROP the dangling catalog partition
    // (plain MSCK only adds) or name-based reads hit a missing directory
    val batch = Seq((1, "A", 202311)).toDF("id", "v", "processperiod")
    val s = MergeWriter.write(spark, batch, path,
      LoadMode.TransactionalWindowMerge(0), ids = Seq("id"),
      partitionCols = Seq("processperiod"), cutoffPeriod = 202401,
      retrySleepMs = _ => 0L)
    assert(s.mode == "window-merge-pruned")
    assert(!new java.io.File(s"$path/processperiod=202401").exists())
    CatalogRegistry.registerStage(spark, db, "tx_stage", path,
      Seq("processperiod"))
    assert(spark.table(s"$db.tx_stage").select("id", "v")
      .as[(Int, String)].collect().toSet == Set((1, "A")))
    // a second window merge that empties EVERY period must not break
    // re-registration (nothing left to schema-diff) and must leave the
    // catalog table readable and empty
    val s2 = MergeWriter.write(spark,
      Seq.empty[(Int, String, Int)].toDF("id", "v", "processperiod"), path,
      LoadMode.TransactionalWindowMerge(0), ids = Seq("id"),
      partitionCols = Seq("processperiod"), cutoffPeriod = 0,
      retrySleepMs = _ => 0L)
    assert(s2.mode == "window-merge-pruned" && s2.rowsWritten == 0)
    CatalogRegistry.registerStage(spark, db, "tx_stage", path,
      Seq("processperiod"))
    assert(spark.table(s"$db.tx_stage").count() == 0)
    // schema evolution on an unpartitioned table: a merge adds a batch-only
    // column; re-registration surfaces it to name-based readers
    val path2 = Files.createTempDirectory("graft_catsync2").toString + "/t"
    MergeWriter.write(spark, Seq((1, "a")).toDF("id", "v"), path2,
      LoadMode.FullOverwrite, retrySleepMs = _ => 0L)
    CatalogRegistry.registerStage(spark, db, "ev_stage", path2)
    assert(!spark.table(s"$db.ev_stage").columns.contains("extra"))
    MergeWriter.write(spark, Seq((2, "b", 9)).toDF("id", "v", "extra"), path2,
      LoadMode.IncrementalMerge, ids = Seq("id"), retrySleepMs = _ => 0L)
    CatalogRegistry.registerStage(spark, db, "ev_stage", path2)
    assert(spark.table(s"$db.ev_stage").filter($"id" === 2)
      .select("extra").as[Int].collect().toSeq == Seq(9))
    // schema evolution under a PRUNED merge: the new column lands only in
    // the rewritten partition's files, so the diff needs mergeSchema to see
    // it — single-footer inference reads an untouched partition and misses
    val path3 = Files.createTempDirectory("graft_catsync3").toString + "/t"
    MergeWriter.write(spark,
      Seq((1, "a", 10), (2, "b", 30)).toDF("id", "v", "p"), path3,
      LoadMode.FullOverwrite, partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    CatalogRegistry.registerStage(spark, db, "pr_stage", path3, Seq("p"))
    val s3 = MergeWriter.write(spark,
      Seq((2, "B", 30, 7)).toDF("id", "v", "p", "extra"), path3,
      LoadMode.IncrementalMerge, ids = Seq("id"), partitionCols = Seq("p"),
      retrySleepMs = _ => 0L, partitionStable = true)
    assert(s3.mode == "merge-pruned")
    CatalogRegistry.registerStage(spark, db, "pr_stage", path3, Seq("p"))
    assert(spark.table(s"$db.pr_stage").filter($"id" === 2)
      .select("extra").as[Int].collect().toSeq == Seq(7))
    assert(spark.table(s"$db.pr_stage").filter($"id" === 1)
      .select("extra").collect().head.isNullAt(0))
  }

  test("orchestrator: incremental run merges through the pruned path") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_orch_incr").toString
    val cfg = TableConfig("T_EV", "EP", "s", "events", "ev_stage",
      loadType = "incremental", sourceTableType = "m", idColumn = "id",
      partitionStable = true) // p derived from immutable row data
    val specs = Seq(
      ColumnSpec("T_EV", "id", 1, "bigint", "id", isId = true),
      ColumnSpec("T_EV", "v", 2, "string", "v"),
      ColumnSpec("T_EV", "p", 3, "int", "p", isPartition = true))
    var raw = Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20), (4L, "d", 30))
      .toDF("id", "v", "p")
    val orch = new IngestOrchestrator(spark, root, readRaw = _ => raw,
      specsFor = _ => specs, parallelism = 1)
    assert(orch.runAll(Seq(cfg)).head.rowsWritten == 4) // bootstrap overwrite
    // the increment touches only p=20: a pruned merge reads+writes just that
    // partition, so rowsWritten counts its rows — not the whole table
    raw = Seq((3L, "C", 20), (5L, "e", 20)).toDF("id", "v", "p")
    assert(orch.runAll(Seq(cfg)).head.rowsWritten == 2)
    val got = spark.read.parquet(s"$root/ev_stage").select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "C"), (4L, "d"), (5L, "e")))
  }

  test("orchestrator: a quarantined merge key fails the table before the write") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_orch_badkey").toString
    val cfg = TableConfig("T_BK", "EP", "s", "bk", "bk_stage",
      loadType = "incremental")
    val specs = Seq(
      ColumnSpec("T_BK", "id", 1, "bigint", "no_such_col", isId = true),
      ColumnSpec("T_BK", "v", 2, "string", "v"))
    val sleeps = new java.util.concurrent.atomic.AtomicInteger
    val orch = new IngestOrchestrator(spark, root,
      readRaw = _ => Seq((1L, "a"), (2L, "b")).toDF("c_id", "v"),
      specsFor = _ => specs, retrySleepMs = _ => { sleeps.incrementAndGet(); 0L })
    for (day <- 0 to 1) {
      val st = orch.runTable(cfg)
      assert(st.status == "FAILED", s"day $day: $st")
      assert(st.failReason.contains("key columns: id (") &&
        st.failReason.contains("no_such_col"), s"day $day: ${st.failReason}")
    }
    assert(sleeps.get == 0)
    assert(!Files.exists(java.nio.file.Paths.get(root, "bk_stage")))
    // a full load needs no key to merge on, but every load lays its files
    // out by the partition columns
    def full(specs: Seq[ColumnSpec]) = new IngestOrchestrator(spark, root,
      readRaw = _ => Seq((1L, "a"), (2L, "b")).toDF("c_id", "v"),
      specsFor = _ => specs, retrySleepMs = _ => { sleeps.incrementAndGet(); 0L })
      .runTable(cfg.copy(loadType = "full", stageTableName = "full_stage"))
    assert(full(specs).status == "WARNING")
    val badPart = full(Seq(ColumnSpec("T_BK", "id", 1, "bigint", "c_id", isId = true),
      ColumnSpec("T_BK", "p", 2, "int", "no_such_col", isPartition = true)))
    assert(badPart.status == "FAILED" && badPart.failReason.contains("key columns: p ("),
      badPart)
  }

  test("orchestrator: end-to-end multi-table run with status recording") {
    val root = Files.createTempDirectory("graft_orch").toString
    val cfgGood = TableConfig("T_CUST", "EP_PE", "s", "customer", "cust_stage",
      loadType = "full", processId = "10")
    val cfgWarn = cfgGood.copy(targetTableName = "T_WARN",
      stageTableName = "warn_stage")
    val cfgOff = cfgGood.copy(targetTableName = "T_OFF", activeFlag = "N")
    val specsByTable: TableConfig => Seq[ColumnSpec] = {
      case t if t.targetTableName == "T_WARN" => Seq(
        ColumnSpec("T_WARN", "id", 1, "bigint", "c_custkey", isId = true),
        ColumnSpec("T_WARN", "broken", 2, "string", "missing_col"))
      case _ => Seq(
        ColumnSpec("T_CUST", "id", 1, "bigint", "c_custkey", isId = true),
        ColumnSpec("T_CUST", "seg", 2, "string", "c_mktsegment"))
    }
    val orch = new IngestOrchestrator(spark, root,
      readRaw = _ => spark.read.parquet(s"$sf/customer.parquet"),
      specsFor = specsByTable, parallelism = 2,
      registerIn = Some("graft_orch_stage"))
    val active = orch.activeTables(Seq(cfgGood, cfgWarn, cfgOff), "10")
    assert(active.map(_.targetTableName) == Seq("T_CUST", "T_WARN"))
    val statuses = orch.runAll(active).sortBy(_.targetTableName)
    assert(statuses.map(_.status) == Seq("SUCCEEDED", "WARNING"))
    assert(statuses(1).failReason.contains("broken"))
    assert(spark.read.parquet(s"$root/cust_stage").count() == 150)
    // stage tables also registered in the catalog (crawler re-run analog)
    assert(spark.table("graft_orch_stage.cust_stage").count() == 150)
    assert(spark.table("graft_orch_stage.warn_stage").count() == 150)
    // ...and the orchestrator left PLANNER-visible statistics on every
    // registered table (the crawler analog computes stats in the same
    // pass): rowCount in the catalog, plus column stats on the id key
    for (tbl <- Seq("cust_stage", "warn_stage")) {
      // table-level stats live in the catalog (plan-level rowCount only
      // surfaces with CBO on, which the shared session leaves off)
      val tblStats = spark.sql(s"DESCRIBE EXTENDED graft_orch_stage.$tbl")
        .collect().find(_.getString(0) == "Statistics")
        .map(_.getString(1)).getOrElse("")
      assert(tblStats.contains("150 rows"),
        s"$tbl missing catalog rowCount: '$tblStats'")
      val colStats = spark.sql(
        s"DESCRIBE EXTENDED graft_orch_stage.$tbl id").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(colStats.get("distinct_count").exists(_ != "NULL"),
        s"$tbl.id missing NDV column stats: $colStats")
    }
  }

  test("orchestrator: 50-table fan-out — bounded pool, isolated statuses") {
    // The reference's MAX_TABLES_AT_A_TIME_GLUE=5 fan-out semantics
    // (datalake_ingestion_stack.py:907-1014) at a realistic config size:
    // 50 tables, mixed SUCCEEDED / WARNING (quarantined column) / FAILED
    // (source read throws). One table's failure must never leak into
    // another's status, and the driver-side pool must stay at its
    // configured width.
    import spark.implicits._
    val root = Files.createTempDirectory("graft_orch50").toString
    val n = 50
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    def kind(name: String): Int = name.stripPrefix("T").toInt % 10
    val readRaw: TableConfig => org.apache.spark.sql.DataFrame = { tc =>
      val a = active.incrementAndGet()
      maxActive.getAndUpdate(m => math.max(m, a))
      try {
        Thread.sleep(30) // hold the slot long enough to observe overlap
        val i = tc.targetTableName.stripPrefix("T").toInt
        if (kind(tc.targetTableName) == 7)
          throw new RuntimeException(s"source unreachable for T$i")
        (1 to (i % 3 + 1)).map(j => (j.toLong, s"t$i"))
          .toDF("id", "v")
      } finally active.decrementAndGet()
    }
    val specsFor: TableConfig => Seq[ColumnSpec] = { tc =>
      val base = Seq(
        ColumnSpec(tc.targetTableName, "id", 1, "bigint", "id", isId = true),
        ColumnSpec(tc.targetTableName, "v", 2, "string", "v"))
      if (kind(tc.targetTableName) == 3)
        base :+ ColumnSpec(tc.targetTableName, "broken", 3, "string",
          "no_such_column")
      else base
    }
    val orch = new IngestOrchestrator(spark, root, readRaw = readRaw,
      specsFor = specsFor, parallelism = 5)
    val tables = (1 to n).map(i =>
      TableConfig(s"T$i", "EP", "s", s"src_$i", s"stage_$i"))
    val t0 = System.nanoTime()
    val statuses = orch.runAll(tables)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // order and completeness: one status per table, input order preserved
    assert(statuses.map(_.targetTableName) == tables.map(_.targetTableName))
    // per-table isolation: status determined ONLY by the table's own kind
    statuses.foreach { st =>
      val i = st.targetTableName.stripPrefix("T").toInt
      kind(st.targetTableName) match {
        case 7 =>
          assert(st.status == "FAILED" &&
            st.failReason.contains(s"unreachable for T$i"), st)
        case 3 =>
          assert(st.status == "WARNING" &&
            st.quarantinedColumns == Seq("broken") &&
            st.rowsWritten == (i % 3 + 1), st)
        case _ =>
          assert(st.status == "SUCCEEDED" &&
            st.rowsWritten == (i % 3 + 1), st)
      }
    }
    assert(statuses.count(_.status == "FAILED") == 5)
    assert(statuses.count(_.status == "WARNING") == 5)
    assert(statuses.count(_.status == "SUCCEEDED") == 40)
    // each non-failed table's stage dir holds ITS rows (spot-check one of
    // each kind; a failed table writes nothing)
    assert(spark.read.parquet(s"$root/stage_11").select("v")
      .as[String].collect().forall(_ == "t11"))
    assert(spark.read.parquet(s"$root/stage_13").columns.toSet ==
      Set("id", "v")) // quarantined column excluded from output
    assert(!new java.io.File(s"$root/stage_17").exists())
    // pool stayed at its configured width and actually fanned out
    assert(maxActive.get() <= 5, s"pool exceeded width: ${maxActive.get()}")
    assert(maxActive.get() >= 2, "no overlap observed — fan-out broken")
    // wall-clock sanity: 50 tiny tables through a 5-wide pool is seconds,
    // not minutes (a serialization bug would show up as ~50x one table)
    assert(elapsedSec < 300, f"50-table run took $elapsedSec%.1f s")
  }

  test("orchestrator: transient write failures retry exactly-once (I5)") {
    // The reference's retry contract (aje-stage-dms-load.py:467-503:
    // 3 attempts, linear backoff) under the 5-wide pool: a storage fault
    // that fires MID-MERGE on the first attempt must be retried, and the
    // retry must not double-write — the failed attempt's partial work
    // must be invisible (writeSwap's write-then-rename makes the target
    // all-or-nothing per attempt).
    import spark.implicits._
    val root = Files.createTempDirectory("graft_orchRetry").toString
    val n = 12
    def failing(name: String): Boolean = name.stripPrefix("R").toInt % 2 == 0
    val tables = (1 to n).map(i => TableConfig(s"R$i", "EP", "s",
      s"src_$i", s"rstage_$i", loadType = "incremental"))
    val specsFor: TableConfig => Seq[ColumnSpec] = { tc =>
      Seq(
        ColumnSpec(tc.targetTableName, "id", 1, "bigint", "id", isId = true),
        ColumnSpec(tc.targetTableName, "v", 2, "string", "v"))
    }
    // Phase 1: seed every stage table with ids 1..4 (no faults) — the
    // retried phase must then MERGE, the path where a double-write would
    // actually corrupt data (duplicate keys), not just duplicate files.
    def mkBatch(tc: TableConfig, ids: Range, chaos: Boolean) = {
      val i = tc.targetTableName.stripPrefix("R").toInt
      val base = ids.map(j => (j.toLong, s"t${i}_$j")).toDF("id", "v")
      if (chaos)
        base.withColumn("v",
          EntrySpec.chaosOnce(lit(tc.targetTableName), col("v")))
      else base
    }
    val seed = new IngestOrchestrator(spark, root,
      readRaw = tc => mkBatch(tc, 1 to 4, chaos = false),
      specsFor = specsFor, parallelism = 5, retrySleepMs = _ => 1L)
    assert(seed.runAll(tables).forall(_.status == "SUCCEEDED"))
    // Phase 2: upsert ids 3..6; even-numbered tables hit a transient
    // fault the first time the batch is materialized (inside withRetry:
    // nothing evaluates the batch before the write). The fault fires once
    // per table, then heals.
    EntrySpec.chaosFired.clear()
    val orch = new IngestOrchestrator(spark, root,
      readRaw = tc => mkBatch(tc, 3 to 6,
        chaos = failing(tc.targetTableName)),
      specsFor = specsFor, parallelism = 5, retrySleepMs = _ => 1L)
    val statuses = orch.runAll(tables)
    // every table recovered — a transient fault is NOT a FAILED status
    statuses.foreach(st => assert(st.status == "SUCCEEDED", st))
    // the faults actually fired (one per even table), i.e. the pass went
    // through the retry path rather than never hitting the fault
    assert(EntrySpec.chaosFired.size == n / 2,
      s"expected ${n / 2} injected faults, saw ${EntrySpec.chaosFired.size}")
    // exactly-once per table: merged keyspace 1..6, each id ONCE, and the
    // upserted rows carry phase-2 values (a double-write would duplicate
    // ids; a lost retry would leave phase-1 values on 3..4 or miss 5..6)
    tables.foreach { tc =>
      val i = tc.targetTableName.stripPrefix("R").toInt
      val rows = spark.read.parquet(s"$root/rstage_$i")
        .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == (1L to 6L),
        s"R$i keyspace corrupted: ${rows.mkString(",")}")
      assert(rows.toMap.forall { case (id, v) => v == s"t${i}_$id" },
        s"R$i values corrupted: ${rows.mkString(",")}")
    }
  }
}

/** Driver-JVM singletons for the retry fault injection: the UDF closure
  * must reference STATIC state (an object field), not a captured map — a
  * captured map is serialized per task and each attempt would see a fresh
  * copy, making the fault fire on every retry instead of once. */
object EntrySpec {
  val chaosFired =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  /** Deterministic (prunable) UDF that throws the FIRST time any row of a
    * given table's batch is evaluated, then passes values through. */
  val chaosOnce: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (tbl: String, v: String) =>
      if (chaosFired.putIfAbsent(tbl, java.lang.Boolean.TRUE) == null)
        throw new RuntimeException(s"transient storage fault for $tbl")
      v
    }
}
