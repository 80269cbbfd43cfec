package graft.meta

/**
 * Metadata model for the config-driven ingestion engine.
 *
 * Replaces the reference's four DynamoDB tables (reference:
 * datalake_ingestion/datalake_ingestion_stack.py:156-202, record shape
 * README.md:61-98) with plain case classes. At 100 TB scale this metadata is
 * tiny (one row per table / per column) and lives on the driver; nothing here
 * is distributed.
 */

/** Per-output-column spec (reference stage-columns table,
  * datalake_ingestion_stack.py:176-188; flags consumed at
  * aje-stage-dms-load.py:390-404). */
final case class ColumnSpec(
    targetTableName: String,
    columnName: String,
    columnId: Int,
    newDataType: String,       // Spark DDL type string, e.g. "int", "decimal(12,2)"
    transformation: String,    // DSL expression (graft.dsl) or bare SQL expr
    isId: Boolean = false,         // merge key
    isOrderBy: Boolean = false,    // final sort column
    isPartition: Boolean = false,  // output partition column
    isFilterDate: Boolean = false  // recency column for latest-row dedup
)

/** Per-table ingestion spec (reference ETL config table, README.md:61-98;
  * consumed at aje-stage-dms-load.py:369-375 and load_with_query.py:281-325). */
final case class TableConfig(
    targetTableName: String,
    endpoint: String,
    sourceSchema: String,
    sourceTable: String,
    stageTableName: String,
    activeFlag: String = "Y",
    loadType: String = "full",            // "incremental" | "between-date" | other => full
    filterOperator: String = "",          // "between" | "lte" | "between-date" | "incremental-full"
    filterColumn: String = "",            // 1 or 2 comma-separated watermark columns
    filterExp: String = "",               // free-text extra predicate ({0}/{1} templated)
    filterType: String = "",              // dialect literal rendering (P5)
    filterDataType: String = "",          // "aje_period" | "aje_date" | "aje_processperiod"
    startValue: String = "",              // watermark low, "yyyy-MM-dd HH:mm:ss"
    endValue: String = "",                // watermark high
    idColumn: String = "",                // source-side key alias ("ID_COLUMN as id")
    columns: String = "",                 // source projection list
    joinExpr: String = "",                // free-text source-side join (J1)
    queryByGlue: String = "",             // base SELECT for incremental loads
    delayIncrementalIni: Int = -2,        // months back for period windows
    sourceTableType: String = "m",        // "m"aster | "t"ransactional
    processId: String = "",
    crawler: String = "",
    // Engine extension (no reference analog): asserts the pruned-merge data
    // contract — a row's partition values never change across updates (e.g.
    // partitions derived from immutable row data). Without it, partitioned
    // merges whose partition columns are not part of the merge ids fall back
    // to a full rewrite (see MergeWriter.write gating).
    partitionStable: Boolean = false
) {
  def idColumns: Seq[String] =
    idColumn.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** I4 — extraction routing: a table with any projection/filter/key/join
    * spec needs a generated query (the reference's "needs glue" flag,
    * PrepareForTaskCreation.py:19-35, StartWorkFlow.py:156-159); bare tables
    * go through bulk replication. Both collapse to the same JDBC read here,
    * but the predicate still drives batching and query generation. */
  def needsCustomQuery: Boolean =
    Seq(columns, filterColumn, filterExp, idColumn, joinExpr)
      .exists(_.trim.nonEmpty)
}

object TableConfig {
  /** I4 — bulk-replication batching: bare tables are grouped `perTask` at a
    * time (the reference's TABLES_PER_TASK, PrepareForTaskCreation.py:24-32). */
  def batchForReplication(tables: Seq[TableConfig], perTask: Int)
      : (Seq[Seq[TableConfig]], Seq[TableConfig]) = {
    require(perTask > 0)
    val (custom, bare) = tables.partition(_.needsCustomQuery)
    (bare.grouped(perTask).toSeq, custom)
  }
}

/** Source endpoint (reference credentials table, README.md:29-54). */
final case class EndpointConfig(
    endpointName: String,
    bdType: String, // oracle | mysql | mssql
    srcServerName: String,
    dbPortNumber: Int,
    srcDbName: String,
    srcDbUsername: String,
    srcDbSecret: String
)

/** Load-mode routing (reference I3: load_with_query.py:281-295,
  * aje-stage-dms-load.py:474-495, transform_light.py:393-407). The
  * reference's Salesforce modes need no modes of their own: `UPSERT_LOAD`
  * is [[LoadMode.IncrementalMerge]] with `ids = Seq("Id")`, and
  * `SNAPSHOT_LOAD` is [[LoadMode.FullOverwrite]]. */
sealed trait LoadMode
object LoadMode {
  /** Non-incremental: rewrite the whole stage table (K3). */
  case object FullOverwrite extends LoadMode
  /** Incremental: key-matched upsert into the stage table (K4). */
  case object IncrementalMerge extends LoadMode
  /** Transactional tables: delete recent `processperiod` window, then merge
    * (K5, aje-stage-dms-load.py:488-495). */
  final case class TransactionalWindowMerge(monthsBack: Int) extends LoadMode

  /** Routing as the reference does it: LOAD_TYPE not in {incremental,
    * between-date} => overwrite; else merge, with the transactional window
    * variant when SOURCE_TABLE_TYPE == "t"
    * (aje-stage-dms-load.py:474-495). */
  def of(t: TableConfig): LoadMode = {
    val incremental =
      Set("incremental", "between-date").contains(t.loadType.trim)
    if (!incremental) FullOverwrite
    else if (t.sourceTableType.trim == "t")
      TransactionalWindowMerge(t.delayIncrementalIni)
    else IncrementalMerge
  }
}

/** Per-run status record, replacing the reference's DynamoDB status writes +
  * structured log items (aje-stage-dms-load.py:523-542). */
final case class RunStatus(
    targetTableName: String,
    status: String,             // SUCCEEDED | WARNING | FAILED
    failReason: String = "",
    rowsWritten: Long = 0L,
    quarantinedColumns: Seq[String] = Nil
)
