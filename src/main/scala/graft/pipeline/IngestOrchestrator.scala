package graft.pipeline

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.meta._
import graft.write.MergeWriter

/**
 * In-process orchestration of the raw->stage pipeline across a set of
 * configured tables — the Spark-native collapse of the reference's Step
 * Functions state machine (SURVEY §2.7; wiring
 * datalake_ingestion_stack.py:907-1014): the distributed choreography
 * (DMS lifecycle, per-endpoint Maps, poll loops) is AWS scaffolding around
 * what is, per table, exactly one Spark job. Status recording mirrors the
 * reference's DynamoDB status fields (SUCCEEDED / WARNING with quarantined
 * columns / failure reason; aje-stage-dms-load.py:536-542).
 *
 * Tables are independent; at scale run them concurrently from the driver
 * (Spark schedules jobs FIFO/FAIR across them) — the reference's
 * MAX_TABLES_AT_A_TIME_GLUE=5 fan-out becomes `parallelism` here.
 */
final class IngestOrchestrator(
    spark: SparkSession,
    stageRoot: String,
    readRaw: TableConfig => DataFrame,
    specsFor: TableConfig => Seq[ColumnSpec],
    parallelism: Int = 5,
    registerIn: Option[String] = None,
    // I5 backoff schedule (aje-stage-dms-load.py:467-503: 3 attempts,
    // linear backoff); injectable so tests and fast-retry deployments
    // don't sleep 60 s per attempt
    retrySleepMs: Int => Long = _ * 60000L) {

  /** Active-set predicate (P8, StartWorkFlow.py:62-100). */
  def activeTables(all: Seq[TableConfig], processId: String = "",
      countryPrefix: String = ""): Seq[TableConfig] =
    all.filter(t => t.activeFlag == "Y" &&
      (processId.isEmpty || t.processId == processId) &&
      t.endpoint.startsWith(countryPrefix))

  def runTable(t: TableConfig): RunStatus = {
    Try {
      val raw = readRaw(t)
      val specs = specsFor(t)
      val result = StageTransform.run(raw, specs)
      val partitions = specs.filter(_.isPartition).map(_.columnName)
      val ids = specs.filter(_.isId).map(_.columnName)
      val mode = LoadMode.of(t)
      // a merge cannot match on a key column the transform quarantined, nor
      // any write lay out by a missing partition column: fail the table
      // now, naming the column, instead of in every retry of the write
      val keys = partitions ++ (if (mode == LoadMode.FullOverwrite) Nil else ids)
      val broken = result.quarantined.filter { case (c, _) => keys.contains(c) }
      if (broken.nonEmpty)
        throw new IllegalArgumentException("can not create the key columns: " +
          broken.map { case (c, e) => s"$c ($e)" }.mkString(", "))
      val cutoff = currentCutoff(t)
      // the merge deduplicates the batch by the recency the transform used
      // (live columns only: a quarantined one would fail the write), which
      // reuses the transform's window instead of sorting again
      val stats = MergeWriter.write(spark, result.df,
        s"$stageRoot/${t.stageTableName}", mode, ids, partitions,
        cutoff, retrySleepMs = retrySleepMs,
        partitionStable = t.partitionStable, recency = result.recency)
      // the reference re-runs its catalog crawler after stage loads
      // (crawlers_job.py); here an incremental analog per table: a
      // disk-vs-catalog registration diff, then statistics from the
      // footers and the write itself — rowCount/size plus NDV/min/max on
      // the merge keys, so the PLANNER (CBO broadcast decisions, join
      // reorder) sees them. The keys' distinct counts were observed in a
      // whole-table write, or are rows - nulls of a single deduplicated
      // key; only otherwise (a composite key on a pruned route) does a
      // full-scan ANALYZE run.
      registerIn.foreach { db =>
        val path = s"$stageRoot/${t.stageTableName}"
        graft.write.CatalogRegistry.registerStage(
          spark, db, t.stageTableName, path, partitions)
        // only ids that survived the transform: a quarantined id column
        // is a WARNING, and a failed statistics step must not escalate it
        graft.write.CatalogRegistry.refreshStats(spark, db, t.stageTableName,
          path, ids.filter(result.df.columns.contains), stats.distinctCounts,
          keyUnique = result.recency.nonEmpty)
      }
      (result, stats)
    } match {
      case Success((result, stats)) =>
        if (result.quarantined.isEmpty)
          RunStatus(t.targetTableName, "SUCCEEDED",
            rowsWritten = stats.rowsWritten)
        else
          RunStatus(t.targetTableName, "WARNING",
            failReason = "can not create the columns: " +
              result.quarantinedColumns.mkString(","),
            rowsWritten = stats.rowsWritten,
            quarantinedColumns = result.quarantinedColumns)
      case Failure(e: MergeWriter.NoDataToMigrateException) =>
        RunStatus(t.targetTableName, "WARNING", failReason = e.getMessage)
      case Failure(e) =>
        RunStatus(t.targetTableName, "FAILED",
          failReason = Option(e.getMessage).getOrElse(e.toString))
    }
  }

  /** yyyyMM cutoff for transactional-window deletes
    * (aje-stage-dms-load.py:488-491). */
  private def currentCutoff(t: TableConfig): Int = {
    val now = java.time.LocalDate.now(graft.incr.Incremental.LimaZone)
    val lower = now.minusMonths(-1L * t.delayIncrementalIni)
    lower.getYear * 100 + lower.getMonthValue
  }

  /** Run every active table; driver-side thread pool fans the independent
    * Spark jobs out (executors stay saturated across tables). */
  def runAll(tables: Seq[TableConfig]): Seq[RunStatus] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, parallelism))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = tables.map(t =>
        scala.concurrent.Future(runTable(t)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }
}
