package graft.write

import org.apache.spark.sql.SparkSession

/**
 * Catalog registration for stage tables — the Spark-native analog of the
 * reference's Glue crawler job (crawlers_job.py:80-186): a database per
 * (project, engine, endpoint) plus one registered table per stage path, so
 * downstream SQL reads `db.table` instead of parquet paths. The crawler's
 * schema/partition discovery maps to schema inference at registration and
 * `MSCK REPAIR TABLE` for partition recovery; a crawler RE-run after a merge
 * maps to `REFRESH TABLE` (+ repair for new partition directories). The
 * LakeFormation grant calls (:110-168) are AWS-side permissioning with no
 * engine analog.
 */
object CatalogRegistry {

  /** `{project}_{engine}_{endpoint}_stage`, including the mssql->sqlserver
    * rename (crawlers_job.py:60-66). */
  def stageDatabaseName(project: String, bdType: String, endpoint: String): String = {
    val bt = if (bdType.trim == "mssql") "sqlserver" else bdType.trim
    s"${project}_${bt}_${endpoint}_stage"
  }

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /**
   * Register (or refresh) one stage path as an external table. Idempotent —
   * call after every merge, as the reference re-runs its crawler per load:
   * existing registrations get new data columns appended (`ALTER TABLE ...
   * ADD COLUMNS`, the crawler-rerun schema-update analog for merge schema
   * evolution) plus `REFRESH TABLE` for rewritten files, and, when
   * partitioned, partition recovery with `SYNC PARTITIONS` — directories a
   * pruned merge added AND removed (plain MSCK only adds; a window merge
   * that empties a period would otherwise leave a dangling catalog partition
   * pointing at a deleted directory).
   */
  def registerStage(spark: SparkSession, db: String, table: String,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    ensureDatabase(spark, db)
    val full = s"`$db`.`$table`"
    val exists = spark.catalog.tableExists(s"$db.$table")
    if (!exists) {
      val ddl = spark.read.parquet(path).schema.toDDL
      val partClause =
        if (partitionCols.isEmpty) ""
        else partitionCols.mkString("PARTITIONED BY (", ", ", ")")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $full ($ddl) USING PARQUET " +
        s"$partClause LOCATION '$path'")
    } else {
      // Merge schema evolution adds batch-only columns to rewritten files;
      // diff the parquet-inferred schema against the pinned catalog schema
      // and surface new data columns to name-based readers. mergeSchema is
      // REQUIRED: a pruned merge rewrites only touched partitions, so the
      // evolved column exists in some files only and single-footer inference
      // would miss it (footer reads, not a data pass — the crawler analog
      // scans the same footers). A stage path a window merge has fully
      // emptied has nothing to diff — refresh/repair alone then drops the
      // stale catalog partitions.
      if (hasParquetFiles(path)) {
        val catalogCols = spark.table(s"$db.$table").schema
          .fieldNames.map(_.toLowerCase).toSet
        val added = spark.read.option("mergeSchema", "true").parquet(path)
          .schema.fields.filterNot(f =>
            catalogCols.contains(f.name.toLowerCase) ||
              partitionCols.exists(_.equalsIgnoreCase(f.name)))
        if (added.nonEmpty)
          spark.sql(s"ALTER TABLE $full ADD COLUMNS (" +
            added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ") + ")")
      }
      spark.sql(s"REFRESH TABLE $full")
    }
    if (partitionCols.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $full SYNC PARTITIONS")
  }

  /**
   * Statistics feed for the optimizer — run after [[registerStage]] (the
   * crawler analog computes stats in the same pass). `ANALYZE TABLE`
   * stores rowCount/sizeInBytes in the catalog, and `FOR COLUMNS` adds
   * per-column NDV/min/max/null counts, so at 100 TB the PLANNER decides
   * broadcast joins and CBO join order from catalog statistics — before
   * a single task runs — instead of relying on AQE's runtime re-plan
   * (which only helps after the first shuffle is already materialized).
   * Without stats, an external parquet table defaults to
   * `spark.sql.defaultSizeInBytes` (Long.Max): every join against it
   * plans sort-merge even when the table is a 2 KB dimension.
   * PlanShapeSpec pins the flip: same join, AQE off, sort-merge before
   * ANALYZE, broadcast-hash after. Column choice: pass the join/filter
   * keys (the columns [[graft.ops.Stats.profileColumns]] profiles — the
   * profiler identifies which columns matter, ANALYZE persists their
   * stats where Catalyst reads them). One statement, one scan: the
   * column form also stores the table's sizeInBytes and rowCount.
   */
  def analyzeStage(spark: SparkSession, db: String, table: String,
      columns: Seq[String] = Nil): Unit = {
    val forColumns =
      if (columns.isEmpty) ""
      else columns.map(c => s"`$c`").mkString(" FOR COLUMNS ", ", ", "")
    spark.sql(s"ANALYZE TABLE `$db`.`$table` COMPUTE STATISTICS$forColumns")
  }

  /** Any data file under `path`, recursively — a partitioned table whose
    * partitions were all emptied still has a root _SUCCESS, so the
    * MergeWriter top-level check is not a data-presence check. */
  private def hasParquetFiles(path: String): Boolean = {
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.isDirectory(root) && {
      val s = java.nio.file.Files.walk(root)
      try s.anyMatch(_.toString.endsWith(".parquet")) finally s.close()
    }
  }
}
