package graft.write

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogTablePartition}
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType}

/**
 * Catalog registration for stage tables — the Spark-native analog of the
 * reference's Glue crawler job (crawlers_job.py:80-186): a database per
 * (project, engine, endpoint) plus one registered table per stage path, so
 * downstream SQL reads `db.table` instead of parquet paths. The crawler
 * re-runs in full after every load; this analog is incremental, and after
 * each stage write it costs metadata, not data:
 *
 *  - [[registerStage]] diffs disk against the catalog: schema from the
 *    parquet footers ([[ParquetFooters]], cached, so a warm day opens only
 *    the new files' footers) and partitions from the directories of the
 *    same live files. A warm registration launches no Spark job.
 *  - [[refreshStats]] writes the optimizer's statistics from the same
 *    footers (rowCount, sizeInBytes, per-id min/max/nulls) plus a distinct
 *    count that was observed inside the write job or is provable from key
 *    uniqueness. Only where neither holds does it fall back to
 *    [[analyzeStage]]'s full-scan `ANALYZE`.
 *
 * The LakeFormation grant calls (:110-168) are AWS-side permissioning with
 * no engine analog.
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
   * call after every write, as the reference re-runs its crawler per load.
   *
   *  - First sight: `CREATE TABLE ... LOCATION`, the data columns from the
   *    union of the footer schemas and the partition columns (with their
   *    types) from the directory names, as a path read infers them.
   *  - After that: footer columns the catalog lacks are appended (`ALTER
   *    TABLE ... ADD COLUMNS`, merge schema evolution; a pruned merge writes
   *    an evolved column into some files only, and the union sees it), then
   *    `REFRESH TABLE` for rewritten files.
   *  - Partitioned tables: the leaf partitions of the live files the
   *    footer read already listed (one walk of the table per registration)
   *    are diffed against the catalog's partitions, and exactly the
   *    difference is added and dropped (the data stays), with names
   *    unescaped and `__HIVE_DEFAULT_PARTITION__` kept as `MSCK REPAIR ...
   *    SYNC PARTITIONS` keeps it. A window merge that empties a period
   *    therefore leaves no dangling catalog partition.
   *
   * Writes no statistics: that is [[refreshStats]] (or [[analyzeStage]]),
   * run after registration.
   */
  def registerStage(spark: SparkSession, db: String, table: String,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    val catalog = spark.sessionState.catalog
    if (!catalog.databaseExists(db)) ensureDatabase(spark, db)
    val ident = TableIdentifier(table, Some(db))
    val full = s"`$db`.`$table`"
    val footers = ParquetFooters.of(path)
    val written = ParquetFooters.unionSchema(footers)
    if (!catalog.tableExists(ident)) {
      require(written.nonEmpty, s"no parquet data files under $path to register")
      // with the data schema given, the read infers only the partition
      // columns, from the directory listing: no footer read, no job
      val ddl = spark.read.schema(written).parquet(path).schema.toDDL
      val partClause =
        if (partitionCols.isEmpty) ""
        else partitionCols.mkString("PARTITIONED BY (", ", ", ")")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $full ($ddl) USING PARQUET " +
        s"$partClause LOCATION '$path'")
      syncPartitions(spark, ident, footers.keys)
    } else {
      val known = catalog.getTableMetadata(ident).schema
        .fieldNames.map(_.toLowerCase).toSet
      val added = written.fields.filterNot(f => known(f.name.toLowerCase))
      if (added.nonEmpty)
        spark.sql(s"ALTER TABLE $full ADD COLUMNS (" +
          added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ") + ")")
      syncPartitions(spark, ident, footers.keys)
      spark.catalog.refreshTable(full)
    }
  }

  /** Make the catalog's partitions equal the leaf partitions of the live
    * `files` (relative paths, [[ParquetFooters.partitions]]). */
  private def syncPartitions(spark: SparkSession, ident: TableIdentifier,
      files: Iterable[String]): Unit = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident)
    val names = meta.partitionColumnNames
    if (names.nonEmpty) {
      val root = new Path(meta.location)
      val onDisk = ParquetFooters.partitions(files, names).map { case (dir, vals) =>
        names.zip(vals).toMap -> new Path(root, dir).toUri
      }
      val inCatalog = catalog.listPartitions(ident).map(_.spec).toSet
      val added = onDisk.keySet -- inCatalog
      val dropped = inCatalog -- onDisk.keySet
      if (added.nonEmpty)
        catalog.createPartitions(ident, added.toSeq.map(spec =>
          CatalogTablePartition(spec,
            meta.storage.copy(locationUri = Some(onDisk(spec))))),
          ignoreIfExists = true)
      if (dropped.nonEmpty)
        catalog.dropPartitions(ident, dropped.toSeq, ignoreIfNotExists = true,
          purge = false, retainData = true)
    }
  }

  /** Where [[refreshStats]] took the id columns' distinct counts from. */
  object NdvSource {
    /** Observed inside the write job ([[MergeWriter.MergeStats]]). */
    val Observed = "observed"
    /** rows − nulls of a single key the stage transform deduplicated. */
    val UniqueKey = "unique-key"
    /** A full-scan [[analyzeStage]]. */
    val Analyze = "analyze"
    /** No id columns: table-level statistics only. */
    val NoIds = "no-ids"
  }

  /** Types whose footer min/max [[ParquetFooters]] reads, and for which
    * ANALYZE stores `defaultSize` as avgLen and maxLen. */
  private def fromLong(dt: DataType): Option[Long => Any] = dt match {
    case ByteType => Some(_.toByte)
    case ShortType => Some(_.toShort)
    case IntegerType | DateType => Some(_.toInt)
    case LongType => Some(identity)
    case _ => None
  }

  /**
   * The optimizer's statistics for a registered stage table, kept from the
   * write instead of a daily full scan — run after [[registerStage]] (the
   * crawler analog computes stats in the same pass). Table level: rowCount
   * is the sum of the footers' record counts and sizeInBytes the sum of the
   * data files' lengths (what `ANALYZE` stores). Per id column, for integer
   * and date types: min, max and nulls from the footers' column-chunk
   * statistics, avgLen = maxLen = the type's `defaultSize`, and the distinct
   * count from the first source that applies:
   *
   *  1. [[NdvSource.Observed]]: `observed` holds every id — the counts a
   *     whole-table write observed (`MergeStats.distinctCounts`). Capped at
   *     rows − nulls as `ANALYZE` caps its estimate, the value is ANALYZE's.
   *  2. [[NdvSource.UniqueKey]]: a single id with `keyUnique` (the stage
   *     transform deduplicated it, and upserts and the pruned route's
   *     stability contract keep it unique): rows − nulls, exact.
   *  3. [[NdvSource.Analyze]]: otherwise — a composite key on a pruned
   *     route, an id without footer statistics, a partition-column id or a
   *     type that is not fixed-width — [[analyzeStage]] scans the table.
   *
   * Returns the source used. Run it after [[registerStage]]: the SQL
   * partition commands (`ALTER TABLE ... ADD PARTITION`) clear table
   * statistics, and `MSCK` leaves them stale; registration's own partition
   * sync goes through the catalog API and touches neither.
   */
  def refreshStats(spark: SparkSession, db: String, table: String,
      path: String, ids: Seq[String], observed: Map[String, Long],
      keyUnique: Boolean): String = {
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(table, Some(db))
    val meta = catalog.getTableMetadata(ident)
    val files = ParquetFooters.of(path).values.toSeq
    val rows = files.map(_.rows).sum
    val source =
      if (ids.isEmpty) NdvSource.NoIds
      else if (ids.forall(observed.contains)) NdvSource.Observed
      else if (keyUnique && ids.size == 1) NdvSource.UniqueKey
      else NdvSource.Analyze
    val columns = ids.map { id =>
      for {
        field <- meta.schema.find(_.name.equalsIgnoreCase(id))
        if !meta.partitionColumnNames.exists(_.equalsIgnoreCase(id))
        convert <- fromLong(field.dataType)
        ranges <- footerRanges(files, field.name)
      } yield {
        val nulls = ranges.map(_.nulls).sum
        val values = rows - nulls
        val ndv = if (source == NdvSource.Observed) math.min(observed(id), values) else values
        val size = field.dataType.defaultSize.toLong
        field.name -> ColumnStat(Some(BigInt(ndv)),
          ranges.flatMap(_.min).minOption.map(convert),
          ranges.flatMap(_.max).maxOption.map(convert),
          Some(BigInt(nulls)), Some(size), Some(size))
          .toCatalogColumnStat(field.name, field.dataType)
      }
    }
    if (source == NdvSource.Analyze || columns.exists(_.isEmpty)) {
      analyzeStage(spark, db, table, ids)
      NdvSource.Analyze
    } else {
      catalog.alterTableStats(ident, Some(CatalogStatistics(
        BigInt(files.map(_.length).sum), Some(BigInt(rows)), columns.flatten.toMap)))
      source
    }
  }

  /** Per file range of `column`; a file without the column holds only
    * nulls for it. None when some file's chunks lack statistics. */
  private def footerRanges(files: Seq[ParquetFooters.Footer],
      column: String): Option[Seq[ParquetFooters.Range]] = {
    val per = files.map { f =>
      f.schema.find(_.name.equalsIgnoreCase(column)) match {
        case None => Some(ParquetFooters.Range(None, None, f.rows))
        case Some(field) => f.ranges.get(field.name)
      }
    }
    if (per.forall(_.isDefined)) Some(per.flatten) else None
  }

  /**
   * The full-scan statistics feed — [[refreshStats]]'s fallback, and the
   * way to add statistics on columns other than the ids. `ANALYZE TABLE`
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
   * stats where Catalyst reads them). One statement, one scan of the whole
   * table: the column form also stores the table's sizeInBytes and
   * rowCount.
   */
  def analyzeStage(spark: SparkSession, db: String, table: String,
      columns: Seq[String] = Nil): Unit = {
    val forColumns =
      if (columns.isEmpty) ""
      else columns.map(c => s"`$c`").mkString(" FOR COLUMNS ", ", ", "")
    spark.sql(s"ANALYZE TABLE `$db`.`$table` COMPUTE STATISTICS$forColumns")
  }
}
