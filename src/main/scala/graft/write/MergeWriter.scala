package graft.write

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.meta.LoadMode
import graft.pipeline.StageTransform

/**
 * Native merge writer over Parquet — re-expresses the reference's Delta Lake
 * `MERGE ... whenMatchedUpdateAll().whenNotMatchedInsertAll()` sink family
 * (reference: aje-stage-dms-load.py:470-518, condition generator :359-364;
 * Salesforce variant transform_light.py:388-417). Delta jars are not in this
 * build, and "update all / insert all" semantics reduce exactly to:
 *
 *   result = target ANTI JOIN batch (on keys)  UNION  batch
 *
 * which is cheaper than the full-outer-join formulation: the anti join is
 * broadcastable when the batch (a daily increment) is small relative to the
 * stage table — the common case at 100 TB — and the batch side needs no
 * shuffle at all. Schema evolution (Delta autoMerge,
 * aje-stage-dms-load.py:44) is the union of both schemas with nulls filled.
 *
 * Scale notes: with `partitionCols` set and the layout provably key-stable
 * (see `write`'s gating contract), merge modes route through
 * `prunedMergeWrite` — the native analog of Delta's file pruning
 * (aje-stage-dms-load.py:482-495): only the partitions the batch touches
 * (plus, for the transactional-window mode, the deleted window) are read
 * and merged; every other partition's files are carried over by hard link,
 * never read or rewritten, so per-merge data I/O is O(|touched
 * partitions|), not O(|table|). Unpartitioned targets still rewrite fully
 * (there is nothing to prune by).
 *
 * Every write ends in one crash-atomic publish (see [[writeSwap]]): the
 * stage path stays a plain parquet directory holding only live files, and
 * a crash never leaves less than one complete version.
 */
object MergeWriter {

  /** Signals the reference's NoDataToMigrateException
    * (aje-stage-dms-load.py:79-86,512-518). */
  final class NoDataToMigrateException
      extends Exception("no data detected to migrate")

  /** What one [[write]] did: its route, the rows it wrote and, on the
    * routes that write the whole table ([[writeSwap]]), the distinct count
    * of each id column observed inside the write job — ANALYZE's estimator
    * at its relative error, so [[CatalogRegistry.refreshStats]] can store
    * it without scanning the table again. */
  final case class MergeStats(mode: String, rowsWritten: Long,
      distinctCounts: Map[String, Long] = Map.empty)

  /** Whether a stage table is present at `path` — the one existence check
    * [[write]] and the streaming sinks route on. Rolls back a publish a
    * crash interrupted first (see [[writeSwap]]): with `path` missing,
    * `path.__old` is the last complete version and moves back; with both
    * present, the new version is complete and `path.__old` is deleted.
    *
    * A table is present when `path` holds a live data file, by the rule
    * every read of the table uses ([[ParquetFooters.dataFiles]]); the walk
    * stops at the first file. A directory holding only a `_SUCCESS` marker
    * (what an empty partitioned write leaves) is no table, so the next
    * write bootstraps it, and a partitioned table is present whether or
    * not the committer wrote a marker. */
  def tableExists(path: String): Boolean = {
    val (dir, old) = (Paths.get(path), Paths.get(path + ".__old"))
    if (Files.exists(old))
      if (Files.exists(dir)) FileUtils.deleteDirectory(old.toFile)
      else Files.move(old, dir, StandardCopyOption.ATOMIC_MOVE)
    ParquetFooters.hasData(path)
  }

  /** Align `df` to the union schema: missing columns become typed nulls
    * (Delta schema autoMerge equivalent). */
  private def alignTo(df: DataFrame, unionSchema: Seq[(String, String)]): DataFrame = {
    val present = df.columns.toSet
    df.select(unionSchema.map { case (name, ddl) =>
      if (present.contains(name)) col(name) else lit(null).cast(ddl).as(name)
    }: _*)
  }

  private def unionSchemaOf(a: DataFrame, b: DataFrame): Seq[(String, String)] = {
    val fromA = a.schema.fields.map(f => f.name -> f.dataType.sql)
    val extraB = b.schema.fields.filterNot(f => a.columns.contains(f.name))
      .map(f => f.name -> f.dataType.sql)
    (fromA ++ extraB).toSeq
  }

  /** The merge prelude shared by [[upsert]] and [[upsertPartial]]: the
    * batch key-deduplicated by [[StageTransform.dedupLatest]] and the
    * target, both aligned to their union schema. */
  private def aligned(target: DataFrame, batch: DataFrame, ids: Seq[String],
      recency: Seq[String]): (Seq[(String, String)], DataFrame, DataFrame) = {
    require(ids.nonEmpty, "merge requires at least one id column")
    val cleanBatch = StageTransform.dedupLatest(batch, ids, recency)
    val schema = unionSchemaOf(target, cleanBatch)
    (schema, alignTo(target, schema), alignTo(cleanBatch, schema))
  }

  /** K4 — upsert: batch rows replace key-matched target rows, new keys
    * append. Batch is key-deduplicated first to satisfy the single-match rule
    * (aje-stage-dms-load.py:483-485) by [[StageTransform.dedupLatest]]: the
    * latest row by `recency`, ties and a missing recency settled by the max
    * over the other columns (the reference's bare dropDuplicates keeps an
    * arbitrary one). Passing the `recency` a batch was already deduplicated
    * by (as [[write]] does for a stage-transform batch) makes that dedup
    * free of any extra sort or shuffle. */
  def upsert(target: DataFrame, batch: DataFrame, ids: Seq[String],
      recency: Seq[String] = Nil): DataFrame = {
    val (schema, t, b) = aligned(target, batch, ids, recency)
    // Keys present in the batch vanish from the target (anti join), then the
    // batch is appended — whenMatchedUpdateAll + whenNotMatchedInsertAll.
    // The using-column join moves join columns to the FRONT of its output;
    // re-select schema order or the positional union misaligns columns
    // whenever an id is not already leftmost.
    // The batch keys are unique after the dedup, and a left-anti join
    // ignores duplicate keys anyway, so the key side needs no aggregate.
    t.join(b.select(ids.map(col): _*), ids, "left_anti")
      .select(schema.map { case (n, _) => col(n) }: _*)
      .union(b)
  }

  /**
   * PARTIAL-update upsert — the merge variant where a batch NULL means
   * "keep the target's value" instead of "overwrite with NULL" (Delta's
   * `whenMatchedUpdate(set = coalesce(src.c, tgt.c))` pattern; what CDC
   * feeds with sparse column images and enrichment pipelines that patch
   * one column need — [[upsert]]'s update-ALL would erase every column
   * the batch didn't carry).
   *
   * Shape: ONE full-outer join on the ids (the scd2Merge discipline —
   * never an anti-join + re-join per column); per data column the output
   * is target-only → old value, batch-only → batch value, matched →
   * coalesce(batch, old). Batch keys are deduplicated first by
   * [[StageTransform.dedupLatest]] (latest by `recency`, ties to the max
   * over the other columns — same rule as [[upsert]]), so a replayed batch
   * merges to the identical table:
   * matched coalesce is idempotent because the second pass coalesces the
   * already-patched values with an equal batch image.
   *
   * Null-KEYED rows never match a full-outer using-join: both sides'
   * null-key rows pass through as inserts/keeps — same keep-don't-delete
   * stance as [[upsert]], documented rather than silent. Schema evolves
   * like [[upsert]] (new batch columns join the output, nulls backfill).
   */
  def upsertPartial(target: DataFrame, batch: DataFrame, ids: Seq[String],
      recency: Seq[String] = Nil): DataFrame = {
    val (schema, t, b) = aligned(target, batch, ids, recency)
    val dataCols = schema.map(_._1).filterNot(ids.contains)
    val bren = b.select(
      ids.map(col) ++ dataCols.map(c => col(c).as(s"__b_$c")) :+
        lit(1).as("__b"): _*)
    t.withColumn("__t", lit(1))
      .join(bren, ids, "full_outer")
      .select(schema.map { case (n, _) =>
        if (ids.contains(n)) col(n)
        else when(col("__t").isNull, col(s"__b_$n"))
          .when(col("__b").isNull, col(n))
          .otherwise(coalesce(col(s"__b_$n"), col(n))).as(n)
      }: _*)
  }

  /** SCD-2 history merge (beyond the reference's SCD-0/1 upsert): versioned
    * rows carry (valid_from, valid_to, is_current). For each batch key, a
    * differing current row is CLOSED (valid_to = `versionTs`, not current)
    * and the batch row inserted as the new current version; identical rows
    * are untouched; unseen keys insert as new current rows. History rows
    * pass through untouched. ONE full-outer join on the ids produces every
    * outcome: each joined row explodes to its closed and/or opened and/or
    * kept versions (0-2 output rows via an array + explode, all computed in
    * the same projection) — a single join shuffle per batch, and the
    * (key-deduplicated) batch is scanned once, where a left-join +
    * anti-join formulation re-computes the batch dedup per reference.
    * History is carried by union.
    * `versionTs` is an explicit caller-provided version label (a date
    * string), not wall clock — runs replay deterministically.
    *
    * Batch key-dedup is DETERMINISTIC (unlike the reference's bare
    * dropDuplicates): [[StageTransform.dedupLatest]] keeps the latest batch
    * row per key by `recency`, and a recency tie or a missing recency goes
    * to the max over the other columns. Either way a
    * checkpoint-replayed batch picks the SAME row as the first run — a
    * replay merges rows the table already carries and is a no-op, which is
    * what [[graft.streaming.StreamingIngest.scd2Sink]]'s at-least-once
    * convergence claim rests on.
    *
    * Schema evolves like [[upsert]]: new batch columns join the output
    * (nulls in pre-existing rows) instead of being dropped, and null-keyed
    * rows on either side are kept/inserted, never silently deleted.
    *
    * Returns the merged frame; write it with [[writeSwap]] (or via a
    * partition-pruned route when the table is partitioned on a stable
    * column, exactly as [[write]] does for SCD-1). */
  def scd2Merge(target: DataFrame, batch: DataFrame, ids: Seq[String],
      versionTs: String, recency: Seq[String] = Nil): DataFrame = {
    require(ids.nonEmpty, "merge requires at least one id column")
    val scdCols = Seq("valid_from", "valid_to", "is_current")
    require(scdCols.forall(target.columns.contains),
      s"SCD-2 target needs ${scdCols.mkString(", ")} columns")
    // Schema evolution, like [[upsert]]: batch columns ABSENT from the
    // target join the output schema (existing history/current rows read
    // them as typed nulls), and batch rows missing target data columns get
    // typed nulls — a CDC source adding a column must never lose data
    // silently. A genuinely new column differs (null <=> value is false)
    // on every key that carries it, so affected rows version as expected.
    val targetData = target.columns.filterNot(scdCols.contains).toSeq
    val bData = {
      val d = StageTransform.dedupLatest(batch, ids, recency)
      d.drop(scdCols.filter(d.columns.contains): _*)
    }
    val dataSchema = unionSchemaOf(target.select(targetData.map(col): _*), bData)
    val dataCols = dataSchema.map(_._1)
    val compareCols = dataCols.filterNot(ids.contains)
    val b = alignTo(bData, dataSchema)
    val extras = dataCols.filterNot(target.columns.contains)
    val fullSchema = target.schema.fields.toSeq
      .map(f => f.name -> f.dataType.sql) ++
      dataSchema.filter { case (n, _) => extras.contains(n) }
    val evolved = alignTo(target, fullSchema)
    val cur = evolved.filter(col("is_current"))
    val hist = evolved.filter(!col("is_current"))

    // Side presence via constant markers, NOT key nullability: a null-keyed
    // current or batch row never equi-joins, but it still owns its output
    // (kept / inserted) — testing `ids.head IS NOT NULL` would silently
    // delete null-keyed current rows and drop null-keyed batch rows.
    val hasC = col("c.__graft_present").isNotNull
    val hasB = col("b.__graft_present").isNotNull
    // change detection must not ORDER on unorderable types: a map-typed
    // column compares through its sorted entry array (canonical — map
    // iteration order is unspecified, entry SETS are what equality means)
    val typeOf = evolved.schema.fields.map(f => f.name -> f.dataType).toMap
    def comparable(side: String, c: String): Column = typeOf(c) match {
      case _: org.apache.spark.sql.types.MapType =>
        sort_array(map_entries(col(s"$side.$c")))
      case _ => col(s"$side.$c")
    }
    val differs = compareCols.map(c =>
        not(comparable("c", c) <=> comparable("b", c))).reduceOption(_ || _)
      .getOrElse(lit(false))
    val order = evolved.columns.toSeq
    // the three possible versions of a joined key, as same-shaped structs
    def mk(data: String => Column, vf: Column, vt: Column, ic: Column) = {
      val byName = (dataCols.map(c => c -> data(c)) ++ Seq(
        "valid_from" -> vf, "valid_to" -> vt, "is_current" -> ic)).toMap
      struct(order.map(c => byName(c).as(c)): _*)
    }
    val changed = hasC && hasB && differs
    val closedS = when(changed,
      mk(c => col(s"c.$c"), col("c.valid_from"), lit(versionTs), lit(false)))
    val keptS = when(hasC && !changed,
      mk(c => col(s"c.$c"), col("c.valid_from"), col("c.valid_to"),
        col("c.is_current")))
    val newS = when(hasB && (!hasC || differs),
      mk(c => col(s"b.$c"), lit(versionTs), lit(null).cast("string"),
        lit(true)))
    val merged = cur.withColumn("__graft_present", lit(1)).as("c")
      .join(b.withColumn("__graft_present", lit(1)).as("b"),
        ids.map(k => col(s"c.$k") === col(s"b.$k")).reduce(_ && _),
        "full_outer")
      .select(explode(filter(array(closedS, keptS, newS),
        r => r.isNotNull)).as("r"))
      .select(order.map(c => col(s"r.$c").as(c)): _*)
    hist.select(order.map(col): _*).union(merged)
  }

  /** Bootstrap an SCD-2 table from a plain batch: every row current as of
    * `versionTs`. */
  def scd2Bootstrap(batch: DataFrame, versionTs: String): DataFrame =
    batch.withColumn("valid_from", lit(versionTs))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))

  /** K5 — transactional window: delete `processperiod >= cutoff` from the
    * target, then merge (aje-stage-dms-load.py:488-495). `cutoffPeriod` is
    * yyyyMM as Int. Delete keeps null periods, matching Delta's
    * `delete(col >= x)` null semantics. The batch is deduplicated as in
    * [[upsert]]. */
  def transactionalWindowMerge(target: DataFrame, batch: DataFrame,
      ids: Seq[String], cutoffPeriod: Int,
      periodCol: String = "processperiod",
      recency: Seq[String] = Nil): DataFrame = {
    val kept = target.filter(
      col(periodCol).cast("int") < cutoffPeriod || col(periodCol).isNull)
    upsert(kept, batch, ids, recency)
  }

  /** Whole-table write: `df` goes to `<path>.__tmp` (never read and
    * overwrite the same files in one job), then [[publish]] swaps it in.
    * I/O: one write job over `df`; the driver lists the new version and
    * reads the footers of its files to count the rows written.
    *
    * Invariant: publish is crash-atomic. A crash or a failed attempt at any
    * point leaves either the complete old version or the complete new one,
    * and the next [[tableExists]] finishes or rolls back the swap. It is not
    * reader-isolated: a reader that lists `path` during the two renames can
    * find it missing. Tables that need concurrent readers use
    * [[SnapshotStore]] (versioned directories, pointer flip, vacuum). */
  def writeSwap(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Long =
    commit(df, path, partitionCols, Nil, Nil)._1

  /** The commit tail every write route ends in. `df` is written to
    * `path.__tmp`, partitioned on `partitionCols`. Each live file of
    * `carried` (relative to `path`) whose partition the write did not
    * produce is hard-linked into tmp, [[publish]] swaps tmp in, and the
    * rows written are those of the files not carried.
    *
    * With `ndvCols` (whole-table routes only: the frame must be the whole
    * table) it also returns each column's distinct count, observed inside
    * the write job (`Dataset.observe`, no extra job) with
    * `approx_count_distinct` at `spark.sql.statistics.ndv.maxError` — the
    * estimator and relative error `ANALYZE ... FOR COLUMNS` uses, so over
    * the same rows the value is ANALYZE's. Each call (each retry attempt)
    * uses a fresh Observation; metrics that have not arrived a minute after
    * the write give no counts (the catalog then falls back), never a hung
    * write. */
  private def commit(df: DataFrame, path: String, partitionCols: Seq[String],
      ndvCols: Seq[String], carried: Seq[String]): (Long, Map[String, Long]) = {
    val cols = ndvCols.filter(df.columns.contains)
    val obs = Observation()
    val rsd = df.sparkSession.conf.get("spark.sql.statistics.ndv.maxError").toDouble
    val ndv = cols.map(c => approx_count_distinct(col(c), rsd).as(c))
    val observed = if (cols.nonEmpty) df.observe(obs, ndv.head, ndv.tail: _*) else df
    val tmp = path + ".__tmp"
    val writer = observed.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp)
    val tmpRoot = Paths.get(tmp)
    lazy val written =
      ParquetFooters.partitions(ParquetFooters.dataFiles(tmp), partitionCols).keySet
    val links = carried.filterNot(rel => written(dirOf(rel)))
    for (rel <- links) {
      val dest = tmpRoot.resolve(rel)
      Files.createDirectories(dest.getParent)
      Files.createLink(dest, Paths.get(path).resolve(rel))
    }
    publish(tmp, path)
    val linked = links.toSet
    val rows = ParquetFooters.of(path).collect { case (rel, f) if !linked(rel) => f.rows }.sum
    val counts =
      if (cols.nonEmpty) scala.util.Try(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(1, "minute"))).toOption
      else None
    (rows, counts.fold(Map.empty[String, Long])(_.getValuesMap[Long](cols)))
  }

  /** The directory of a file path relative to a table, "" at its root. */
  private def dirOf(rel: String): String = rel.take(rel.lastIndexOf('/'))

  /** Test hook called as `(path, step)` after each filesystem step of
    * [[publish]]; a kill-point test throws from it. */
  @volatile private[graft] var publishHook: (String, Int) => Unit = (_, _) => ()

  /** The one swap every stage-table write ends in: rename the live `path`
    * to `path.__old`, rename the complete `tmp` to `path`, delete
    * `path.__old`. No step deletes live data before its replacement is in
    * place. */
  private def publish(tmp: String, path: String): Unit = {
    tableExists(path) // finish or roll back an earlier interrupted publish
    val (live, old) = (Paths.get(path), Paths.get(path + ".__old"))
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    publishHook(path, 1)
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    publishHook(path, 2)
    FileUtils.deleteDirectory(old.toFile)
    publishHook(path, 3)
  }

  /** The stage table at `path`. Its data schema is the union of the live
    * files' footer schemas ([[ParquetFooters]], cached, as
    * [[CatalogRegistry.registerStage]] reads it), so the read launches no
    * schema job and keeps a column only some files carry, where Spark's
    * inference samples one file; partition columns come from the directory
    * names. */
  private def readTable(spark: SparkSession, path: String): DataFrame = {
    val schema = ParquetFooters.unionSchema(ParquetFooters.of(path))
    require(schema.nonEmpty, s"no parquet data files under $path to read")
    spark.read.schema(schema).parquet(path)
  }

  /** Partition-pruned merge-and-swap (Delta file-pruning analog,
    * aje-stage-dms-load.py:482-495). Touched set = the batch's distinct
    * partition values plus any partitions matching `alsoTouched` (the
    * transactional-window delete range). Only those partitions are read —
    * the scan's PartitionFilters skip every other directory — merged via
    * `merge` and written partitioned to a tmp dir. The live data files of
    * every other partition are hard-linked into tmp unchanged (same files,
    * same bytes; no data is read), and [[publish]] swaps tmp in whole.
    * Touched partitions that end up EMPTY after the merge (a fully deleted
    * window period) are therefore gone, and a merge that empties every
    * partition leaves no table (see [[tableExists]]).
    *
    * I/O: data is read and written for the touched partitions only. The
    * partitions on disk come from the table's live-file listing
    * ([[ParquetFooters.partitions]]), never from a data scan; the driver
    * adds one link per carried-over file and one unlink per file of the
    * old version, and reads the footers of the files the merge wrote.
    *
    * The batch is evaluated once: it is held `MEMORY_AND_DISK` for the
    * write (unless the caller already cached it), so the touched-partition
    * probe and the merge both read that copy instead of re-running the
    * batch's plan (for a stage batch: CSV parse, DSL, dedup shuffle), and
    * it is released when the write ends, failed or not. The target's
    * schema comes from the footers (see [[readTable]]), so no other job
    * runs.
    *
    * Contract (the standard pruned-merge one): a row's partition values must
    * be stable under update — a key may not move between partitions, or its
    * stale copy in the old partition would survive unpruned. The reference's
    * stage tables satisfy this (partition = processperiod derived from the
    * row's own transaction date). Schema evolution applies to rewritten
    * partitions only; readers needing evolved columns across old partitions
    * should read with `mergeSchema`. */
  def prunedMergeWrite(spark: SparkSession, batch: DataFrame, path: String,
      partitionCols: Seq[String], alsoTouched: Option[Column],
      merge: (DataFrame, DataFrame) => DataFrame): Long = {
    val own = batch.storageLevel == StorageLevel.NONE
    if (own) batch.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pc = partitionCols.map(col)
      val target = readTable(spark, path)
      val batchVals = batch.select(pc: _*).distinct().collect()
      // Existing partition VALUES come from the live-file listing (O(files),
      // no data read), not from a `select(partCols).distinct()` data scan —
      // that enumerates one row per TABLE row, which at 100 TB is a
      // full-table pass just to learn ~10^3 partition values. The parsed
      // strings are cast to the target's partition types and every
      // predicate below evaluates over that tiny local frame; keeping the
      // on-disk relative path alongside the typed values is also how touched
      // directories are located — matching parsed leaf dirs, never
      // re-rendering values (Timestamp.toString and friends do not
      // round-trip Spark's write-side partition-path formatting).
      val dirCol = "__graft_dir"
      val files = ParquetFooters.dataFiles(path)
      val disk = ParquetFooters.partitions(files, partitionCols)
      val parsed = disk.toSeq.map { case (dir, vals) =>
        Row(dir +: vals.map(v =>
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v): _*)
      }
      val strSchema = org.apache.spark.sql.types.StructType(
        (dirCol +: partitionCols).map(c => org.apache.spark.sql.types
          .StructField(c, org.apache.spark.sql.types.StringType, true)))
      val typeOf = target.schema.fields.map(f => f.name -> f.dataType).toMap
      val diskDf = spark.createDataFrame(parsed.asJava, strSchema)
        .select(col(dirCol) +:
          partitionCols.map(c => col(c).cast(typeOf(c)).as(c)): _*)
      val extraVals =
        alsoTouched.toSeq.flatMap(p => diskDf.filter(p).select(pc: _*).collect())
      val touched = (batchVals ++ extraVals).map(_.toSeq).distinct.toSeq
      if (touched == Nil) return 0L

      // OR of per-partition equality conjunctions — the shape Spark's
      // partition pruning folds into PartitionFilters (directory-level skip)
      val pred = touched.map(vals =>
        partitionCols.zip(vals).map { case (c, v) =>
          if (v == null) col(c).isNull else col(c) === lit(v)
        }.reduce(_ && _)).reduce(_ || _)

      // Carried over = the files of every on-disk partition the touched
      // predicate does not select (a set difference: a NULL-valued
      // predicate keeps a directory rather than dropping it); the commit
      // also keeps out those the merge wrote anew.
      val touchedDirs = diskDf.filter(pred).select(dirCol).collect().map(_.getString(0)).toSet
      val carried = files.filter(f => disk.contains(dirOf(f)) && !touchedDirs(dirOf(f)))
      commit(merge(target.filter(pred), batch), path, partitionCols, Nil, carried)._1
    } finally if (own) batch.unpersist()
  }

  /** K7 — table maintenance. The reference's `vacuum(100)` + symlink manifest
    * (aje-stage-dms-load.py:520-522) are Delta bookkeeping with no parquet
    * analog; the part that matters at scale is SMALL-FILE COMPACTION: a
    * merge-heavy table accretes one file set per batch and scan task counts
    * balloon. Rewrites the table into `target` files. With `partitionCols`
    * the directory layout is PRESERVED (clustered on the partition columns
    * so each directory compacts to ~one file) — omitting them on a
    * partitioned table would silently flatten it and every downstream
    * partition-pruned scan and pruned merge would stop pruning. */
  def compact(spark: SparkSession, path: String, target: Int = 1,
      partitionCols: Seq[String] = Nil): Long = {
    // no partition columns: a round-robin repartition into `target` files
    writeSwap(readTable(spark, path)
      .repartition(target, partitionCols.map(col): _*), path, partitionCols)
  }

  /** I5 — retry combinator: 3 attempts, backoff attempt*60s in the reference
    * (aje-stage-dms-load.py:467-503); delay injectable for tests. */
  def withRetry[T](maxTries: Int = 3, sleepMs: Int => Long = _ * 60000L)(
      body: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    while (out == None) {
      try out = Some(body)
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= maxTries) throw e
          Thread.sleep(sleepMs(attempt))
      }
    }
    out.get
  }

  /** Full load-mode-routed write (reference flow aje-stage-dms-load.py:470-518
    * + transform_light.py:388-417). Throws NoDataToMigrateException after
    * bootstrapping an empty table, as the reference does (K6). An empty
    * unpartitioned bootstrap leaves a table of one empty file that carries
    * the schema, and the next batch merges into it; an empty partitioned
    * bootstrap writes no data file, so it leaves no table (see
    * [[tableExists]]) and the next batch bootstraps again.
    *
    * Each route evaluates the batch in only the executions it needs: the
    * whole-table routes in their one write, the pruned routes once into the
    * copy [[prunedMergeWrite]] holds for its probe and merge. The target's
    * schema, the row count and the emptiness check come from metadata
    * (footers and the write's own count), not from Spark jobs.
    *
    * Pruned-route gating: the pruned merge is only taken when a key provably
    * cannot move between partitions — otherwise a moved key's stale copy in
    * its old (unread) partition would survive, where the reference's Delta
    * MERGE matches on ids across the whole table. Provably safe cases,
    * auto-detected: every partition column is part of the merge ids (a moved
    * "key" is then by definition a different key), or the
    * transactional-window mode partitioned exactly on `processperiod` (the
    * reference's contract: the period is derived from the row's own immutable
    * transaction date, aje-stage-dms-load.py:488-495). Any other layout needs
    * the caller to assert the stability contract via `partitionStable = true`;
    * without it the merge falls back to the full `writeSwap`.
    *
    * `recency` is what the merges deduplicate the batch by (see [[upsert]]);
    * for a stage-transform batch pass the columns it was deduplicated by
    * ([[StageTransform.Result.recency]]), so the merge-side dedup reuses
    * the transform's partitioning and order. */
  def write(spark: SparkSession, batch: DataFrame, path: String, mode: LoadMode,
      ids: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
      cutoffPeriod: Int = 0, retrySleepMs: Int => Long = _ * 60000L,
      partitionStable: Boolean = false,
      recency: Seq[String] = Nil): MergeStats = {
    // K6 — a bootstrap writes through the overwrite route like any other
    // batch, and one that wrote no rows signals AFTER the retry loop (the
    // reference raises from the non-retried branch,
    // aje-stage-dms-load.py:512-518; inside a retry it would "succeed"
    // second time around against the just-bootstrapped empty table). The
    // write's own row count decides, so no job probes the batch first.
    val bootstrap = !tableExists(path)
    // One route per load mode: its name, merge function and the deleted
    // window (extra touched partitions: periods the batch has no
    // replacement rows for must still be emptied).
    type Merge = (DataFrame, DataFrame) => DataFrame
    val (name, merge, window) = mode match {
      case LoadMode.FullOverwrite => ("overwrite", None, None)
      case LoadMode.IncrementalMerge =>
        ("merge", Some[Merge](upsert(_, _, ids, recency)), None)
      case LoadMode.TransactionalWindowMerge(_) =>
        ("window-merge",
          Some[Merge](transactionalWindowMerge(_, _, ids, cutoffPeriod,
            recency = recency)),
          Some(col("processperiod").cast("int") >= cutoffPeriod))
    }
    val stable = partitionStable || partitionCols.forall(ids.contains) ||
      (window.isDefined && partitionCols == Seq("processperiod"))
    val pruned = partitionCols.nonEmpty && stable &&
      (!window.isDefined || partitionCols.contains("processperiod"))
    def swapStats(route: String, table: DataFrame): MergeStats = {
      val (rows, ndv) = commit(table, path, partitionCols, ids, Nil)
      MergeStats(route, rows, ndv)
    }
    val stats = withRetry(3, retrySleepMs) {
      (merge, tableExists(path)) match {
        case (Some(m), true) if pruned => MergeStats(s"$name-pruned",
          prunedMergeWrite(spark, batch, path, partitionCols, window, m))
        case (Some(m), true) => swapStats(name, m(readTable(spark, path), batch))
        case _ => swapStats("overwrite", batch)
      }
    }
    if (bootstrap && stats.rowsWritten == 0) throw new NoDataToMigrateException
    stats
  }
}
