package graft.write

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Snapshot-committed tables: versioned directories with reader isolation,
 * tags and time travel.
 *
 * [[MergeWriter.writeSwap]]'s publish is crash-atomic but not
 * reader-isolated: a concurrent reader that lists the table during its two
 * renames can find it missing, and a long-running reader can have files
 * deleted under its footer cache. Here a writer never touches live data:
 *
 *  - data is written into a uniquely-named STAGING directory, then the
 *    whole directory is atomically RENAMED to `root/_v<N>/` — the rename is
 *    both the version claim (it fails if `_v<N>` exists) and the data
 *    publication, so a `_v` directory only ever exists COMPLETE. Version
 *    directories are immutable from birth;
 *  - the read point is ONE atomic rename of the tiny `root/_latest`
 *    pointer file — a reader resolving the pointer either sees version N
 *    or version N+1, never a mixture, with no reader-writer coordination;
 *    the flip is forward-only, so a slow committer can never move readers
 *    backwards in time;
 *  - concurrent writers serialize OPTIMISTICALLY on the rename: the loser
 *    re-plans against the new head (the same claim-by-atomic-create that
 *    Delta/Iceberg do on their log files). Because `_v` directories are
 *    complete by construction, a contender may treat an existing-but-not-
 *    yet-flipped `_v<head+1>` as the true head — an in-flight or crashed
 *    committer never blocks progress and its data is never half-read;
 *  - superseded snapshots stay on disk until [[vacuum]] — an in-flight
 *    reader of version N keeps working while N+1..N+k commit; vacuum with a
 *    retention of `keep` versions is the explicit, delayed destructor
 *    (Delta's VACUUM semantics).
 *
 * On cloud object stores, `_latest` maps to a conditional PUT (If-Match),
 * and the staging-rename claim maps to an If-None-Match create of a
 * manifest object listing the staged files. The layout and reader protocol
 * are unchanged — which is the point: the harness-local implementation and
 * a production one share every invariant, only the two atomic primitives
 * are swapped.
 */
object SnapshotStore {

  private def versionDir(root: JPath, v: Long) = root.resolve(f"_v$v%06d")
  private def pointer(root: JPath) = root.resolve("_latest")
  private val flipLock = new Object

  /** Latest committed version, None before the first commit. Reads the
    * pointer file only — O(1), no directory listing. */
  def currentVersion(root: String): Option[Long] = {
    val p = pointer(Paths.get(root))
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** The head a WRITER must build on: the pointer, advanced over any
    * complete-but-not-yet-flipped successor directories (an in-flight or
    * crashed committer's work — complete by the rename-publication
    * invariant). Readers keep using the pointer alone. */
  private def writerHead(rootP: JPath, root: String): Option[Long] = {
    var head = currentVersion(root)
    while (Files.isDirectory(versionDir(rootP, head.getOrElse(-1L) + 1L)))
      head = Some(head.getOrElse(-1L) + 1L)
    head
  }

  /** Write `df` under a unique staging name inside `root`; returns the
    * staging path. Staging dirs are invisible to readers and writers (only
    * `_v`-named dirs participate in the protocol). */
  private def writeStaging(df: DataFrame, rootP: JPath,
      partitionCols: Seq[String]): JPath = {
    val staging = rootP.resolve(s".staging-${java.util.UUID.randomUUID}")
    val writer = df.write.mode(SaveMode.Append) // fresh dir: nothing to clash
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(staging.toString)
    staging
  }

  /** Atomically claim version `v` with the staged data; true on success. */
  private def claim(staging: JPath, rootP: JPath, v: Long): Boolean = {
    val dest = versionDir(rootP, v)
    try {
      Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      // rename onto an existing dir surfaces as FileAlreadyExists or a
      // generic FileSystemException ("Directory not empty" on Linux) — a
      // lost claim iff the destination exists; anything else is a real
      // I/O failure and propagates
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.nio.file.FileSystemException
          if Files.exists(dest) => false
    }
  }

  /** Forward-only pointer flip. The read-compare-rename is guarded by TWO
    * locks: the JVM `flipLock` serializes threads of this process (and
    * keeps `FileChannel.lock` from throwing OverlappingFileLockException),
    * and an OS-level file lock on `_latest.lock` serializes OTHER writer
    * processes — without it a slower committer in a second JVM could
    * overwrite `_latest` with a lower version and move readers backwards.
    * On an object store this whole method is one conditional PUT (If-Match
    * on the pointer). */
  private def flip(rootP: JPath, root: String, v: Long): Unit = {
    val tmp = rootP.resolve(s"_latest.__tmp$v")
    Files.writeString(tmp, v.toString)
    flipLock.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        rootP.resolve("_latest.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock()
        try {
          if (currentVersion(root).forall(_ < v))
            Files.move(tmp, pointer(rootP), StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else Files.delete(tmp) // superseded: the version stays readable
        } finally osLock.release()
      } finally ch.close()
    }
  }

  /** Commit `df` as the next version of the table at `root` (whole-table
    * REPLACEMENT semantics); returns the committed version. The data is
    * written ONCE; only the (cheap) rename retries when a concurrent
    * writer takes the version. */
  def commit(df: DataFrame, root: String,
      partitionCols: Seq[String] = Nil, maxRaceRetries: Int = 1000): Long = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val staging = writeStaging(df, rootP, partitionCols)
    var tryV = writerHead(rootP, root).getOrElse(-1L) + 1L
    var attempt = 0
    while (attempt <= maxRaceRetries) {
      if (claim(staging, rootP, tryV)) {
        flip(rootP, root, tryV)
        return tryV
      }
      attempt += 1
      tryV = math.max(writerHead(rootP, root).getOrElse(-1L), tryV) + 1L
    }
    throw new IllegalStateException(
      s"snapshot claim raced $maxRaceRetries times at $root")
  }

  /** The CURRENT snapshot as a DataFrame. The returned plan reads the
    * version that was latest at call time; later commits do not change it
    * (snapshot isolation for the reader's lifetime, provided vacuum
    * retention outlives the read). */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))

  /** Time travel: read a specific committed version. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(versionDir(Paths.get(root), version).toString)

  /**
   * Change-data feed between two committed versions: the keyed diff
   * from -> to, classified `insert` / `update` / `delete` — the
   * `table_changes` read of Delta's CDF, re-derived from immutable
   * snapshots as ONE full-outer join on the key columns (one shuffle per
   * side, AQE free to broadcast a small version). Presence is tracked by
   * the join sides themselves (payload structs carry a constant marker),
   * so all-NULL payloads diff correctly; payload equality is null-safe.
   * Rows carry the NEW image for insert/update and the OLD image for
   * delete. The diff covers the data columns COMMON to both versions — a
   * column existing in only one version is ignored rather than reported
   * as a phantom change on every row (callers diffing across a schema
   * migration should project explicitly). Unchanged rows are dropped.
   */
  def changesBetween(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changesBetween needs key columns")
    val oldV = readVersion(spark, root, fromVersion)
    val newV = readVersion(spark, root, toVersion)
    Seq(oldV, newV).foreach { v =>
      val missing = keys.filterNot(v.columns.contains)
      require(missing.isEmpty, s"version missing key columns: $missing")
    }
    val dataCols = oldV.columns.filterNot(keys.contains)
      .filter(newV.columns.contains).toSeq
    def side(df: DataFrame, name: String) = df.select(
      keys.map(col) :+ struct(lit(1).as("_present") +:
        dataCols.map(col): _*).as(name): _*)
    side(oldV, "_old").join(side(newV, "_new"), keys, "full_outer")
      .withColumn("change_op",
        when(col("_old").isNull, lit("insert"))
          .when(col("_new").isNull, lit("delete"))
          .when(!(col("_new") <=> col("_old")), lit("update")))
      .filter(col("change_op").isNotNull)
      .select(keys.map(col) ++ Seq(col("change_op")) ++ dataCols.map(c =>
        when(col("change_op") === "delete", col(s"_old.$c"))
          .otherwise(col(s"_new.$c")).as(c)): _*)
  }

  /** Read-modify-commit with OPTIMISTIC CONCURRENCY CONTROL: apply `merge`
    * to the current snapshot (None before the first commit) and commit the
    * result as the next version. Two concurrent merges both reading version
    * N would otherwise silently drop one another's changes (the lost
    * update); here a writer claims EXACTLY head+1 for the head its plan
    * read — no skip-forward — so a racing commit makes the claim FAIL and
    * the merge re-plans against the new head (including any complete-but-
    * unflipped version an in-flight committer has already published).
    * This is Delta/Iceberg's commit-conflict retry, with rename atomicity
    * standing in for the log append. Serializable across concurrent
    * commitMerge writers; a concurrent plain [[commit]] is whole-table
    * replacement and wins by its own semantics. Each lost race costs one
    * re-planned write — the OCC price; `maxConflictRetries` bounds it. */
  def commitMerge(spark: SparkSession, root: String,
      merge: Option[DataFrame] => DataFrame,
      partitionCols: Seq[String] = Nil, maxConflictRetries: Int = 40): Long = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    var attempt = 0
    while (attempt <= maxConflictRetries) {
      val head = writerHead(rootP, root)
      val v = head.getOrElse(-1L) + 1L
      val merged = merge(head.map(h => readVersion(spark, root, h)))
      val staging = writeStaging(merged, rootP, partitionCols)
      if (claim(staging, rootP, v)) {
        flip(rootP, root, v)
        return v
      }
      // lost the race: this plan missed a commit
      FileUtils.deleteDirectory(staging.toFile)
      attempt += 1
    }
    throw new IllegalStateException(
      s"commitMerge lost $maxConflictRetries conflict races at $root")
  }

  /** Delete superseded snapshot directories, keeping the latest `keep`
    * versions, plus any abandoned staging directories. Returns the number
    * of versions removed. Run this with a retention that outlives the
    * longest reader (the same contract as Delta's VACUUM: the pointer flip
    * retires a version logically; vacuum is the physical delete,
    * deliberately decoupled) and with no writers in flight (staging dirs
    * belong to live commits until they are renamed or abandoned). */
  def vacuum(root: String, keep: Int = 2): Int = {
    require(keep >= 1, "must keep at least the current version")
    val rootP = Paths.get(root)
    val latest = currentVersion(root).getOrElse(return 0)
    val pinned = tags(root).values.toSet
    val victims = (0L to latest - keep)
      .filterNot(pinned)
      .map(versionDir(rootP, _)).filter(Files.isDirectory(_))
    victims.foreach(v => FileUtils.deleteDirectory(v.toFile))
    val s = Files.list(rootP)
    try s.filter(p => p.getFileName.toString.startsWith(".staging-"))
      .forEach(p => FileUtils.deleteDirectory(p.toFile))
    finally s.close()
    victims.size
  }

  /** Git-style IMMUTABLE tag: a named ref to a committed version (release
    * pins, eval-set freezes, "the corpus we trained v3 on"). A tag never
    * moves — re-tagging an existing name throws — and [[vacuum]] keeps
    * tagged versions regardless of retention, so a pinned corpus stays
    * readable for as long as its tag exists. Creation is write-tmp +
    * ATOMIC_MOVE without replace: two racers get one winner, one error —
    * never a torn or silently-overwritten ref. */
  def tag(root: String, name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name: $name")
    val rootP = Paths.get(root)
    require(Files.isDirectory(versionDir(rootP, version)),
      s"cannot tag missing version $version at $root")
    val tmp = rootP.resolve(s"_tag_$name.__tmp")
    Files.writeString(tmp, version.toString)
    // hard-link creation is atomic AND fails on an existing target (POSIX
    // link(2) EEXIST) — a plain ATOMIC_MOVE silently replaces on Linux,
    // which would let a racer overwrite a published ref
    try Files.createLink(rootP.resolve(s"_tag_$name"), tmp)
    catch { case e: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalStateException(s"tag '$name' already exists", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** All tags of the table: name -> version. */
  def tags(root: String): Map[String, Long] = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Map.empty
    val s = Files.list(rootP)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("_tag_") && !n.endsWith(".__tmp"))
        .map(n => n.stripPrefix("_tag_") ->
          Files.readString(rootP.resolve(n)).trim.toLong)
        .toMap
    } finally s.close()
  }

  /** Delete a tag (the version becomes vacuum-eligible again). */
  def untag(root: String, name: String): Boolean =
    Files.deleteIfExists(Paths.get(root).resolve(s"_tag_$name"))

  /** Read the version a tag pins. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))
    readVersion(spark, root, v)
  }

  /**
   * Apply a [[changesBetween]] change feed to the snapshot table at
   * `root` — CDC REPLICATION: a downstream replica consumes the upstream
   * feed instead of re-copying the table (at 100 TB the feed is the only
   * affordable transport). Deletes anti-join out, inserts/updates upsert
   * in, all inside ONE OCC [[commitMerge]] so a racing writer can't
   * interleave between the delete and the upsert. Applying the
   * `changesBetween(a, b)` feed to a replica at version-content `a`
   * reproduces version-content `b` exactly (pinned in the spec); empty
   * feeds still commit (an explicit replication checkpoint).
   */
  def applyChanges(spark: SparkSession, root: String, changes: DataFrame,
      keys: Seq[String], partitionCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "applyChanges needs key columns")
    require(changes.columns.contains("change_op"),
      "changes must carry a change_op column")
    val ups = changes.filter(col("change_op") =!= "delete").drop("change_op")
    val dels = changes.filter(col("change_op") === "delete")
      .select(keys.map(col): _*)
    commitMerge(spark, root, {
      case None => ups
      case Some(cur) =>
        graft.write.MergeWriter.upsert(
          cur.join(dels, keys, "left_anti"), ups, keys, Nil)
    }, partitionCols)
  }
}
