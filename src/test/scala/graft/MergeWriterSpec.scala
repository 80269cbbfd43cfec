package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.meta.{ColumnSpec, LoadMode}
import graft.pipeline.StageTransform
import graft.write.MergeWriter

class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_merge").toString + "/t"

  test("upsert: batch rows replace matches, new keys append, dups dropped") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val batch = Seq((2, "B"), (2, "B2"), (4, "d")).toDF("id", "v")
    val got = MergeWriter.upsert(target, batch, Seq("id"), recency = Seq("v"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    // recency desc on v => B2 wins the batch-internal dup deterministically
    assert(got == Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
  }

  test("upsertPartial: batch nulls keep old values, inserts stay sparse") {
    val target = Seq((1, Some("a"), Some(10)), (2, Some("b"), Some(20)))
      .toDF("id", "v", "n")
    val batch = Seq((1, None: Option[String], Some(11)), // patch n only
      (2, Some("B"), None: Option[Int]), // patch v only
      (3, Some("c"), None: Option[Int])) // insert, n stays null
      .toDF("id", "v", "n")
    val got = MergeWriter.upsertPartial(target, batch, Seq("id"))
      .orderBy("id").as[(Int, Option[String], Option[Int])]
      .collect().toSeq
    assert(got == Seq((1, Some("a"), Some(11)), (2, Some("B"), Some(20)),
      (3, Some("c"), None)))
    // replay idempotence: patching again with the same batch is a no-op
    val again = MergeWriter.upsertPartial(
      MergeWriter.upsertPartial(target, batch, Seq("id")), batch, Seq("id"))
      .orderBy("id").as[(Int, Option[String], Option[Int])]
      .collect().toSeq
    assert(again == got)
  }

  test("upsert and upsertPartial without recency keep the max over data " +
      "columns per batch key, under any shuffle partition count") {
    val target = Seq((1, "a", 1), (2, "b", 2)).toDF("id", "v", "n")
    // two images of key 1 (v decides) and of key 3 (v ties, n decides)
    val batch = Seq((1, "x", 5), (1, "y", 0), (3, "c", 9), (3, "c", 1))
      .toDF("id", "v", "n")
    val want = Set((1, "y", 0), (2, "b", 2), (3, "c", 9))
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 8); reversed <- Seq(false, true)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val b = if (reversed) batch.orderBy($"n".asc) else batch
      for ((name, merged) <- Seq(
          "upsert" -> MergeWriter.upsert(target, b, Seq("id")),
          "upsertPartial" -> MergeWriter.upsertPartial(target, b, Seq("id"))))
        assert(merged.as[(Int, String, Int)].collect().toSet == want,
          s"$name, $parts shuffle partitions")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("a recency tie keeps the max over the other columns in every " +
      "merge and in the stage transform, under any shuffle partition count") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // key 1: two images with equal recency (v decides); key 3: equal
    // recency and v (n decides); key 4: recency decides against the max
    val rows = Seq((1, t0, "a", 1), (1, t0, "b", 0), (3, t1, "c", 9),
      (3, t1, "c", 1), (4, t1, "a", 0), (4, t0, "z", 9))
    val target = Seq((1, t0, "old", 7), (2, t0, "keep", 2))
      .toDF("id", "ts", "v", "n")
    val want = Set((1, t0, "b", 0), (2, t0, "keep", 2), (3, t1, "c", 9),
      (4, t1, "a", 0))
    val specs = Seq(
      ColumnSpec("T", "id", 1, "int", "c_id", isId = true),
      ColumnSpec("T", "ts", 2, "timestamp", "c_ts", isFilterDate = true),
      ColumnSpec("T", "v", 3, "string", "c_v"),
      ColumnSpec("T", "n", 4, "int", "c_n"))
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 8); reversed <- Seq(false, true)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val b = (if (reversed) rows.reverse else rows).toDF("id", "ts", "v", "n")
      val ids = Seq("id")
      val recency = Seq("ts")
      val scd2 = MergeWriter.scd2Merge(MergeWriter.scd2Bootstrap(target, "t0"),
        b, ids, "t1", recency).filter($"is_current").drop(
        "valid_from", "valid_to", "is_current")
      val staged = StageTransform.run(b.toDF("c_id", "c_ts", "c_v", "c_n"),
        specs)
      assert(staged.recency == recency)
      for ((name, got, expected) <- Seq(
          ("upsert", MergeWriter.upsert(target, b, ids, recency), want),
          ("upsertPartial", MergeWriter.upsertPartial(target, b, ids, recency),
            want),
          ("scd2Merge", scd2, want),
          ("StageTransform.run", staged.df, want.filter(_._1 != 2))))
        assert(got.as[(Int, java.sql.Timestamp, String, Int)].collect().toSet ==
          expected, s"$name, $parts shuffle partitions, reversed = $reversed")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("upsert: schema evolution fills nulls on the old side") {
    val target = Seq((1, "a")).toDF("id", "v")
    val batch = Seq((2, "b", 9)).toDF("id", "v", "extra")
    val got = MergeWriter.upsert(target, batch, Seq("id"))
    assert(got.columns.toSeq == Seq("id", "v", "extra"))
    assert(got.filter($"id" === 1).select("extra").collect().head.isNullAt(0))
  }

  test("transactional window: recent periods deleted before merge, nulls kept") {
    val target = Seq((1, 202311, "old"), (2, 202401, "old"), (3, 202402, "old"))
      .toDF("id", "processperiod", "v")
      .union(Seq((9, null.asInstanceOf[Integer], "nullper"))
        .toDF("id", "processperiod", "v"))
    val batch = Seq((3, 202402, "new"), (5, 202402, "new"))
      .toDF("id", "processperiod", "v")
    val got = MergeWriter
      .transactionalWindowMerge(target, batch, Seq("id"), 202401)
      .select("id", "v").as[(Int, String)].collect().toSet
    // id=2 (202401) and old id=3 deleted by the window; null period survives
    assert(got == Set((1, "old"), (9, "nullper"), (3, "new"), (5, "new")))
  }

  test("write routes by LoadMode and round-trips through parquet swap") {
    val path = tmp()
    val t0 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val s1 = MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      retrySleepMs = _ => 0L)
    assert(s1.mode == "overwrite" && s1.rowsWritten == 2)
    val batch = Seq((2, "B"), (3, "c")).toDF("id", "v")
    val s2 = MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), retrySleepMs = _ => 0L)
    assert(s2.mode == "merge" && s2.rowsWritten == 3)
    val got = spark.read.parquet(path).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("merge is idempotent: merging the same batch twice == once") {
    val path = tmp()
    MergeWriter.write(spark, Seq((1, "a")).toDF("id", "v"), path,
      LoadMode.FullOverwrite, retrySleepMs = _ => 0L)
    val batch = Seq((1, "A"), (2, "b")).toDF("id", "v")
    MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), retrySleepMs = _ => 0L)
    MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), retrySleepMs = _ => 0L)
    val got = spark.read.parquet(path).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "A"), (2, "b")))
  }

  test("empty batch + no table: bootstrap then NoDataToMigrateException") {
    val path = tmp()
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    assertThrows[MergeWriter.NoDataToMigrateException](
      MergeWriter.write(spark, empty, path, LoadMode.FullOverwrite,
        retrySleepMs = _ => 0L))
    assert(spark.read.parquet(path).count() == 0) // empty table bootstrapped
  }

  // Files of a partition dir as name -> content bytes (ignoring _SUCCESS etc).
  private def partFiles(root: String, rel: String): Map[String, Seq[Byte]] = {
    val dir = new java.io.File(s"$root/$rel")
    dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
  }

  test("pruned merge rewrites only touched partitions, byte-identical rest") {
    val path = tmp()
    val t0 = Seq((1, "a", 10), (2, "b", 10), (3, "c", 20), (4, "d", 30))
      .toDF("id", "v", "p")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    val before10 = partFiles(path, "p=10")
    val before30 = partFiles(path, "p=30")
    // batch touches only p=20; p is not a merge id, so the pruned route
    // needs the caller-asserted stability contract
    val batch = Seq((3, "C", 20), (5, "e", 20)).toDF("id", "v", "p")
    val s = MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), partitionCols = Seq("p"), retrySleepMs = _ => 0L,
      partitionStable = true)
    assert(s.mode == "merge-pruned" && s.rowsWritten == 2)
    // untouched partitions: same files, same bytes (never rewritten)
    assert(partFiles(path, "p=10") == before10)
    assert(partFiles(path, "p=30") == before30)
    val got = spark.read.parquet(path).select("id", "v")
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "b"), (3, "C"), (4, "d"), (5, "e")))
  }

  test("pruned window merge empties deleted periods with no batch rows") {
    val path = tmp()
    val t0 = Seq((1, "a", 202311), (2, "b", 202401), (3, "c", 202402))
      .toDF("id", "v", "processperiod")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("processperiod"), retrySleepMs = _ => 0L)
    val beforeOld = partFiles(path, "processperiod=202311")
    // window >= 202401 is deleted; batch only refills 202402
    val batch = Seq((3, "C", 202402), (5, "e", 202402))
      .toDF("id", "v", "processperiod")
    val s = MergeWriter.write(spark, batch, path,
      LoadMode.TransactionalWindowMerge(0), ids = Seq("id"),
      partitionCols = Seq("processperiod"), cutoffPeriod = 202401,
      retrySleepMs = _ => 0L)
    assert(s.mode == "window-merge-pruned" && s.rowsWritten == 2)
    assert(partFiles(path, "processperiod=202311") == beforeOld)
    // 202401 had no replacement rows: its directory must be GONE
    assert(!new java.io.File(s"$path/processperiod=202401").exists())
    val got = spark.read.parquet(path).select("id", "v")
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (3, "C"), (5, "e")))
  }

  test("pruned merge: null partition values and multi-column partitions") {
    val path = tmp()
    val t0 = Seq((1, "a", Integer.valueOf(10), "x"), (2, "b", null.asInstanceOf[Integer], "x"),
      (3, "c", Integer.valueOf(10), "y"))
      .toDF("id", "v", "p", "q")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("p", "q"), retrySleepMs = _ => 0L)
    val beforeUntouched = partFiles(path, "p=10/q=y")
    // batch touches (null, x) and (10, x): the HIVE default-partition dir
    // must swap correctly, the (10, y) leaf must not be opened
    val batch = Seq((2, "B", null.asInstanceOf[Integer], "x"),
      (4, "d", Integer.valueOf(10), "x"))
      .toDF("id", "v", "p", "q")
    val s = MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), partitionCols = Seq("p", "q"), retrySleepMs = _ => 0L,
      partitionStable = true)
    assert(s.mode == "merge-pruned" && s.rowsWritten == 3) // 1, 2, 4
    assert(partFiles(path, "p=10/q=y") == beforeUntouched)
    val got = spark.read.parquet(path).select("id", "v")
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "c"), (4, "d")))
  }

  test("unstable partitions fall back to full merge; moved keys deduplicate") {
    val path = tmp()
    val t0 = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "v", "p")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    // key 1 MOVES from p=10 to p=30: without the stability assertion the
    // write must take the unpruned route (Delta MERGE matches ids across the
    // whole table) so the stale p=10 copy cannot survive
    val batch = Seq((1, "A", 30)).toDF("id", "v", "p")
    val s = MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id"), partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    assert(s.mode == "merge")
    val got = spark.read.parquet(path).select("id", "v", "p")
      .as[(Int, String, Int)].collect().toSet
    assert(got == Set((1, "A", 30), (2, "b", 20)))
  }

  test("partition columns within the merge ids auto-route pruned") {
    val path = tmp()
    val t0 = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "v", "p")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    val before10 = partFiles(path, "p=10")
    // merge ids (id, p) contain partition col p: a "moved" key is a distinct
    // key by definition, so pruning is provably safe without any assertion
    val batch = Seq((2, "B", 20)).toDF("id", "v", "p")
    val s = MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge,
      ids = Seq("id", "p"), partitionCols = Seq("p"), retrySleepMs = _ => 0L)
    assert(s.mode == "merge-pruned" && s.rowsWritten == 1)
    assert(partFiles(path, "p=10") == before10)
  }

  test("emptied partition dirs located by parsed on-disk names, not toString") {
    import java.sql.Timestamp
    val path = tmp()
    // Timestamp partition values: Spark renders 'ts=2024-01-01 00%3A00%3A00'
    // on write, while Timestamp.toString gives '2024-01-01 00:00:00.0' — a
    // re-rendering lookup would miss the directory and strand stale rows
    val t0 = Seq((1, "a", Timestamp.valueOf("2024-01-01 00:00:00")),
      (2, "b", Timestamp.valueOf("2024-02-01 00:00:00"))).toDF("id", "v", "ts")
    MergeWriter.write(spark, t0, path, LoadMode.FullOverwrite,
      partitionCols = Seq("ts"), retrySleepMs = _ => 0L)
    val empty = Seq.empty[(Int, String, Timestamp)].toDF("id", "v", "ts")
    // touched = the january partition (via alsoTouched); merge deletes all
    // its rows, so the swap must REMOVE that directory
    val rows = MergeWriter.prunedMergeWrite(spark, empty, path, Seq("ts"),
      Some(col("ts") < lit("2024-02-01").cast("timestamp")),
      (t, b) => t.filter(lit(false)).union(b))
    assert(rows == 0L)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.size == 1 && dirs.head.startsWith("ts=2024-02-01"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("scd2: closes changed versions, keeps identical, inserts new") {
    import spark.implicits._
    val target = MergeWriter.scd2Bootstrap(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "2024-01-01")
    val batch = Seq((2L, "B"), (2L, "B"), (3L, "c")).toDF("id", "v") // dup ok
    val merged = MergeWriter.scd2Merge(target, batch, Seq("id"), "2024-02-01")
    val rows = merged
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, Option[String], Boolean)]
      .collect().toSet
    assert(rows === Set(
      (1L, "a", "2024-01-01", None, true),          // untouched
      (2L, "b", "2024-01-01", Some("2024-02-01"), false), // closed
      (2L, "B", "2024-02-01", None, true),          // new version
      (3L, "c", "2024-02-01", None, true)))         // new key
    // idempotence: identical re-merge changes nothing (even at a later ts)
    val again = MergeWriter.scd2Merge(merged, batch, Seq("id"), "2024-03-01")
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, Option[String], Boolean)]
      .collect().toSet
    assert(again === rows)
  }

  test("scd2: NEW batch columns evolve the schema instead of dropping") {
    import spark.implicits._
    val target = MergeWriter.scd2Bootstrap(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t0")
    // batch adds a column the target has never seen
    val batch = Seq((2L, "b", "eu"), (3L, "c", "us")).toDF("id", "v", "region")
    val merged = MergeWriter.scd2Merge(target, batch, Seq("id"), "t1")
    assert(merged.columns.contains("region"))
    val rows = merged
      .select("id", "v", "region", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Option[String], String, Option[String], Boolean)]
      .collect().toSet
    // key 1: untouched, region null; key 2: null -> "eu" differs, so the
    // old version closes and a new one opens carrying the region; key 3: new
    assert(rows === Set(
      (1L, "a", None, "t0", None, true),
      (2L, "b", None, "t0", Some("t1"), false),
      (2L, "b", Some("eu"), "t1", None, true),
      (3L, "c", Some("us"), "t1", None, true)))
    // re-merge with the same batch is a no-op (evolution is idempotent)
    val again = MergeWriter.scd2Merge(merged, batch, Seq("id"), "t2")
      .select("id", "v", "region", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Option[String], String, Option[String], Boolean)]
      .collect().toSet
    assert(again === rows)
  }

  test("scd2: null-keyed rows are kept/inserted, never silently deleted") {
    import spark.implicits._
    val target = MergeWriter.scd2Bootstrap(
      Seq((Some(1L), "a"), (None, "orphan")).toDF("id", "v"), "t0")
    val batch = Seq((Some(1L), "A"), (None, "stray")).toDF("id", "v")
    val rows = MergeWriter.scd2Merge(target, batch, Seq("id"), "t1")
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Option[Long], String, String, Option[String], Boolean)]
      .collect().toSet
    // null keys never equi-join: the current null-key row survives
    // unchanged and the batch null-key row inserts as its own version
    assert(rows === Set(
      (Some(1L), "a", "t0", Some("t1"), false),
      (Some(1L), "A", "t1", None, true),
      (None, "orphan", "t0", None, true),
      (None, "stray", "t1", None, true)))
  }

  test("compact preserves a partitioned layout and reduces files") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_pcompact").toString + "/t"
    val rows = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "F" else "O"))
      .toDF("id", "status")
    // simulate merge accretion: several multi-file writes per partition
    rows.repartition(8).write.partitionBy("status").mode("overwrite").parquet(path)
    def files(sub: String) = {
      val d = new java.io.File(s"$path/$sub")
      if (d.isDirectory) d.listFiles().count(_.getName.endsWith(".parquet"))
      else 0
    }
    assert(files("status=F") > 1 && files("status=O") > 1)
    MergeWriter.compact(spark, path, target = 4,
      partitionCols = Seq("status"))
    // layout survives, each partition collapses to one file, data intact
    assert(files("status=F") == 1 && files("status=O") == 1)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSet ===
      rows.as[(Long, String)].collect().toSet)
    val pruned = spark.read.parquet(path).filter(col("status") === "F")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("scd2: multi-row batch picks a deterministic winner") {
    import spark.implicits._
    val target = MergeWriter.scd2Bootstrap(
      Seq((1L, "a", 1L)).toDF("id", "v", "seq"), "t0")
    val batch = Seq((1L, "x", 5L), (1L, "y", 9L), (1L, "z", 2L))
      .toDF("id", "v", "seq")
    def currentV(df: org.apache.spark.sql.DataFrame): String =
      df.filter(col("is_current")).select("v").as[String].head()
    // recency: the latest batch row per key (seq=9) wins
    val withRecency = MergeWriter.scd2Merge(target, batch, Seq("id"), "t1",
      recency = Seq("seq"))
    assert(currentV(withRecency) == "y")
    // no recency: max over all data columns — (v, seq) desc — picks "z";
    // crucially the SAME row every run, so a replayed batch is a no-op
    val fallback = MergeWriter.scd2Merge(target, batch, Seq("id"), "t1")
    assert(currentV(fallback) == "z")
    val replay = MergeWriter.scd2Merge(fallback, batch, Seq("id"), "t2")
      .select("id", "v", "seq", "valid_from", "valid_to", "is_current")
      .collect().toSet
    assert(replay === fallback
      .select("id", "v", "seq", "valid_from", "valid_to", "is_current")
      .collect().toSet)
  }

  test("scd2: map-typed payload columns don't break the batch dedup") {
    import spark.implicits._
    val target = MergeWriter.scd2Bootstrap(
      Seq((1L, "a", Map("k" -> 1L))).toDF("id", "v", "props"), "t0")
    val batch = Seq((1L, "b", Map("k" -> 2L)), (2L, "c", Map.empty[String, Long]))
      .toDF("id", "v", "props")
    // maps can't order, so they are excluded from the tie-break — the merge
    // must still run and version correctly
    val merged = MergeWriter.scd2Merge(target, batch, Seq("id"), "t1")
      .select("id", "v", "is_current")
      .as[(Long, String, Boolean)].collect().toSet
    assert(merged === Set(
      (1L, "a", false), (1L, "b", true), (2L, "c", true)))
  }

  test("scd2: random batch sequence equals a driver-side reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def randBatch() = (1 to 12).flatMap(id =>
      if (rnd.nextBoolean()) Some((id.toLong, s"v${rnd.nextInt(3)}"))
      else None).toDF("id", "v")
    val versions = Seq("t1", "t2", "t3", "t4")
    val b0 = randBatch()

    // engine: bootstrap + 3 merges
    var table = MergeWriter.scd2Bootstrap(b0, versions.head)
    val batches = Seq(randBatch(), randBatch(), randBatch())
    batches.zip(versions.tail).foreach { case (b, ts) =>
      table = MergeWriter.scd2Merge(table, b, Seq("id"), ts)
    }
    val got = table
      .select("id", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, String, Option[String], Boolean)].collect().toSet

    // reference: a driver map of key -> list of (value, from, to)
    var cur = b0.as[(Long, String)].collect().toMap
    var from = cur.map { case (k, _) => k -> versions.head }
    var hist = List.empty[(Long, String, String, Option[String], Boolean)]
    batches.zip(versions.tail).foreach { case (b, ts) =>
      b.as[(Long, String)].collect().foreach { case (k, v) =>
        cur.get(k) match {
          case Some(old) if old != v =>
            hist ::= (k, old, from(k), Some(ts), false)
            cur += k -> v; from += k -> ts
          case Some(_) => ()
          case None => cur += k -> v; from += k -> ts
        }
      }
    }
    val want = hist.toSet ++
      cur.map { case (k, v) => (k, v, from(k), None, true) }
    assert(got === want)
    // structural invariants: one current row per live key, unique versions
    assert(got.count(_._5) === cur.size)
    assert(got.map(r => (r._1, r._3)).size === got.size)
  }

  test("retry combinator retries then succeeds") {
    var calls = 0
    val out = MergeWriter.withRetry(3, _ => 0L) {
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assertThrows[RuntimeException](MergeWriter.withRetry(2, _ => 0L) {
      throw new RuntimeException("always")
    })
  }
}
