package graft

import java.nio.file.Files
import graft.meta.{ColumnSpec, LoadMode, TableConfig}
import graft.pipeline.IngestOrchestrator
import graft.write.{MergeWriter, ParquetFooters}

/** One owner of the stage-table layout: a table exists when it holds a
  * live data file, and its partitions are the directories of those files,
  * whatever markers the committer did or did not leave. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_layout").toString + "/t"

  private def rows(path: String): Set[(Long, String, Int)] =
    spark.read.parquet(path).select("id", "v", "p").as[(Long, String, Int)]
      .collect().toSet

  test("an empty partitioned bootstrap leaves no table; the next batch bootstraps") {
    val path = tmp()
    def write(batch: Seq[(Long, String, Int)]) =
      MergeWriter.write(spark, batch.toDF("id", "v", "p"), path,
        LoadMode.IncrementalMerge, Seq("id"), Seq("p"), retrySleepMs = _ => 0L)
    assertThrows[MergeWriter.NoDataToMigrateException](write(Nil))
    assert(!MergeWriter.tableExists(path))
    val s = write(Seq((1L, "a", 1)))
    assert(s.mode == "overwrite" && s.rowsWritten == 1)
    assert(rows(path) == Set((1L, "a", 1)))
  }

  test("a window merge that empties every period leaves no table; the next batch bootstraps") {
    val path = tmp()
    def write(batch: Seq[(Long, String, Int)], mode: LoadMode) =
      MergeWriter.write(spark, batch.toDF("id", "v", "p")
          .withColumnRenamed("p", "processperiod"), path, mode, Seq("id"),
        Seq("processperiod"), cutoffPeriod = 202401, retrySleepMs = _ => 0L)
    val window = LoadMode.TransactionalWindowMerge(0)
    write(Seq((1L, "a", 202401), (2L, "b", 202402)), LoadMode.FullOverwrite)
    assert(write(Nil, window).mode == "window-merge-pruned")
    assert(!MergeWriter.tableExists(path))
    val s = write(Seq((3L, "c", 202403)), window)
    assert(s.mode == "overwrite" && s.rowsWritten == 1)
    assert(spark.read.parquet(path).select("id", "v", "processperiod")
      .as[(Long, String, Int)].collect().toSet == Set((3L, "c", 202403)))
  }

  test("a partitioned table without _SUCCESS markers is merged, not overwritten") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val before = Option(conf.get(key))
    conf.set(key, "false")
    try {
      val path = tmp()
      def write(batch: Seq[(Long, String, Int)]) =
        MergeWriter.write(spark, batch.toDF("id", "v", "p"), path,
          LoadMode.IncrementalMerge, Seq("id"), Seq("p"),
          retrySleepMs = _ => 0L, partitionStable = true)
      assert(write(Seq((1L, "a", 1))).mode == "overwrite")
      assert(!Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
      val s = write(Seq((2L, "b", 2)))
      assert(s.mode == "merge-pruned" && s.rowsWritten == 1)
      assert(rows(path) == Set((1L, "a", 1), (2L, "b", 2)))
    } finally before.fold(conf.unset(key))(conf.set(key, _))
  }

  test("an orchestrated partitioned incremental table recovers from an empty first day") {
    val root = Files.createTempDirectory("graft_layout_orch").toString
    val specs = Seq(
      ColumnSpec("T", "id", 1, "bigint", "c_id", isId = true),
      ColumnSpec("T", "v", 2, "string", "c_v"),
      ColumnSpec("T", "p", 3, "int", "c_p", isPartition = true))
    var day: Seq[(String, String, String)] = Nil
    var sleeps = 0
    val orch = new IngestOrchestrator(spark, s"$root/stage",
      readRaw = _ => day.toDF("c_id", "c_v", "c_p"), specsFor = _ => specs,
      retrySleepMs = _ => { sleeps += 1; 0L })
    val table = TableConfig("T", "ep", "s", "raw", "t", loadType = "incremental")
    val day0 = orch.runTable(table)
    assert(day0.status == "WARNING", day0)
    day = Seq(("1", "a", "7"))
    val day1 = orch.runTable(table)
    assert(day1.status == "SUCCEEDED" && day1.rowsWritten == 1, day1)
    assert(sleeps == 0)
    assert(rows(s"$root/stage/t") == Set((1L, "a", 7)))
  }

  test("partitions come from the live files' directories, unescaped") {
    val files = Seq(
      "a=1/b=x%2Fy/part-0.parquet", "a=1/b=x%2Fy/part-1.parquet",
      "A=2/b=__HIVE_DEFAULT_PARTITION__/part-0.parquet",
      "part-0.parquet", "a=3/part-0.parquet", "a=4/c=5/part-0.parquet",
      "a=5/junk/part-0.parquet")
    assert(ParquetFooters.partitions(files, Seq("a", "b")) == Map(
      "a=1/b=x%2Fy" -> Seq("1", "x/y"),
      "A=2/b=__HIVE_DEFAULT_PARTITION__" -> Seq("2", "__HIVE_DEFAULT_PARTITION__")))
  }
}
