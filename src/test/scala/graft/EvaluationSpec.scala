package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener
import graft.meta.{ColumnSpec, LoadMode, TableConfig}
import graft.pipeline.IngestOrchestrator
import graft.sources.RawZone
import graft.write.MergeWriter

/** One evaluation per table-day: every write route runs the raw batch's
  * plan only in the executions it needs, and takes the target's schema and
  * the emptiness check from metadata, not from Spark jobs. */
class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Every node of `p`, including the inner plans of adaptive query
    * stages and of cached relations. */
  private def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.innerChildren
    }
    p +: (p.children.asInstanceOf[Seq[QueryPlan[_]]] ++ inner).flatMap(nodes)
  }

  /** Rows the csv scans of `body`'s SQL executions output, each scan
    * counted once (a cached batch's scan appears in every execution that
    * reads the cache). */
  private def csvRowsScanned(body: => Unit): Long = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    SpecBus.drain(sc)
    spark.listenerManager.register(l)
    try { body; SpecBus.drain(sc) } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan)).collect {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
        val m = s.metrics("numOutputRows")
        m.id -> m.value
    }.toMap.values.sum
  }

  /** Jobs `body` started outside any SQL execution. */
  private def jobsOutsideSql(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null))
          n.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(l)
    try { body; SpecBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private val specs = Seq(
    ColumnSpec("T", "id", 1, "bigint", "c_id", isId = true),
    ColumnSpec("T", "v", 2, "string", "upper(c_v)"),
    ColumnSpec("T", "ts", 3, "timestamp", "c_ts", isFilterDate = true),
    ColumnSpec("T", "processperiod", 4, "int", "c_p", isPartition = true))

  /** One table per route after its bootstrap day. */
  private val tables = Seq(
    "overwrite" -> TableConfig("T", "ep", "s", "raw", "t_full"),
    "merge" -> TableConfig("T", "ep", "s", "raw", "t_merge",
      loadType = "incremental"),
    "merge-pruned" -> TableConfig("T", "ep", "s", "raw", "t_pruned",
      loadType = "incremental", partitionStable = true),
    "window-merge-pruned" -> TableConfig("T", "ep", "s", "raw", "t_window",
      loadType = "incremental", sourceTableType = "t"))

  /** Day `d`'s raw rows: 30 keys, five of them sent twice (the transform
    * keeps the later one), over three periods. */
  private def writeRaw(dir: String, d: Int): Long = {
    val keys = (d * 10 until d * 10 + 30) ++ (d * 10 until d * 10 + 5)
    val rows = keys.zipWithIndex.map { case (k, i) =>
      (k.toString, s"v$d-$i", f"2024-01-${1 + i % 28}%02d 00:00:00", (202401 + k % 3).toString)
    }
    rows.toDF("c_id", "c_v", "c_ts", "c_p").coalesce(2)
      .write.mode("overwrite").option("header", "true").csv(dir)
    rows.size.toLong
  }

  for ((route, table) <- tables)
    test(s"$route: each table-day scans its raw rows once, launching no job " +
        "outside a SQL execution") {
      val root = Files.createTempDirectory("graft_eval").toString
      val raw = s"$root/raw"
      val orch = new IngestOrchestrator(spark, s"$root/stage",
        readRaw = _ => RawZone.readRawCsv(spark, raw), specsFor = _ => specs,
        retrySleepMs = _ => 0L)
      for (d <- 0 to 2) {
        val n = writeRaw(raw, d)
        var status: graft.meta.RunStatus = null
        var outside = 0
        val scanned = csvRowsScanned {
          outside = jobsOutsideSql { status = orch.runTable(table) }
        }
        assert(status.status == "SUCCEEDED", status)
        // the merge route reads the batch twice inside its one write
        // execution (anti-join keys and union side)
        val reads = if (d > 0 && route == "merge") 2 else 1
        assert(scanned == reads * n, s"day $d: $scanned rows scanned for $n raw rows")
        if (d > 0) assert(outside == 0, s"day $d: $outside jobs outside SQL executions")
      }
    }

  test("a bootstrap of an empty batch writes the empty table, then throws") {
    val path = Files.createTempDirectory("graft_eval_empty").toString + "/t"
    val empty = Seq.empty[(Long, String, Int)].toDF("id", "v", "p")
    assertThrows[MergeWriter.NoDataToMigrateException](
      MergeWriter.write(spark, empty, path, LoadMode.IncrementalMerge,
        Seq("id"), retrySleepMs = _ => 0L))
    assert(MergeWriter.tableExists(path))
    assert(spark.read.parquet(path).columns.toSeq == Seq("id", "v", "p"))
    // the next, non-empty batch merges into it
    val s = MergeWriter.write(spark, Seq((1L, "a", 1)).toDF("id", "v", "p"), path,
      LoadMode.IncrementalMerge, Seq("id"), retrySleepMs = _ => 0L)
    assert(s.mode == "merge" && s.rowsWritten == 1)
  }

  test("a pruned merge keeps a column only some partitions' files carry") {
    val path = Files.createTempDirectory("graft_eval_evolve").toString + "/t"
    def write(batch: org.apache.spark.sql.DataFrame) =
      MergeWriter.write(spark, batch, path, LoadMode.IncrementalMerge, Seq("id"),
        Seq("p"), retrySleepMs = _ => 0L, partitionStable = true)
    write((1 to 6).map(i => (i.toLong, s"v$i", s"p$i")).toDF("id", "v", "p"))
    // partition p4 gains column x; the other five partitions' files lack
    // it, among them p1's, whose file comes first in path order
    assert(write(Seq((11L, "a", "p4", 7)).toDF("id", "v", "p", "x")).mode ==
      "merge-pruned")
    write(Seq((12L, "b", "p2")).toDF("id", "v", "p"))
    write(Seq((13L, "c", "p4")).toDF("id", "v", "p"))
    val got = spark.read.option("mergeSchema", "true").parquet(path)
      .select("id", "x").as[(Long, Option[Int])].collect().toMap
    assert(got == (1 to 6).map(_.toLong -> None).toMap ++
      Map(11L -> Some(7), 12L -> None, 13L -> None))
  }
}
