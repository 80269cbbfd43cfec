package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.meta.LoadMode
import graft.write.{CatalogRegistry, MergeWriter}
import graft.write.CatalogRegistry.NdvSource

/** Catalog upkeep from the write: after every route's writes, registration
  * plus the statistics step equal what `MSCK` and `ANALYZE ... FOR COLUMNS`
  * leave, and on a warm day they launch no Spark job unless the distinct
  * count needs the `ANALYZE` fallback. */
class CatalogStatsSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext
  private def catalog = spark.sessionState.catalog

  private def tmp(): String =
    Files.createTempDirectory("graft_catstats").toString + "/t"

  /** `body`'s result and the Spark jobs it started, counted once the
    * listener bus has drained. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      SpecBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** The class names of the commands `body` executed. */
  private def commandsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe.logical.getClass.getSimpleName)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SpecBus.drain(sc)
    spark.listenerManager.register(l)
    try { body; SpecBus.drain(sc) } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def stats(db: String, table: String): CatalogStatistics =
    catalog.getTableMetadata(TableIdentifier(table, Some(db))).stats
      .getOrElse(fail(s"$db.$table has no statistics"))

  /** One route: its load mode, keys, partition column and daily batches
    * (day 0 bootstraps). Partition values derive from the key, so the
    * pruned routes' stability contract holds. Every batch carries a
    * null-keyed row. */
  private final case class Route(name: String, mode: LoadMode, ids: Seq[String],
      part: String, stable: Boolean, source: String, batch: Int => DataFrame)

  private val periods = Seq(202311, 202401, 202402, 202403)

  private def rows(d: Int, keys: Range): DataFrame =
    (keys.map(k => (Option(k.toLong), k % 2, s"v$d-$k", periods(k % 4), k % 3)) :+
      ((None: Option[Long]), 0, s"null-$d", 202402, 0))
      .toDF("id", "line", "v", "processperiod", "p")

  private val routes = Seq(
    Route("overwrite", LoadMode.FullOverwrite, Seq("id"), "p", stable = false,
      NdvSource.Observed, d => rows(d, d * 7 until d * 7 + 40)),
    Route("merge", LoadMode.IncrementalMerge, Seq("id"), "p", stable = false,
      NdvSource.Observed, d => rows(d, if (d == 0) 0 until 40 else d * 15 until d * 15 + 20)),
    Route("merge-pruned", LoadMode.IncrementalMerge, Seq("id"), "p", stable = true,
      NdvSource.UniqueKey, d => rows(d, if (d == 0) 0 until 40 else d * 15 until d * 15 + 20)),
    Route("window-merge-pruned", LoadMode.TransactionalWindowMerge(0), Seq("id"),
      "processperiod", stable = false, NdvSource.UniqueKey,
      d => rows(d, if (d == 0) 0 until 40 else d * 9 until d * 9 + 25)),
    Route("merge-pruned", LoadMode.IncrementalMerge, Seq("id", "line"), "p",
      stable = true, NdvSource.Analyze,
      d => rows(d, if (d == 0) 0 until 40 else d * 15 until d * 15 + 20)))

  for ((route, i) <- routes.zipWithIndex)
    test(s"${route.name} (${route.ids.mkString(",")}): statistics equal " +
        s"ANALYZE's, distinct counts by ${route.source}") {
      val db = s"graft_catstats_$i"
      val path = tmp()
      for (d <- 0 to 3) {
        val s = MergeWriter.write(spark, route.batch(d), path, route.mode,
          route.ids, Seq(route.part), cutoffPeriod = 202402,
          retrySleepMs = _ => 0L, partitionStable = route.stable)
        assert(s.mode == (if (d == 0) "overwrite" else route.name))
        val (source, jobs) = jobsDuring {
          CatalogRegistry.registerStage(spark, db, "t", path, Seq(route.part))
          CatalogRegistry.refreshStats(spark, db, "t", path, route.ids,
            s.distinctCounts, keyUnique = true)
        }
        // day 0 writes the whole table: its counts are always observed
        assert(source == (if (d == 0) NdvSource.Observed else route.source))
        if (d > 0 && source != NdvSource.Analyze)
          assert(jobs == 0, s"warm register + stats launched $jobs jobs")
        if (source == NdvSource.Analyze) assert(jobs > 0) // the count is live
      }
      // the same files under another name, ANALYZEd in full
      val copy = tmp()
      FileUtils.copyDirectory(new java.io.File(path), new java.io.File(copy))
      CatalogRegistry.registerStage(spark, db, "copy", copy, Seq(route.part))
      CatalogRegistry.analyzeStage(spark, db, "copy", route.ids)
      val (got, want) = (stats(db, "t"), stats(db, "copy"))
      val live = spark.table(s"$db.t")
      assert(got.rowCount == want.rowCount && got.rowCount.contains(live.count()))
      assert(got.sizeInBytes == want.sizeInBytes)
      for (id <- route.ids) {
        val (g, w) = (got.colStats(id), want.colStats(id))
        assert(g.copy(distinctCount = None) == w.copy(distinctCount = None), id)
        val exact = live.select(id).distinct().filter(s"$id IS NOT NULL").count()
        if (route.source == NdvSource.UniqueKey) {
          assert(g.distinctCount.contains(BigInt(exact)), id)
          val maxError = spark.conf.get("spark.sql.statistics.ndv.maxError").toDouble
          assert((w.distinctCount.get - exact).abs.toDouble <= maxError * exact, id)
        } else assert(g.distinctCount == w.distinctCount, id)
      }
      assert(got.colStats.keySet == route.ids.toSet)
    }

  /** Catalog partitions as `col=value` paths. */
  private def catalogDirs(db: String, table: String): Set[String] =
    catalog.listPartitions(TableIdentifier(table, Some(db)))
      .map(_.spec.map { case (k, v) => s"$k=$v" }.mkString("/")).toSet

  private def diskDirs(path: String): Set[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet

  private final class Killed extends Error("killed")

  test("a write killed after publish step 1, then rerun: the catalog " +
      "matches the disk, and a window merge's emptied period leaves it") {
    val db = "graft_catstats_crash"
    val path = tmp()
    def write(batch: Seq[(Long, String, Int)], mode: LoadMode, cutoff: Int = 0) =
      MergeWriter.write(spark, batch.toDF("id", "v", "processperiod"), path,
        mode, Seq("id"), Seq("processperiod"), cutoffPeriod = cutoff,
        retrySleepMs = _ => 0L)
    def killed(body: => Unit): Unit = {
      MergeWriter.publishHook = (p, step) => if (p == path && step == 1) throw new Killed
      try intercept[Killed](body) finally MergeWriter.publishHook = (_, _) => ()
    }
    def upkeep(s: MergeWriter.MergeStats): Unit = {
      CatalogRegistry.registerStage(spark, db, "t", path, Seq("processperiod"))
      assert(CatalogRegistry.refreshStats(spark, db, "t", path, Seq("id"),
        s.distinctCounts, keyUnique = true) != NdvSource.Analyze)
      assert(catalogDirs(db, "t") == diskDirs(path))
      assert(stats(db, "t").rowCount.contains(spark.table(s"$db.t").count()))
      assert(spark.table(s"$db.t").count() == spark.read.parquet(path).count())
    }
    val commands = commandsDuring {
      upkeep(write(Seq((1L, "a", 202311), (2L, "b", 202401), (3L, "c", 202402)),
        LoadMode.FullOverwrite))
      // a pruned merge adds period 202403 and rewrites 202402
      val batch = Seq((3L, "C", 202402), (4L, "d", 202403))
      killed(write(batch, LoadMode.TransactionalWindowMerge(0), cutoff = 202403))
      val s = write(batch, LoadMode.TransactionalWindowMerge(0), cutoff = 202403)
      assert(s.mode == "window-merge-pruned")
      upkeep(s)
      assert(catalogDirs(db, "t").contains("processperiod=202403"))
      // the window >= 202401 is deleted and 202401 gets no rows: it empties
      val window = Seq((3L, "C2", 202402), (5L, "e", 202403))
      killed(write(window, LoadMode.TransactionalWindowMerge(0), cutoff = 202401))
      upkeep(write(window, LoadMode.TransactionalWindowMerge(0), cutoff = 202401))
      assert(!catalogDirs(db, "t").contains("processperiod=202401"))
      assert(spark.table(s"$db.t").select("id").as[Long].collect().toSet ==
        Set(1L, 3L, 5L))
    }
    assert(!commands.exists(_.contains("Repair")), commands)
  }
}
