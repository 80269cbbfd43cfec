package graft

import java.nio.file.{Files, Paths}
import graft.meta.LoadMode
import graft.write.MergeWriter

/** Crash-atomic publish: a stage-table write killed after any filesystem
  * step of MergeWriter's publish leaves the previous or the new version
  * whole, and rerunning the write gives the table a crash-free run gives. */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  /** A process death: an Error, so `withRetry` (which retries Exceptions)
    * does not absorb it. */
  private final class Killed extends Error("killed")

  private type Rows = Set[(Int, String, Int)]

  private def tmp(): String =
    Files.createTempDirectory("graft_publish").toString + "/t"

  private def withHook[T](path: String)(hook: Int => Unit)(body: => T): T = {
    MergeWriter.publishHook = (p, step) => if (p == path) hook(step)
    try body finally MergeWriter.publishHook = (_, _) => ()
  }

  /** The table as a reader sees it after the existence check. */
  private def read(path: String): Rows = {
    assert(MergeWriter.tableExists(path))
    spark.read.parquet(path).select("id", "v", "processperiod")
      .as[(Int, String, Int)].collect().toSet
  }

  private def partitionDirs(path: String): Set[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  private def assertNoSwapLeftovers(path: String): Unit =
    for (suffix <- Seq(".__tmp", ".__old"))
      assert(!Files.exists(Paths.get(path + suffix)), s"$path$suffix left")

  private val t0 = Seq((1, "a", 202311), (2, "b", 202401), (3, "c", 202402))

  /** One route under test: how to bootstrap its table and the write the
    * kill points interrupt. */
  private final case class Route(mode: String, partitionCols: Seq[String],
      write: String => MergeWriter.MergeStats)

  private val unpartitionedMerge = Route("merge", Nil, path =>
    MergeWriter.write(spark,
      Seq((3, "C", 202402), (4, "d", 202403)).toDF("id", "v", "processperiod"),
      path, LoadMode.IncrementalMerge, ids = Seq("id"),
      retrySleepMs = _ => 0L))

  // the window >= 202401 is deleted: 202401 ends up empty, 202402 is
  // rewritten, 202403 is a brand-new period and 202311 is carried over
  private val prunedWindowMerge = Route("window-merge-pruned",
    Seq("processperiod"), path =>
      MergeWriter.write(spark,
        Seq((3, "C", 202402), (5, "e", 202403)).toDF("id", "v", "processperiod"),
        path, LoadMode.TransactionalWindowMerge(0), ids = Seq("id"),
        partitionCols = Seq("processperiod"), cutoffPeriod = 202401,
        retrySleepMs = _ => 0L))

  private def bootstrap(route: Route): String = {
    val path = tmp()
    MergeWriter.write(spark, t0.toDF("id", "v", "processperiod"), path,
      LoadMode.FullOverwrite, partitionCols = route.partitionCols,
      retrySleepMs = _ => 0L)
    path
  }

  for (route <- Seq(unpartitionedMerge, prunedWindowMerge); step <- 1 to 3)
    test(s"${route.mode}: killed after publish step $step, then rerun") {
      val clean = bootstrap(route)
      assert(route.write(clean).mode == route.mode)
      val want = read(clean)
      val path = bootstrap(route)
      val before = read(path)
      intercept[Killed](withHook(path)(s => if (s == step) throw new Killed) {
        route.write(path)
      })
      // before the second rename the old version is live, after it the new
      assert(read(path) == (if (step < 2) before else want))
      val rerun = route.write(path)
      assert(rerun.mode == route.mode)
      assert(read(path) == want)
      assert(partitionDirs(path) == partitionDirs(clean))
      assertNoSwapLeftovers(path)
    }

  test("a merge killed between the renames loses no committed rows") {
    val path = tmp()
    def day(ids: Seq[Int], mode: LoadMode) =
      MergeWriter.write(spark, ids.map(i => (i, s"v$i")).toDF("id", "v"),
        path, mode, ids = Seq("id"), retrySleepMs = _ => 0L)
    day(Seq(1, 2, 3), LoadMode.FullOverwrite)
    intercept[Killed](withHook(path)(s => if (s == 1) throw new Killed) {
      day(Seq(2), LoadMode.IncrementalMerge)
    })
    assert(day(Seq(4), LoadMode.IncrementalMerge).mode == "merge")
    assert(spark.read.parquet(path).select("id").as[Int].collect().toSet ==
      Set(1, 2, 3, 4))
    assertNoSwapLeftovers(path)
  }

  for (step <- 1 to 3)
    test(s"a publish failing once at step $step retries through the merge route") {
      val path = bootstrap(unpartitionedMerge)
      var failures = 0
      val stats = withHook(path) { s =>
        if (s == step && failures == 0) {
          failures += 1
          throw new java.io.IOException("transient")
        }
      }(unpartitionedMerge.write(path))
      assert(failures == 1 && stats.mode == "merge")
      assert(read(path) == Set((1, "a", 202311), (2, "b", 202401),
        (3, "C", 202402), (4, "d", 202403)))
      assertNoSwapLeftovers(path)
    }
}
