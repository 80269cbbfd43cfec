package graft

import org.apache.spark.sql.SparkSession

/**
 * The library's front door and the only place a session is configured:
 * every entry point (Bench, Verify, Plans, the tools) and the test suite
 * build through [[create]], overriding only the master and the shuffle
 * partition count. The SQL surface (fn_transform_*, graft_* native
 * expressions) is installed by [[GraftExtensions]] when the session state
 * is built, so every session the factory returns can call it from SQL.
 *
 * Semantics notes:
 *  - `ansi.enabled=false`: the reference ran non-ANSI Spark 3 — malformed
 *    casts/arithmetic yield null, not runtime errors. The engine's own
 *    expressions are ANSI-safe (`try_cast`/`try_to_timestamp` where input
 *    can be dirty), but user-supplied bare-SQL transformations (the DSL's
 *    `expr()` fallthrough) inherit this reference behavior.
 *  - UTC session timezone; Lima wall-clock is applied explicitly where the
 *    reference pins it (fn_transform_Datetime, tz shift S5) — never
 *    implicitly via the session zone.
 *  - `legacy.parquet.nanosAsLong=true`: a TIMESTAMP(NANOS) parquet column
 *    loads as its raw long instead of failing the read; `EventLog.events`
 *    branches on the resolved type, so either encoding of the fixture works.
 *  - shuffle partitions default to 2x cores locally; on a cluster, set it
 *    (or rely on AQE coalescing, which is enabled) to match executor count.
 */
object GraftSession {

  /** Every conf the factory sets besides the master and the shuffle
    * partitions — the engine's one session configuration. */
  private[graft] val settings: Seq[(String, String)] = Seq(
    // a long-lived engine session compiles well over the default 100
    // generated classes; a thrashing codegen cache means big classes
    // (wide aggregates, merge projections) recompile on every execution
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // let AQE re-optimize (and coalesce) the materialization of
    // persisted plans: the default false pins a cached plan's output
    // partitioning, so persist-based pipelines (dedup shingle/signature
    // chains) materialized with un-coalesced shuffle.partitions-sized
    // shuffles (guide §2.2; measured −32% on q_dedup_bbit, flat
    // elsewhere). Scale-adaptive: AQE only coalesces below the
    // advisory partition size.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Build a session with the engine's settings and the SQL surface
    * installed. If a session is already active it is returned instead, with
    * the runtime settings applied; extensions only install when a session
    * is built, so such a session lacks the SQL surface unless it was built
    * with [[GraftExtensions]]. */
  def create(appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .withExtensions(new GraftExtensions)
    master.foreach(b.master)
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors * 2)
    b.config("spark.sql.shuffle.partitions", parts.toString)
    for ((k, v) <- settings) b.config(k, v)
    b.getOrCreate()
  }
}
