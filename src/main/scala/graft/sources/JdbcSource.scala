package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import graft.incr.Incremental
import graft.meta.{EndpointConfig, TableConfig}

/**
 * S1/S2/S3 — JDBC push-down scan, Spark-native.
 *
 * The reference pushes a fully generated SQL string to the source via the
 * `query` option with `numPartitions=100, fetchsize=1000`
 * (load_with_query.py:152-168) and parallelizes incremental extraction with a
 * driver-side thread pool issuing per-range BETWEEN queries (:281-329).
 *
 * Spark-native replacement: ONE reader with `partitionColumn` / `lowerBound`
 * / `upperBound` / `numPartitions` — the executors issue the per-range
 * queries themselves, with no driver threads, and the partition count scales
 * with the cluster instead of a fixed thread knob. `numPartitions` on a bare
 * `query` read without bounds is a single source cursor, so the bounded form
 * is the scale path.
 *
 * No live databases exist in the test harness; this object builds the reader
 * (and its option map, unit-testable) — the rest of the engine consumes
 * ordinary DataFrames regardless of source.
 */
object JdbcSource {

  /** Dialect URL + driver (load_with_query.py:266-276). */
  def urlAndDriver(e: EndpointConfig): (String, String) = e.bdType match {
    case "oracle" =>
      (s"jdbc:oracle:thin:@${e.srcServerName}:${e.dbPortNumber}/${e.srcDbName}",
        "oracle.jdbc.driver.OracleDriver")
    case "mssql" =>
      (s"jdbc:sqlserver://${e.srcServerName}:${e.dbPortNumber};databaseName=${e.srcDbName}",
        "com.microsoft.sqlserver.jdbc.SQLServerDriver")
    case "mysql" =>
      (s"jdbc:mysql://${e.srcServerName}:${e.dbPortNumber}/${e.srcDbName}",
        "com.mysql.cj.jdbc.Driver")
    case other => throw new IllegalArgumentException(s"unknown BD_TYPE: $other")
  }

  /** Option map for a push-down query read (unit-testable without a DB). */
  def options(e: EndpointConfig, query: String, password: String,
      numPartitions: Int = 100, fetchSize: Int = 1000): Map[String, String] = {
    val (url, driver) = urlAndDriver(e)
    val base = Map(
      "url" -> url, "driver" -> driver,
      "user" -> e.srcDbUsername, "password" -> password,
      "numPartitions" -> numPartitions.toString,
      "fetchsize" -> fetchSize.toString,
      "query" -> query)
    if (e.bdType == "oracle")
      // S2 — session init (load_with_query.py:164-166)
      base ++ Map(
        "sessionInitStatement" ->
          "ALTER SESSION SET NLS_TIMESTAMP_FORMAT = 'YYYY-MM-DD HH24:MI:SS.FF'",
        "oracle.jdbc.mapDateToTimestamp" -> "true")
    else base
  }

  def read(spark: SparkSession, e: EndpointConfig, query: String,
      password: String): DataFrame =
    spark.read.format("jdbc").options(options(e, query, password)).load()

  /** Dialect-agnostic push-down read of a generated query against an
    * explicit JDBC URL — the reader construction shared by [[read]] and the
    * embedded-database integration tests (the harness has no Oracle/MSSQL/
    * MySQL, but Derby executes the same generated ANSI SQL). A bare `query`
    * read is ONE source cursor regardless of `numPartitions`; use
    * [[readPartitioned]] for the parallel form. */
  def readQuery(spark: SparkSession, url: String, driver: String,
      query: String, user: String = "", password: String = "",
      fetchSize: Int = 1000): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("query", query)
      .option("fetchsize", fetchSize.toString)
    val r2 = if (user.nonEmpty)
      r.option("user", user).option("password", password) else r
    r2.load()
  }

  /** Dialect-agnostic bounded-partition read: `dbtable` (a table name or a
    * `(subquery) alias`) split on `partitionColumn` over
    * [lowerBound, upperBound] into `numPartitions` executor-issued range
    * queries — the Spark-native form of the reference's driver thread-split
    * (S3, load_with_query.py:281-329). */
  def readPartitioned(spark: SparkSession, url: String, driver: String,
      dbtable: String, partitionColumn: String, lowerBound: String,
      upperBound: String, numPartitions: Int, user: String = "",
      password: String = "", fetchSize: Int = 1000): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", dbtable)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions.toString)
      .option("fetchsize", fetchSize.toString)
    val r2 = if (user.nonEmpty)
      r.option("user", user).option("password", password) else r
    r2.load()
  }

  /** Incremental read: Spark-partitioned on the watermark column over
    * [START_VALUE, END_VALUE] — the native form of the reference's
    * thread-split (S3). */
  def readIncremental(spark: SparkSession, e: EndpointConfig, t: TableConfig,
      password: String, numPartitions: Int = 100): DataFrame =
    spark.read.format("jdbc")
      .options(incrementalOptions(e, t, password, numPartitions)).load()

  /** Option map of [[readIncremental]]: the endpoint's [[options]] (dialect
    * URL and driver, credentials, fetch size and Oracle's session init, S2)
    * reading the generated query as `dbtable`, split on the first filter
    * column over [START_VALUE, END_VALUE]. */
  private[graft] def incrementalOptions(e: EndpointConfig, t: TableConfig,
      password: String, numPartitions: Int): Map[String, String] = {
    val query = Incremental.fullQuery(t.sourceSchema, t.sourceTable, t.columns,
      t.idColumn, t.joinExpr)
    (options(e, query, password, numPartitions) - "query") ++ Map(
      "dbtable" -> s"($query) src",
      "partitionColumn" -> t.filterColumn.split(",").head.trim,
      "lowerBound" -> t.startValue, "upperBound" -> t.endValue)
  }
}
