package graft.incr

import java.time.{LocalDate, LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Incremental-load planning — the reference system's "query optimizer"
 * (SURVEY.md §2.6): period-window derivation, watermark advance/clamping,
 * dialect-specific predicate rendering, and range splitting for parallel
 * extraction.
 *
 * Reference: artifacts/raw/general/glue/load_with_query.py:82-106 (windows),
 * :178-222 (predicates + dialect literals), :281-329 (range split);
 * artifacts/raw/general/lambda/UpdateLoadStartValue-*.py (watermarks).
 */
object Incremental {

  val LimaZone: ZoneId = ZoneId.of("America/Lima")
  val TsFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Python `date.toordinal()` = epochDay + 719163. */
  private val EpochOrdinal = 719163L

  def toOrdinal(d: LocalDate): Long = d.toEpochDay + EpochOrdinal
  def fromOrdinal(n: Long): LocalDate = LocalDate.ofEpochDay(n - EpochOrdinal)

  /** I2 — `get_limits_for_filter` (load_with_query.py:82-106): window of
    * `monthsBack` months ending at `now`, rendered per domain type:
    *  - aje_period          -> yyyyMM strings
    *  - aje_date / aje_processperiod -> proleptic ordinals, lower snapped to
    *    the 1st of its month... NB the reference does NOT snap the lower day
    *    for aje_period (plain strftime) but DOES snap both for ordinals
    *    (lower -> day 1, upper -> last day of month).
    * `monthsBack` is negative in the metadata (DELAY_INCREMENTAL_INI = -2). */
  def limitsForFilter(monthsBack: Int, dataType: String,
      now: LocalDateTime): (String, String) = {
    val upper = now
    val lower = now.minusMonths(-1L * monthsBack)
    dataType.trim match {
      case "aje_period" =>
        val f = DateTimeFormatter.ofPattern("yyyyMM")
        (lower.format(f), upper.format(f))
      case "aje_date" | "aje_processperiod" =>
        val lo = lower.toLocalDate.withDayOfMonth(1)
        val hi = upper.toLocalDate.withDayOfMonth(upper.toLocalDate.lengthOfMonth)
        (toOrdinal(lo).toString, toOrdinal(hi).toString)
      case _ =>
        val f = DateTimeFormatter.ofPattern("yyyyMM")
        (lower.format(f), upper.format(f))
    }
  }

  /** I1 — watermark clamp: a source MAX in the future is clamped to yesterday
    * 23:59:59 (UpdateLoadStartValue-ORACLE.py:27-37). */
  def clampWatermark(value: LocalDateTime, now: LocalDateTime): LocalDateTime =
    if (value.isAfter(now))
      now.toLocalDate.minusDays(1).atTime(23, 59, 59)
    else value

  /** A2/A3 — new END watermark from a frame: greatest of per-column maxes
    * with a null default (client-side GREATEST emulation of
    * UpdateLoadStartValue-MSSQL.py:148-169). */
  def maxWatermark(cols: Seq[String], default: String): Column =
    greatest(cols.map(c => coalesce(max(col(c)), lit(default))): _*)

  /** P3 — incremental window predicate as a Spark Column: comma-separated
    * filter columns, one clause per column, OR'd
    * (load_with_query.py:185-193). */
  def windowPredicate(filterColumn: String, start: Column, end: Column): Column = {
    val cols = filterColumn.split(",").map(_.trim).filter(_.nonEmpty)
    cols.map(c => col(c).isNotNull && col(c).between(start, end)).reduce(_ || _)
  }

  /** A4 — BIGINT-epoch watermark conversions (FILTER_TYPE='BIGINT' sources:
    * UpdateLoadStartValue-MySQL.py:164-166, reverse direction
    * CreateReplicationTaskForTable.py:97-101). */
  def timestampToEpoch(c: Column): Column = unix_timestamp(c)
  def epochToTimestamp(c: Column): Column = timestamp_seconds(c)

  /** P3 as pushed-down SQL text for JDBC `query` mode
    * (load_with_query.py:178-195): the same clauses as [[windowPredicate]],
    * parenthesized and OR'd when there are several columns. */
  def windowPredicateSql(filterColumn: String, start: String, end: String): String = {
    val cols = filterColumn.split(",").map(_.trim).filter(_.nonEmpty)
    if (cols.length >= 2)
      cols.map(c => s"($c IS NOT NULL and $c BETWEEN $start AND $end)")
        .mkString(" OR ")
    else
      s"${cols(0)} is not null and ${cols(0)} BETWEEN $start AND $end"
  }

  /** P5 — dialect date-literal rendering (`change_date_format`,
    * load_with_query.py:198-222). */
  def renderBound(value: String, filterType: String): String = filterType match {
    case "smalldatetime" => s"CONVERT(smalldatetime, '$value', 120)"
    case "DATE"          => s"TO_DATE('${value.take(19)}', 'YYYY-MM-DD HH24:MI:SS')"
    case "TIMESTAMP(6)"  => s"TO_TIMESTAMP('$value', 'YYYY-MM-DD HH24:MI:SS.FF')"
    case "SQL_DATETIME"  => s"CONVERT(DATETIME, '$value',  102)"
    case "BIGINT" =>
      LocalDateTime.parse(value.take(19), TsFmt)
        .atZone(ZoneId.of("UTC")).toEpochSecond.toString
    case _ => s"'$value'"
  }

  /** P4/P6 — full-load query generation (load_with_query.py:302-327):
    * `SELECT [id as id,] cols FROM schema.table [join] [WHERE exp AND col]`
    * with `{0}`/`{1}` templated period limits and `0=0` placeholders. */
  def fullQuery(sourceSchema: String, sourceTable: String, columns: String,
      idColumn: String = "", joinExpr: String = "", filterExp: String = "",
      filterColumn: String = "", filterOperator: String = "",
      limits: Option[(String, String)] = None): String = {
    val cols =
      if (idColumn.trim.nonEmpty) s"${idColumn.trim} as id,$columns" else columns
    var q = s"select $cols from $sourceSchema.$sourceTable ${joinExpr.trim}".trim + " "
    if (filterExp.trim.nonEmpty || filterColumn.trim.nonEmpty) {
      val fc =
        if (filterColumn.trim.nonEmpty && filterOperator == "between" && limits.nonEmpty)
          filterColumn.replace("{0}", limits.get._1).replace("{1}", limits.get._2)
        else "0=0"
      val fe = if (filterExp.trim.nonEmpty) filterExp else "0=0"
      q += s"where $fe AND $fc"
    }
    q.trim
  }

  /** S8 — DMS table-mapping source-filter analog
    * (CreateReplicationTaskForTable.py:96-112): FILTER_OPERATOR `between`
    * and `incremental-full` extract only the [START_VALUE, END_VALUE] window
    * on FILTER_COLUMN — `incremental-full` is a full PROCESS_TYPE downstream
    * but still a windowed extraction. FILTER_TYPE='BIGINT' converts both
    * timestamp bounds to epoch seconds first (:97-101). Every other operator
    * — notably `lte`, which the metadata uploader assigns to tables with no
    * full-load filter expression (upload-data-to-dynamo.py:41) — replicates
    * the FULL table (no `filters` key in the mapping). */
  def replicationFilterSql(filterOperator: String, filterColumn: String,
      startValue: String, endValue: String, filterType: String = ""): Option[String] =
    if (Set("between", "incremental-full").contains(filterOperator.trim)) {
      val (lo, hi) =
        if (filterType.trim == "BIGINT")
          (renderBound(startValue, "BIGINT"), renderBound(endValue, "BIGINT"))
        else (s"'$startValue'", s"'$endValue'")
      Some(s"${filterColumn.trim} BETWEEN $lo AND $hi")
    } else None

  /** S3 — split [start, end] into n equal sub-ranges. The reference runs one
    * driver thread per range (load_with_query.py:281-329); Spark-natively the
    * same split becomes a partitioned JDBC read (numPartitions + bounds) and
    * the executors parallelize it. */
  def splitRange(start: LocalDateTime, end: LocalDateTime, n: Int)
      : Seq[(LocalDateTime, LocalDateTime)] = {
    require(n > 0)
    val totalSec = java.time.Duration.between(start, end).getSeconds
    (0 until n).map { i =>
      (start.plusSeconds(totalSec * i / n), start.plusSeconds(totalSec * (i + 1) / n))
    }
  }

  /**
   * Changed-partition detection by ORDER-INDEPENDENT content fingerprints —
   * the incremental-maintenance primitive that lets a pipeline recompute
   * only the partitions a new source generation actually touched, instead
   * of diffing row-by-row (a full-outer join on the key space) or
   * rewriting everything.
   *
   * Per partition: row fingerprint = first 60 bits of md5 over the
   * '|'-joined string rendering of every non-partition column (nulls
   * rendered as a sentinel so (a,NULL) and (NULL,a) differ), summed in
   * DECIMAL(38,0) — addition is commutative, so the fingerprint is
   * independent of row order and of partial-aggregation schedule, and the
   * decimal sum cannot overflow (ANSI-safe). Each side is ONE
   * combine-enabled aggregate over its scan — 2 scans + a partition-count-
   * sized full-outer join, the minimum possible for content comparison.
   *
   * Output: (partition, n_base, n_current, status) with status in
   * {added, removed, changed, unchanged}. A 60-bit-per-row sum collision
   * is negligible (and would only ever mask, never invent, a change of
   * equal row count).
   */
  def changedPartitions(base: org.apache.spark.sql.DataFrame,
      current: org.apache.spark.sql.DataFrame,
      partCol: String): org.apache.spark.sql.DataFrame = {
    def fp(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.filter(_ != partCol).sorted
        .map(c => coalesce(col(c).cast("string"), lit("<NULL>")))
      df.groupBy(col(partCol).as("p"))
        .agg(count(lit(1)).as("n"),
          sum(conv(substring(md5(concat_ws("|", cols: _*).cast("binary")),
            1, 15), 16, 10).cast("decimal(38,0)")).as("fp"))
    }
    val b = fp(base)
    val c = fp(current)
      .select(col("p").as("cp"), col("n").as("cn"), col("fp").as("cfp"))
    b.join(c, b("p") === c("cp"), "full_outer")
      .select(coalesce(col("p"), col("cp")).as(partCol),
        coalesce(col("n"), lit(0L)).as("n_base"),
        coalesce(col("cn"), lit(0L)).as("n_current"),
        when(col("p").isNull, "added")
          .when(col("cp").isNull, "removed")
          .when(col("n") === col("cn") && col("fp") === col("cfp"),
            "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Watermark state store — replaces the DynamoDB START_VALUE/END_VALUE
    * writes (UpdateLoadStartValue-*.py) with a local properties file. */
  final class WatermarkStore(path: String) {
    private val props = new java.util.Properties()
    locally {
      val f = new java.io.File(path)
      if (f.exists()) {
        val in = new java.io.FileInputStream(f)
        try props.load(in) finally in.close()
      }
    }
    def get(table: String): Option[(String, String)] =
      (Option(props.getProperty(s"$table.start")),
        Option(props.getProperty(s"$table.end"))) match {
        case (Some(s), Some(e)) => Some((s, e))
        case _ => None
      }
    /** Advance: new START = old END, new END = given (I1). */
    def advance(table: String, newEnd: String): Unit = {
      get(table).foreach { case (_, oldEnd) =>
        props.setProperty(s"$table.start", oldEnd)
      }
      props.setProperty(s"$table.end", newEnd)
      save()
    }
    def put(table: String, start: String, end: String): Unit = {
      props.setProperty(s"$table.start", start)
      props.setProperty(s"$table.end", end)
      save()
    }
    private def save(): Unit = {
      val out = new java.io.FileOutputStream(path)
      try props.store(out, "graft watermarks") finally out.close()
    }
  }

  /** Nets a CDC changelog down to final row images: last-writer-wins per
    * key on a monotone sequence column, with `D` tombstones deleting the
    * key. This is the executable semantics of the reference's DMS CDC
    * apply path (S8 — artifacts/raw CDC load feeds the same merge the
    * incremental path uses): net the log FIRST, then hand one row per key
    * to [[graft.write.MergeWriter]], so the merge never replays
    * intermediate images. One per-key window, parallel by key — a key's
    * history within an apply window is small by CDC contract, so no hot
    * task. `seqCol` must totally order each key's history (ties would be
    * nondeterministic and are a malformed changelog). */
  def netChanges(log: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "netChanges needs at least one key column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn")
  }
}
