package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.util.Try
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/**
 * Raw-zone CSV source/sink — S4/S5/S6 scans and K1/K2 sinks.
 *
 * The reference lands JDBC/AppFlow extracts as gzipped CSV with a header in a
 * date-partitioned "raw" prefix and reads them back with no explicit schema
 * (types arrive as strings; the authoritative output schema is applied later
 * by the per-column casts of the stage specs):
 *   - read:  aje-stage-dms-load.py:377, transform_light.py:317 (S4)
 *   - tz-shifted Salesforce landing read: extract_salesforce_to_raw.py:105-118 (S5)
 *   - empty-relation fallback on read failure: extract_salesforce_to_raw.py:114-118 (S6)
 *   - write: load_with_query.py:170 (K1 append), extract_salesforce_to_raw.py:167-177
 *     (K2 overwrite-or-create — here unconditional overwrite, same end state)
 *
 * Scale notes: the gzip codec is non-splittable, so ONE csv.gz object is one
 * task — parallelism at 100 TB comes from the extract writing MANY objects
 * per prefix (one per JDBC partition / per append batch), which is exactly
 * what the reference's append-accumulation produces. Reads stay a plain
 * distributed file scan; the dated-path convention gives partition pruning
 * by ingestion date for free.
 */
object RawZone {

  /** The raw-zone dated-path convention (K8):
    * `{root}/{project}/{bdType}/{endpoint}/{table}/{yyyy}/{MM}/{dd}/` with
    * zero-padded month/day and the mssql→sqlserver rename
    * (aje-stage-dms-load.py:368-374; MigrateData.py:60-83 incl.
    * `transform_date` padding; multi-word SOURCE_TABLE keeps its first
    * token). Ingestion-date pruning falls out of the layout: a reader that
    * targets one day's prefix never lists the rest of history. */
  def datedPath(root: String, project: String, bdType: String,
      endpoint: String, table: String, date: java.time.LocalDate): String = {
    val bt = if (bdType.trim == "mssql") "sqlserver" else bdType.trim
    val t = table.trim.split("\\s+").head
    f"$root/$project/$bt/$endpoint/$t/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d/"
  }

  /** S4 — CSV scan with header, schema-less (all strings), codec
    * auto-detected from the extension.
    *
    * The frame is the one `spark.read.option("header", "true").csv(path)`
    * returns, but the header is read on the driver instead of by Spark's
    * schema inference, which runs two SQL executions per read: the first
    * non-blank line of the first file in Spark's scan order (largest split
    * first, then listing order), parsed by Spark's own CSV parser settings
    * and `makeSafeHeader` (an empty name becomes `_c<i>`; duplicates, case
    * folded unless the session is case sensitive, get their index
    * appended). The scan then gets that all-string schema, so building the
    * frame launches no Spark job. With no file or no such line it is the
    * inferring call itself, errors included. */
  def readRawCsv(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    headerSchema(spark, path).fold(reader.csv(path))(reader.schema(_).csv(path))
  }

  /** The all-string schema [[readRawCsv]]'s header gives, if a first file
    * has a non-blank line. */
  private def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), sql.csvColumnPruning,
      sql.sessionLocalTimeZone)
    val codecs = new CompressionCodecFactory(conf)
    Try {
      val fs = new Path(path).getFileSystem(conf)
      val roots = Option(fs.globStatus(fs.makeQualified(new Path(path))))
        .fold(Seq.empty[Path])(_.toSeq.map(_.getPath))
      // the files the scan reads, in listing order, and the split size it
      // packs them by
      val files = new InMemoryFileIndex(spark, roots, Map.empty, None)
        .allFiles().filter(_.getLen > 0)
      val maxSplit = FilePartition.maxSplitBytes(spark,
        Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
      def firstSplit(f: FileStatus): Long = codecs.getCodec(f.getPath) match {
        case null | _: SplittableCompressionCodec => math.min(f.getLen, maxSplit)
        case _ => f.getLen
      }
      files.sortBy(-firstSplit(_)).headOption.flatMap { f =>
        val raw = fs.open(f.getPath)
        val lines = new BufferedReader(new InputStreamReader(
          Option(codecs.getCodec(f.getPath)).fold[InputStream](raw)(_.createInputStream(raw)),
          StandardCharsets.UTF_8))
        // blank as in Spark's `length(trim(value)) > 0` filter: spaces only
        try Iterator.continually(lines.readLine()).takeWhile(_ != null)
          .find(_.exists(_ != ' '))
        finally lines.close()
      }.flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
        .map(row => StructType(CSVUtils.makeSafeHeader(row, sql.caseSensitiveAnalysis,
          options).toSeq.map(StructField(_, StringType, nullable = true))))
    }.toOption.flatten
  }

  /** S6 — read with empty-relation fallback: a missing/corrupt prefix yields
    * an empty frame instead of failing the run. */
  def readRawCsvOrEmpty(spark: SparkSession, path: String): DataFrame =
    try {
      val df = readRawCsv(spark, path)
      df.schema // force analysis so missing paths fail here
      df
    } catch { case _: Exception => spark.emptyDataFrame }

  /** S5 — shift every TimestampType column by -`hours` (UTC -> Lima wall
    * clock in the reference, extract_salesforce_to_raw.py:105-118). One
    * projection of codegen'd column arithmetic, column order unchanged — no
    * extra pass over the data. */
  def shiftTimestamps(df: DataFrame, hours: Int = 5): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (f.dataType == TimestampType)
        (c - expr(s"INTERVAL $hours HOURS")).as(f.name)
      else c
    }: _*)

  /** K1/K2 — gzipped-CSV write with header. `overwrite=false` is the raw-zone
    * append accumulation (K1); `overwrite=true` collapses the reference's
    * "overwrite if .gz already present, else create" dance (K2) to its end
    * state.
    *
    * `targetFiles` shards the write: gzip is an UNSPLITTABLE codec, so each
    * .gz file is one task for every downstream reader — a single giant file
    * serializes the whole stage zone behind one core (and one gzip stream on
    * the write side). A compact parquet scan often arrives as one input
    * partition, so default to the session's parallelism rather than
    * inheriting it. */
  def writeRawCsv(df: DataFrame, path: String, overwrite: Boolean = false,
      targetFiles: Option[Int] = None): Unit = {
    val n = targetFiles.getOrElse(
      df.sparkSession.sparkContext.defaultParallelism)
    val sharded = if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
    sharded.write.mode(if (overwrite) "overwrite" else "append")
      .option("header", "true").option("compression", "gzip").csv(path)
  }

  /** JSONL (newline-delimited JSON) sink — the de-facto interchange format
    * of training-data pipelines. Left UNCOMPRESSED by default: plain JSONL
    * is line-splittable, so a 100 GB drop parallelizes across the cluster,
    * where a .gz file is one task (the writeRawCsv lesson). */
  def writeJsonl(df: DataFrame, path: String, overwrite: Boolean = false): Unit =
    df.write.mode(if (overwrite) "overwrite" else "append").json(path)

  /** JSONL scan with a DECLARED schema. Schema-less `read.json` runs a
    * full inference pass over the data before the real scan — twice the IO
    * at any scale; with the schema given, unprojected fields are never even
    * parsed (Jackson skips them token-wise). */
  def readJsonl(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.schema(schemaDdl).json(path)

  /** FIXED-WIDTH text write — the mainframe/legacy-feed layout (COBOL
    * copybook exports, bank settlement files): each column right-padded to
    * its declared width with spaces, one record per line, no delimiter.
    * Values longer than their field throw loudly (a silent truncation is a
    * corrupted feed). Strings-in/strings-out: callers render types first —
    * a fixed-width layout has no type system, only offsets. */
  def writeFixedWidth(df: DataFrame, path: String,
      widths: Seq[(String, Int)], overwrite: Boolean = false): Unit = {
    require(widths.nonEmpty, "fixed-width layout needs at least one field")
    val line = concat(widths.map { case (c, w) =>
      val s = col(c).cast("string")
      when(length(s) > w, raise_error(concat(lit(
        s"fixed-width overflow in '$c' (width $w): "), s)))
        .otherwise(rpad(s, w, " "))
    }: _*)
    df.select(line.as("value")).write
      .mode(if (overwrite) "overwrite" else "append").text(path)
  }

  /** Fixed-width scan: one `substring` per declared field off the line —
    * scan-stage projections, no regex, no tokenizer; trailing pad spaces
    * trimmed. The format is line-splittable, so a 100 TB feed parallelizes
    * like any text source. */
  def readFixedWidth(spark: SparkSession, path: String,
      widths: Seq[(String, Int)]): DataFrame = {
    require(widths.nonEmpty, "fixed-width layout needs at least one field")
    val offsets = widths.scanLeft(1) { case (o, (_, w)) => o + w }
    val cols = widths.zip(offsets).map { case ((c, w), off) =>
      rtrim(substring(col("value"), off, w)).as(c)
    }
    spark.read.text(path).select(cols: _*)
  }
}
