package graft.write

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * The live data files of a stage table and their parquet footers — the one
 * reader of a stage directory's layout and the one place the library opens
 * a footer. Whether a table exists, which partitions it holds and which
 * files a pruned merge carries over all come from the same live-file rule
 * ([[dataFiles]]). The writer sums the footers' record counts and reads its
 * targets by their union schema, and the catalog derives its statistics
 * from them (Delta's per-file `stats` in each add action,
 * aje-stage-dms-load.py:470-518, read back from the footers parquet already
 * writes).
 *
 * Footers are cached per table by relative path. Spark data file names
 * carry a per-job UUID, files are immutable, and a pruned merge carries
 * untouched partitions over as hard links under the same relative path, so
 * a warm day opens only the footers of the files its write created. Every
 * call replaces the table's entry with the live file set, which bounds the
 * cache by the live files; a cached footer is reused only while the file's
 * length is unchanged.
 */
private[graft] object ParquetFooters {

  /** Min and max (INT32/INT64 columns only, as Long) and null count of one
    * column over one file's row groups. */
  final case class Range(min: Option[Long], max: Option[Long], nulls: Long)

  /** One data file: its length, record count, Spark schema and the
    * [[Range]] of every top-level signed integer or date column whose
    * chunks all carry statistics. */
  final case class Footer(length: Long, rows: Long, schema: StructType,
      ranges: Map[String, Range])

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private val cache = new ConcurrentHashMap[String, Map[String, Footer]]()

  /** Relative path -> footer of every live data file under `table` (see
    * [[dataFiles]]). */
  def of(table: String): Map[String, Footer] = {
    val root = Paths.get(table).toAbsolutePath.normalize
    val key = root.toString
    val known = Option(cache.get(key)).getOrElse(Map.empty[String, Footer])
    val conf = new Configuration()
    val live = dataFiles(key).map { rel =>
      val p = root.resolve(rel)
      val len = Files.size(p)
      rel -> known.get(rel).filter(_.length == len).getOrElse(read(p, len, conf))
    }.toMap
    if (live.isEmpty) cache.remove(key) else cache.put(key, live)
    live
  }

  /** Relative paths of the live data files under `table`: regular files
    * with no path segment starting with `_` or `.`, as Spark's file index
    * and `calculateTotalSize` skip them. A directory holding only markers
    * (`_SUCCESS`) or checksums has none. */
  def dataFiles(table: String): Seq[String] = liveFiles(table, Long.MaxValue)

  /** Whether `table` holds a live data file; the walk stops at the first. */
  def hasData(table: String): Boolean = liveFiles(table, 1).nonEmpty

  /** The leaf partitions of a table partitioned on `names`, from the
    * relative paths of its live files: each file's parent directory
    * `names.length` levels deep whose segments are `name=value` with
    * `names` in order (case-insensitive, as Spark resolves them), mapped to
    * its unescaped values. Files elsewhere belong to no partition, as Spark's
    * partition discovery and `MSCK` skip them. The one parser of partition
    * path segments. */
  def partitions(files: Iterable[String], names: Seq[String]): Map[String, Seq[String]] =
    files.flatMap { rel =>
      val segs = rel.split('/').toSeq.dropRight(1)
      val kv = segs.map(_.split("=", 2)).collect { case Array(k, v) =>
        ExternalCatalogUtils.unescapePathName(k) -> ExternalCatalogUtils.unescapePathName(v)
      }
      if (kv.length == segs.length && kv.map(_._1).corresponds(names)(_.equalsIgnoreCase(_)))
        Some(segs.mkString("/") -> kv.map(_._2))
      else None
    }.toMap

  /** The union of the files' schemas, first appearance first (files in
    * path order). */
  def unionSchema(footers: Map[String, Footer]): StructType = {
    val first = scala.collection.mutable.LinkedHashMap[String, StructField]()
    for ((_, f) <- footers.toSeq.sortBy(_._1); field <- f.schema.fields)
      first.getOrElseUpdate(field.name.toLowerCase, field)
    StructType(first.values.toSeq)
  }

  private def hidden(p: JPath): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("_") || n.startsWith(".")
  }

  /** Relative paths of the first `limit` live data files under `table`, in
    * walk order. */
  private def liveFiles(table: String, limit: Long): List[String] = {
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).map(root.relativize(_))
        .filter(!_.iterator().asScala.exists(hidden))
        .limit(limit).iterator().asScala.map(_.toString).toList
      finally s.close()
    }
  }

  private def read(p: JPath, len: Long, conf: Configuration): Footer = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf))
    try {
      val meta = r.getFooter
      val fileMeta = meta.getFileMetaData
      val schema = Option(fileMeta.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter().convert(fileMeta.getSchema))
      val integral = fileMeta.getSchema.getFields.asScala
        .filter(f => f.isPrimitive && {
          val t = f.asPrimitiveType
          (t.getPrimitiveTypeName == INT32 || t.getPrimitiveTypeName == INT64) &&
          (t.getLogicalTypeAnnotation match {
            case null | _: DateLogicalTypeAnnotation => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
        }).map(_.getName).toSet
      val chunks = meta.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .filter(c => c.getPath.size == 1 && integral(c.getPath.toArray()(0)))
        .groupBy(_.getPath.toArray()(0))
      // a file with no row groups has no chunks: no values, no nulls
      val ranges = integral.flatMap { name =>
        val stats = chunks.getOrElse(name, Nil).map(_.getStatistics)
        if (stats.exists(s => s == null || !s.isNumNullsSet)) None
        else {
          val set = stats.filter(_.hasNonNullValue)
          def long(v: Any) = v.asInstanceOf[Number].longValue
          Some(name -> Range(set.map(s => long(s.genericGetMin)).minOption,
            set.map(s => long(s.genericGetMax)).maxOption,
            stats.map(_.getNumNulls).sum))
        }
      }.toMap
      Footer(len, r.getRecordCount, schema, ranges)
    } finally r.close()
  }
}
