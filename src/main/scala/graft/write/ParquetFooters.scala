package graft.write

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * The parquet footers of a stage table's live data files — the one place
 * the library opens a footer. The writer sums their record counts and
 * reads its targets by their union schema, and the catalog derives its
 * statistics from them (Delta's per-file `stats` in
 * each add action, aje-stage-dms-load.py:470-518, read back from the
 * footers parquet already writes).
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

  /** Relative path -> footer of every live data file under `table` (names
    * starting with `_` or `.` are skipped at every level, as Spark's file
    * index and `calculateTotalSize` skip them). */
  def of(table: String): Map[String, Footer] = {
    val root = Paths.get(table).toAbsolutePath.normalize
    val key = root.toString
    val known = Option(cache.get(key)).getOrElse(Map.empty[String, Footer])
    val conf = new Configuration()
    val live = dataFiles(root).map { p =>
      val rel = root.relativize(p).toString
      val len = Files.size(p)
      rel -> known.get(rel).filter(_.length == len).getOrElse(read(p, len, conf))
    }.toMap
    if (live.isEmpty) cache.remove(key) else cache.put(key, live)
    live
  }

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

  private def dataFiles(root: JPath): Seq[JPath] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !root.relativize(p).iterator().asScala.exists(hidden))
        .toSeq
      finally s.close()
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
