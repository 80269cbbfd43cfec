package graft.pipeline

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.functions.Transforms
import graft.meta.ColumnSpec

/**
 * The raw->stage transformation pipeline (reference:
 * artifacts/stage/jobs/aje-stage-dms-load.py:377-464 and
 * artifacts/stage/salesforce/jobs/transform_light.py:317-384):
 *
 *   read raw -> per-column DSL transform (with error quarantine)
 *            -> COLUMN_ID-order projection -> latest-row-per-key dedup.
 *
 * Scale notes (100 TB): every step here is a narrow projection except the
 * dedup, which shuffles once on the id columns — that is the minimum possible
 * (latest-per-key requires co-locating keys). All transforms compile to
 * built-in expressions, so they run inside WholeStageCodegen and column
 * pruning still reaches the scan. The stage output is never globally sorted:
 * the reference's final `orderBy` on the ORDER_BY columns is a full-sort
 * anti-pattern at scale and parquet output does not need a total order, so
 * `ColumnSpec.isOrderBy` is kept as metadata only.
 */
object StageTransform {

  /** `recency`: the filter-date columns the ids were deduplicated by
    * ([[dedupLatest]]), empty when the frame was not deduplicated. A
    * non-empty `recency` means the frame holds one row per id key. */
  final case class Result(df: DataFrame, quarantined: Seq[(String, String)],
      recency: Seq[String] = Nil) {
    def quarantinedColumns: Seq[String] = quarantined.map(_._1)
  }

  /** Apply every column spec in `COLUMN_ID` order; a failing column is
    * quarantined (recorded + excluded) and the run continues — mirroring
    * `column_transformation_controller` (aje-stage-dms-load.py:88-100,427-441).
    * Validation is eager (expression is resolved against the schema via a
    * cheap select on the analyzed plan), so bad specs fail here, not at the
    * first action. */
  def applySpecs(raw: DataFrame, specs: Seq[ColumnSpec]): Result = {
    val ordered = specs.sortBy(_.columnId)
    val bad = Seq.newBuilder[(String, String)]
    val df = ordered.foldLeft(raw) { (acc, spec) =>
      Try {
        val c = Transforms.column(spec.transformation, spec.newDataType)
        val out = acc.withColumn(spec.columnName.trim, c)
        out.schema // force analysis so unresolvable columns fail now
        out
      } match {
        case Success(next) => next
        case Failure(e) =>
          bad += spec.columnName -> e.getMessage
          acc
      }
    }
    Result(df, bad.result())
  }

  /** W1/W2 — the one latest-row-per-key rule of the ingest and merge code
    * (aje-stage-dms-load.py:443-456, and the dedup before its MERGE,
    * :483-485): per `ids` key keep the first row ordered by `recency`
    * descending, then by every other non-id column descending — so a
    * recency tie (or no recency at all) keeps the max over the remaining
    * columns, never an arbitrary survivor, and a replayed batch picks the
    * same row. The reference's bare `row_number` and the Salesforce job's
    * order-then-dropDuplicates (transform_light.py:394-395) are
    * nondeterministic on ties, a documented divergence.
    *
    * Map-typed columns (also inside structs and arrays) cannot be ordered
    * and take no part in the order; a frame with nothing to order by holds
    * only key columns, whose duplicates are identical, and falls back to
    * `dropDuplicates(ids)`. One shuffle on `ids`; a second call with the
    * same `ids` and `recency` over the output adds neither a sort nor an
    * exchange, because the window's partitioning and order carry through. */
  def dedupLatest(df: DataFrame, ids: Seq[String],
      recency: Seq[String]): DataFrame = {
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val rest = df.schema.fields.toSeq.collect {
      case f if !ids.contains(f.name) && !recency.contains(f.name) &&
        !hasMap(f.dataType) => f.name
    }
    val order = recency ++ rest
    if (order.isEmpty) df.dropDuplicates(ids)
    else {
      val w = Window.partitionBy(ids.map(col): _*)
        .orderBy(order.map(col(_).desc): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** Full pipeline for one table's specs over an already-read raw frame:
    * the live specs' columns in `COLUMN_ID` order (quarantined columns are
    * excluded, as in the reference, where they never join `columns_order`;
    * aje-stage-dms-load.py:459-464), then, when live id and filter-date
    * columns exist, [[dedupLatest]] over that projection — raw columns
    * never become sort keys. */
  def run(raw: DataFrame, specs: Seq[ColumnSpec]): Result = {
    val transformed = applySpecs(raw, specs)
    val live = specs.filterNot(s =>
      transformed.quarantinedColumns.contains(s.columnName))
    val projected = transformed.df.select(
      live.sortBy(_.columnId).map(s => col(s.columnName.trim)): _*)
    val ids = live.filter(_.isId).map(_.columnName)
    val recency =
      if (ids.isEmpty) Nil else live.filter(_.isFilterDate).map(_.columnName)
    val deduped =
      if (recency.isEmpty) projected else dedupLatest(projected, ids, recency)
    Result(deduped, transformed.quarantined, recency)
  }
}
