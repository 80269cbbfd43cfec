package graft.pipeline

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.functions.Transforms
import graft.meta.ColumnSpec

/**
 * The raw->stage transformation pipeline (reference:
 * artifacts/stage/jobs/aje-stage-dms-load.py:377-464 and
 * artifacts/stage/salesforce/jobs/transform_light.py:317-384):
 *
 *   read raw -> per-column DSL transform (with error quarantine)
 *            -> windowed latest-row dedup -> ordered projection.
 *
 * Scale notes (100 TB): every step here is a narrow projection except the
 * dedup, which shuffles once on the id columns — that is the minimum possible
 * (latest-per-key requires co-locating keys). All transforms compile to
 * built-in expressions, so they run inside WholeStageCodegen and column
 * pruning still reaches the scan. The final global `orderBy` of the reference
 * is a full-sort anti-pattern at scale; it is opt-in here (off by default) —
 * parquet output does not need a total order.
 */
object StageTransform {

  /** `keyUnique`: the frame holds one row per id key (the ids were
    * deduplicated by recency). */
  final case class Result(df: DataFrame, quarantined: Seq[(String, String)],
      keyUnique: Boolean = false) {
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

  /** W1 — keep the latest row per key by recency column(s)
    * (aje-stage-dms-load.py:443-456). `tieBreakers` columns (ascending) make
    * the result deterministic when recency ties — the reference's bare
    * `row_number` is nondeterministic on ties, a documented divergence (also
    * replaces the Salesforce job's order-then-dropDuplicates W2,
    * transform_light.py:394-395, which relies on unguaranteed ordering).
    *
    * One shuffle on `ids`; at scale prefer writing the stage table bucketed by
    * the same ids so repeated loads reuse the partitioning. */
  def dedupLatest(df: DataFrame, ids: Seq[String], recency: Seq[String],
      tieBreakers: Seq[String] = Nil): DataFrame = {
    if (recency.isEmpty) df
    else {
      val order: Seq[Column] =
        recency.map(col(_).desc) ++ tieBreakers.map(col(_).asc)
      val w = Window.partitionBy(ids.map(col): _*).orderBy(order: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** P1 — final projection in COLUMN_ID order, optional global sort
    * (aje-stage-dms-load.py:459-464). Quarantined columns are excluded, as in
    * the reference (they were never appended to `columns_order`). */
  def orderedProjection(df: DataFrame, specs: Seq[ColumnSpec],
      exclude: Seq[String] = Nil, globalSort: Boolean = false): DataFrame = {
    val keep = specs.filterNot(s => exclude.contains(s.columnName))
      .sortBy(_.columnId).map(s => col(s.columnName.trim))
    val projected = df.select(keep: _*)
    val orderCols = specs.filter(_.isOrderBy).map(s => col(s.columnName))
    if (globalSort && orderCols.nonEmpty) projected.orderBy(orderCols: _*)
    else projected
  }

  /** Full pipeline for one table's specs over an already-read raw frame. */
  def run(raw: DataFrame, specs: Seq[ColumnSpec],
      globalSort: Boolean = false): Result = {
    val transformed = applySpecs(raw, specs)
    val live = specs.filterNot(s =>
      transformed.quarantinedColumns.contains(s.columnName))
    val ids = live.filter(_.isId).map(_.columnName)
    val recency = live.filter(_.isFilterDate).map(_.columnName)
    val dedup = ids.nonEmpty && recency.nonEmpty
    val deduped =
      if (dedup) dedupLatest(transformed.df, ids, recency, ids)
      else transformed.df
    Result(orderedProjection(deduped, specs,
      transformed.quarantinedColumns, globalSort), transformed.quarantined, dedup)
  }

  /** S5 — shift every TimestampType column UTC->Lima (-5h), as the Salesforce
    * raw read does (extract_salesforce_to_raw.py:105-118). */
  def shiftTimestamps(df: DataFrame, hours: Int = -5): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampType).foldLeft(df) {
      (acc, f) =>
        acc.withColumn(f.name, col(f.name) + expr(s"INTERVAL $hours HOURS"))
    }
}
