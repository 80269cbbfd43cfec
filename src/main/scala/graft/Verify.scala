package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(master = Some(s"local[$cpus]"),
      shufflePartitions = Some(cpus.toInt))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    var ran = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        ran += 1
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // Release persisted intermediates (pair pipelines persist posting
        // lists / signature tables; the handles are session-lived by
        // contract — see Dedup.materialized) so a 200-query dump doesn't
        // accumulate MEMORY_AND_DISK blocks across queries.
        spark.catalog.clearCache()
      }
    }
    // Loud summary on BOTH streams: a thrown query produces no parquet, and
    // without this line a regression reads as a silently shorter run.
    val summary =
      if (failed.isEmpty) s"[verify] OK: $ran/$ran queries dumped"
      else s"[verify] FAILED ${failed.size}/$ran: ${failed.mkString(", ")}"
    println(summary)
    if (failed.nonEmpty) System.err.println(summary)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
