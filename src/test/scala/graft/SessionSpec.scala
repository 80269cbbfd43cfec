package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session configuration: the suite runs under exactly the settings
  * the factory ships, the SQL surface arrives with the session (no
  * registration call), and no other code builds a session. */
class SessionSpec extends SparkSpec {

  test("the shared test session is the factory's session") {
    for ((k, v) <- GraftSession.settings)
      assert(spark.conf.get(k) == v, s"$k drifted from the factory")
    val row = spark.sql("""SELECT
        fn_transform('fn_transform_Concatenate(a,b)', 'string') AS t,
        fn_transform_concatenate(a, b) AS c,
        graft_rolling_hash(a) AS h,
        graft_now() IS NOT NULL AS n
      FROM VALUES ('x', 'y') AS v(a, b)""").collect().head
    assert(row.getString(0) == "x|y")
    assert(row.getString(1) == "x|y")
    assert(row.getLong(2) == 'x'.toLong)
    assert(row.getBoolean(3))
  }

  /** Scala comments and string literals, matched in one left-to-right
    * pass so comment markers inside a string stay code. */
  private val CommentOrString =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r

  private def code(src: String): String =
    CommentOrString.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) ""
      else java.util.regex.Matcher.quoteReplacement(m.matched))

  test("GraftSession is the only session builder in src/") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = Files.walk(Paths.get("src")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, "source tree not found from the working dir")
    val builders = files
      .filter(p => builder.findFirstIn(code(Files.readString(p))).isDefined)
      .map(_.getFileName.toString).toSet
    // ExtensionsSpec's bare builder tests the spark.sql.extensions door
    // for sessions a platform creates
    assert(builders == Set("GraftSession.scala", "ExtensionsSpec.scala"))
  }

  /** (file name, code without comments) of every source under src/main. */
  private lazy val mainSources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> code(Files.readString(p))).toSeq
    assert(files.size > 50, "source tree not found from the working dir")
    files
  }

  test("renames publish only in the write layer; one recursive delete") {
    val files = mainSources
    val movers = files.filter(_._2.contains("Files.move(")).map(_._1).toSet
    assert(movers.subsetOf(Set("MergeWriter.scala", "SnapshotStore.scala")),
      movers)
    // a helper named for recursive deletion, or the walk-then-delete-
    // deepest-first idiom: commons-io FileUtils is the one implementation
    val helper = """def\s+(?:rm|delete|remove)\w*(?:Recursive|Tree|Dir)\w*""".r
    val idiom = """(?s)walk\(.{0,200}?reverseOrder""".r
    val own = files.filter { case (_, src) =>
      helper.findFirstIn(src).isDefined || idiom.findFirstIn(src).isDefined
    }.map(_._1)
    assert(own.isEmpty, s"own recursive-delete helpers: $own")
  }

  test("catalog statistics and parquet footers have one home each") {
    val files = mainSources
    def holders(pattern: String): Set[String] =
      files.filter(f => pattern.r.findFirstIn(f._2).isDefined).map(_._1).toSet
    // full-scan ANALYZE, MSCK and hand-written statistics only in the
    // catalog layer, where the write-derived statistics step owns them
    for (p <- Seq("""ANALYZE\s+TABLE""", """MSCK\s+REPAIR""", "alterTableStats"))
      assert(holders(p).subsetOf(Set("CatalogRegistry.scala")), s"$p: ${holders(p)}")
    // one footer reader, shared by the writer and the catalog (its cache is
    // what keeps a warm day's footer reads to the new files)
    assert(holders("""ParquetFileReader\s*\.\s*open""") == Set("ParquetFooters.scala"))
  }

  test("the write layer lists a stage directory only through its layout owners") {
    val dir = Paths.get("src/main/scala/graft/write")
    val listers = Files.list(dir).iterator.asScala.toSeq
      .filter(p => """Files\s*\.\s*(?:walk|list)\s*\(""".r
        .findFirstIn(code(Files.readString(p))).isDefined)
      .map(_.getFileName.toString).toSet
    // ParquetFooters owns the live-file rule stage tables are read by, and
    // SnapshotStore its own versioned layout
    assert(listers.nonEmpty && listers.subsetOf(Set("ParquetFooters.scala", "SnapshotStore.scala")),
      listers)
  }

  test("the writer takes its metadata from footers and the write, not jobs") {
    val writer = mainSources.collect { case ("MergeWriter.scala", src) => src }
    assert(writer.size == 1, "MergeWriter.scala not found")
    // a schema-less parquet read launches a schema job; an emptiness probe
    // evaluates the batch once more before the write does
    assert("""read\s*\.\s*parquet\s*\(""".r.findFirstIn(writer.head).isEmpty)
    assert(!writer.head.contains(".isEmpty"))
  }
}
