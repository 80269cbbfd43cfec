package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.RawZone

/** RawZone (S4/S5/S6, K1/K2) + SQL FunctionRegistry surface. */
class SourcesSpec extends SparkSpec {

  test("csv.gz round trip: header kept, types stringly, append accumulates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rawzone").toString + "/t"
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    RawZone.writeRawCsv(a, dir, overwrite = true)
    val back1 = RawZone.readRawCsv(spark, dir)
    assert(back1.schema.fields.forall(_.dataType == StringType))
    assert(back1.count() == 2)
    // K1 append accumulates batches
    RawZone.writeRawCsv(Seq((3L, "z")).toDF("k", "v"), dir)
    assert(RawZone.readRawCsv(spark, dir).count() == 3)
    // files really are gzip
    val gz = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".gz"))
    assert(gz.nonEmpty)
  }

  /** `body`'s result and the Spark jobs and SQL executions it started,
    * counted once the listener bus has drained. */
  private def launched[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val (jobs, execs) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.SpecBus.drain(sc)
      (r, jobs.get, execs.get)
    } finally sc.removeSparkListener(l)
  }

  test("header read on the driver: Spark's inferred schema and rows, no job") {
    import java.nio.charset.StandardCharsets.UTF_8
    val root = java.nio.file.Files.createTempDirectory("rawheader")
    def put(dir: String, name: String, header: String, rows: Int): Unit = {
      val f = root.resolve(dir).resolve(name)
      java.nio.file.Files.createDirectories(f.getParent)
      val text = (header +: (1 to rows).map(i =>
        s"$i,n$i,N${i * 7},,\"q,$i\",${i % 3}")).mkString("", "\n", "\n")
      val out = java.nio.file.Files.newOutputStream(f)
      val sink = if (name.endsWith(".gz")) new java.util.zip.GZIPOutputStream(out) else out
      try sink.write(text.getBytes(UTF_8)) finally sink.close()
    }
    // a name duplicated exactly and up to case, an empty name and a quoted
    // name holding a comma; the other files' headers differ, so only the
    // first file in scan order can give this schema
    val header = "id,Name,name,,\"x,y\",id"
    val other = "a,b,c,d,e,f"
    // the compressed file is the largest: its header, after a blank line
    put("gz_first", "part-0.csv.gz", "   \n" + header, 3000)
    put("gz_first", "part-1.csv", other, 40)
    put("gz_first", "part-2.csv", "", 0)
    // the plain file is the largest
    put("plain_first", "part-0.csv", header, 400)
    put("plain_first", "part-1.csv.gz", other, 5)
    put("plain_first", "part-2.csv.gz", other, 0)
    java.nio.file.Files.createFile(root.resolve("plain_first/part-3.csv"))
    for (dir <- Seq("gz_first", "plain_first")) {
      val path = root.resolve(dir).toString
      val (want, inferJobs, _) =
        launched(spark.read.option("header", "true").csv(path))
      assert(inferJobs > 0, "the inferring read launched no job to compare with")
      val (got, jobs, executions) = launched(RawZone.readRawCsv(spark, path))
      assert(jobs == 0 && executions == 0, s"$dir: $jobs jobs, $executions executions")
      assert(got.schema == want.schema, dir)
      assert(got.columns.toSeq == Seq("id0", "Name1", "name2", "_c3", "x,y", "id5"), dir)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(got) == rows(want), dir)
    }
  }

  test("dated raw path: padding, sqlserver rename, first table token") {
    val d = java.time.LocalDate.of(2024, 3, 7)
    assert(graft.sources.RawZone.datedPath("s3://raw", "aje", "mssql",
      "pe01", "dbo.ORDERS extra", d) ==
      "s3://raw/aje/sqlserver/pe01/dbo.ORDERS/2024/03/07/")
    assert(graft.sources.RawZone.datedPath("/raw", "aje", "oracle",
      "pe02", "T", java.time.LocalDate.of(1999, 12, 31)) ==
      "/raw/aje/oracle/pe02/T/1999/12/31/")
  }

  test("empty-relation fallback on a missing prefix (S6)") {
    val df = RawZone.readRawCsvOrEmpty(spark, "/no/such/prefix/at/all")
    assert(df.isEmpty && df.schema.isEmpty)
  }

  test("unicode_normalize: NFC composes, NFKC folds compat, forms via SQL") {
    import spark.implicits._
    import graft.plans.GraftExpressions.unicode_normalize
    val rows = Seq(
      "é",       // decomposed e + combining acute
      "é",        // precomposed é
      "ﬁle",      // ﬁ ligature + "le"
      "ＡBC",      // full-width A + "BC"
      "plain").toDF("s")
    val got = rows.select(col("s"),
        unicode_normalize(col("s")).as("nfc"),
        unicode_normalize(col("s"), "NFKC").as("nfkc"),
        unicode_normalize(col("s"), "NFD").as("nfd"))
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // NFC: both é spellings converge on the precomposed form
    assert(got("é")._1 == "é" && got("é")._1 == "é")
    // NFD: both converge on the decomposed form
    assert(got("é")._3 == "é" && got("é")._3 == "é")
    // NFKC additionally folds compatibility characters
    assert(got("ﬁle")._2 == "file")
    assert(got("ＡBC")._2 == "ABC")
    // NFC leaves compatibility chars alone (that is NFKC's job)
    assert(got("ﬁle")._1 == "ﬁle")
    assert(got("plain") == (("plain", "plain", "plain")))
    // SQL door + form validation
    val viaSql = spark.sql(
      "SELECT graft_unicode_normalize('é'), " +
      "graft_unicode_normalize('ﬁ', 'NFKC')").collect().head
    assert(viaSql.getString(0) == "é" && viaSql.getString(1) == "fi")
    intercept[IllegalArgumentException] {
      unicode_normalize(col("s"), "NFX")
    }
  }

  test("tz shift moves only timestamp columns, by -5h (S5)") {
    import spark.implicits._
    val df = Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:30:00")))
      .toDF("name", "ts")
    val shifted = RawZone.shiftTimestamps(df)
    val row = shifted.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
      col("name")).head()
    assert(row.getString(0) == "2024-01-02 05:30:00")
    assert(row.getString(1) == "a")
  }

  test("event log reader normalizes every historical ts encoding") {
    import spark.implicits._
    import graft.sources.EventLog
    // the three encodings the fixture has shipped with (or could): native
    // micros (TIMESTAMP_NTZ from un-annotated parquet), TIMESTAMP(NANOS)
    // surfaced as a raw long under nanosAsLong, and an ISO string — a
    // silent testdata regeneration must not zero the event-backed catalog
    val micros = java.sql.Timestamp.valueOf("2024-03-04 05:06:07.000008")
    val dir = java.nio.file.Files.createTempDirectory("graft_evts").toString
    Seq((1L, micros)).toDF("event_id", "ts")
      .select(col("event_id"),
        col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"))
      .write.parquet(s"$dir/ntz/events.parquet")
    Seq((1L, micros.getTime * 1000000L +
        (micros.getNanos % 1000000L))) // epoch nanos (ms*1e6 + sub-ms nanos)
      .toDF("event_id", "ts")
      .write.parquet(s"$dir/nanos_as_long/events.parquet")
    Seq((1L, "2024-03-04 05:06:07.000008")).toDF("event_id", "ts")
      .write.parquet(s"$dir/string/events.parquet")
    val got = Seq("ntz", "nanos_as_long", "string").map { v =>
      val df = EventLog.events(spark, s"$dir/$v")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"variant $v")
      df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head()
        .getString(0)
    }
    assert(got.distinct == Seq("2024-03-04 05:06:07.000008"), got.toString)
    // and a non-normalizable type fails loudly, not downstream
    val bad = Seq((1L, 2.5)).toDF("event_id", "ts")
    intercept[IllegalArgumentException](EventLog.normalizeTs(bad, "ts"))
  }

  test("registry: bloom build + probe via SQL match the Column API") {
    import spark.implicits._
    Seq("alpha", "beta", "gamma").toDF("w").createOrReplaceTempView("bloom_b")
    Seq("alpha", "delta").toDF("w").createOrReplaceTempView("bloom_p")
    val got = spark.sql("""
      WITH f AS (SELECT graft_bloom_bits(w, 1024, 4) AS bits FROM bloom_b)
      SELECT w, graft_bloom_contains(bits, w, 1024, 4) AS hit
      FROM bloom_p CROSS JOIN f""").as[(String, Boolean)].collect().toMap
    assert(got == Map("alpha" -> true, "delta" -> false))
  }

  test("registry: full-DSL literal + positional forms agree with Column API") {
    import spark.implicits._
    Seq(("  Bob  ", "M", "T"), (null, "X", "q"))
      .toDF("name", "seg", "flag").createOrReplaceTempView("reg_t")
    val got = spark.sql("""SELECT
        fn_transform('fn_transform_ClearString(name,$missing)', 'string') AS n1,
        fn_transform_clearstring(name, 'missing') AS n2,
        fn_transform_concatenate(seg, flag) AS ck,
        fn_transform_concatenate_ws(seg, flag, '-') AS ckw,
        fn_transform_bytemagic(flag, 'N') AS bm,
        fn_transform_periodmagic(NULL, 3) AS pm,
        graft_rolling_hash('ab') AS rh
      FROM reg_t ORDER BY n1""").collect()
    assert(got(0).getString(0) == "Bob" && got(0).getString(1) == "Bob")
    assert(got(1).getString(0) == "missing" && got(1).getString(1) == "missing")
    assert(got(0).getString(2) == "M|T" && got(0).getString(3) == "M-T")
    assert(got(0).getString(4) == "T" && got(1).getString(4) == "N")
    assert(got(0).getString(5) == "190001")
    // rolling hash: ((0*31+'a')*31+'b') = 97*31+98 = 3105
    assert(got(0).getLong(6) == 3105L)
  }

  test("registry: fn_transform rejects a non-literal transformation") {
    val err = intercept[Exception] {
      spark.sql("SELECT fn_transform(c_name, 'string') FROM customer_reg")
    }
    assert(err != null)
  }

  test("xml round trip survives markup metacharacters and unicode") {
    import spark.implicits._
    // the q_src_xml oracle proves losslessness on the fixture's plain
    // words; this pins the cases that actually stress XML escaping
    val rows = Seq(
      (1L, """a < b && c > "d" with 'quotes' and ]]> inside"""),
      (2L, "tags <doc><nested attr=\"x\"/></doc> as text"),
      (3L, "unicode: café 中文 😀 tab\tnewline kept"),
      (4L, ""))
    val dir = java.nio.file.Files
      .createTempDirectory("xmlesc").toString + "/t"
    rows.toDF("id", "text").write.mode("overwrite")
      .option("rowTag", "r").format("xml").save(dir)
    val back = spark.read.schema("id LONG, text STRING")
      .option("rowTag", "r").format("xml").load(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    // empty string comes back null through XML (an empty element has no
    // text node) — the one documented lossy case; everything else exact
    assert(back.take(3).toSeq == rows.take(3))
    assert(back(3)._1 == 4L && (back(3)._2 == null || back(3)._2 == ""))
  }
}
