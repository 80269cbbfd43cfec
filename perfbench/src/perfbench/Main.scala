package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.functions.Transforms
import graft.meta.{ColumnSpec, MetaLoader, RunStatus, TableConfig}
import graft.pipeline.{IngestOrchestrator, StageTransform}
import graft.sources.RawZone

/**
 * One benchmark run inside one JVM: set up, then rounds in a closed loop
 * (an ingest day, or a pass over the catalog queries) until `seconds` of
 * rounds have been timed. Writes `result.json` into the run directory:
 * the end-to-end metrics, the per-layer metrics when traced, and what the
 * correctness check compares (stage-table hashes, statuses, query errors).
 *
 * Usage: perfbench.Main --dir <run dir> --workload <name> --seconds <s>
 *   --trace <0|1> --cores <n> [--corrupt 1]
 */
object Main {
  val Lima = java.time.ZoneId.of("America/Lima")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(opt("dir"), "bench.properties"))
    try props.load(in) finally in.close()
    val run = new Run(opt("dir"), opt("workload"), opt("seconds").toDouble,
      opt("trace") == "1", opt("cores").toInt, opt.get("corrupt").contains("1"),
      props.asScala.toMap)
    val result = run.execute()
    Files.write(Paths.get(opt("dir"), "result.json"), Json.render(result).getBytes("UTF-8"))
  }
}

final class Run(dir: String, workload: String, seconds: Double, traced: Boolean,
    cores: Int, corrupt: Boolean, props: Map[String, String]) {

  private val out = mutable.LinkedHashMap[String, Any]()
  private val e2e = mutable.LinkedHashMap[String, Any]()
  private val layer = mutable.LinkedHashMap[String, Any]()
  private val rounds = mutable.ArrayBuffer[Any]()
  private var spark: SparkSession = _
  private val rec = new Recorder(traced)
  private def now(): Long = System.currentTimeMillis()

  private def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def session(): SparkSession = {
    val s = GraftSession.create("perfbench", Some(s"local[$cores]"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up, three times over (median reported): a fresh session plus the
    * workload's metadata/input registration. */
  private def setup(load: SparkSession => Unit): Unit = {
    val times = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      load(spark)
      (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = median(times)
    spark.sparkContext.addSparkListener(rec)
  }

  def execute(): mutable.LinkedHashMap[String, Any] = {
    try {
      if (workload.startsWith("ingest")) ingest() else catalog()
    } finally if (spark != null) spark.stop()
    e2e("peak_rss_mb") = peakRssMb()
    out("e2e") = e2e
    out("layer") = layer
    out("rounds") = rounds
    out
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  // --------------------------------------------------------------- ingest

  private def ingest(): Unit = {
    val meta = s"$dir/meta"
    var all: Seq[TableConfig] = Nil
    var specs: Map[String, Seq[ColumnSpec]] = Map.empty
    var bdType: Map[String, String] = Map.empty
    setup { s =>
      bdType = MetaLoader.endpoints(s, s"$meta/endpoints.csv")
        .map(e => e.endpointName -> e.bdType).toMap
      all = MetaLoader.tableConfigs(s, s"$meta/tables.csv")
      specs = MetaLoader.columnSpecs(s, s"$meta/columns.csv").groupBy(_.targetTableName)
    }
    spark.conf.set("spark.graft.now", props("graft_now"))
    val rawRoot = s"$dir/raw"
    val stageRoot = s"$dir/stage"
    val dates = props("days").split(",").map(LocalDate.parse).toSeq
    val rawBytes = props("raw_bytes").split(",").map(_.toDouble).toSeq
    val rawRows = props("raw_rows").split(",").map(_.toDouble).toSeq
    @volatile var day = dates.head
    val spans = new ConcurrentLinkedQueue[(String, Seg)]()
    def tag(t: TableConfig) = "pb_" + t.targetTableName
    def rawPath(t: TableConfig) = RawZone.datedPath(rawRoot, props("project"),
      bdType(t.endpoint), t.endpoint, t.sourceTable, day)
    val orch = new IngestOrchestrator(spark, stageRoot,
      readRaw = t => {
        val sc = spark.sparkContext
        sc.clearJobTags()
        sc.addJobTag(tag(t))
        val t0 = now()
        val df = RawZone.readRawCsv(spark, rawPath(t))
        spans.add(t.targetTableName -> Seg(t0, now(), "sources"))
        df
      },
      specsFor = t => {
        val t0 = now()
        val s = specs.getOrElse(t.targetTableName, Nil)
        spans.add(t.targetTableName -> Seg(t0, now(), "meta"))
        s
      },
      parallelism = math.min(5, cores),
      registerIn = props.get("stage_db").filter(_.nonEmpty),
      retrySleepMs = _ => 0L)
    val tables = orch.activeTables(all)
    val limaDates = mutable.ArrayBuffer(LocalDate.now(Main.Lima).toString)
    out("lima_dates") = limaDates

    val dayS = mutable.ArrayBuffer[Double]()
    val tableLat = mutable.ArrayBuffer[Double]()
    val queueWait = mutable.ArrayBuffer[Double]()
    val checks = mutable.ArrayBuffer[Any]()
    var files = stageFiles(stageRoot)
    var newBytesWarm = 0.0
    var newFilesWarm = 0.0
    var touched = 0.0
    var partitions = 0.0
    val routes = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    val selfByDay = mutable.ArrayBuffer[Map[String, Double]]()
    val perDay = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()
    val probes = mutable.ArrayBuffer[(Double, Double)]()
    var lastStatuses: Seq[RunStatus] = Nil
    var lastHashes = mutable.LinkedHashMap[String, Seq[Long]]()
    var dedupDropped = 0.0
    var d = 0
    var more = true
    while (more) {
      day = dates(d)
      spans.clear()
      val t0 = now()
      val n0 = System.nanoTime()
      val statuses = orch.runAll(tables)
      val secs = (System.nanoTime() - n0) / 1e9
      val t1 = now()
      PerfbenchBus.drain(spark.sparkContext)
      dayS += secs
      more = d + 1 < dates.size && (d < 3 || dayS.drop(1).sum < seconds)
      limaDates += LocalDate.now(Main.Lima).toString
      lastStatuses = statuses

      // per table-day latency: runAll start -> the table's last SQL execution
      val spansByTable = spans.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val threads = tables.map { t =>
        val ex = rec.execsTagged(tag(t)).filter(e => e.start >= t0 && e.end >= 0 && e.end <= t1 + 1000)
        val sp = spansByTable.getOrElse(t.targetTableName, Nil)
        val start = sp.map(_.start).minOption.getOrElse(t0)
        val end = (ex.map(_.end) ++ sp.map(_.end)).maxOption.getOrElse(t1)
        if (d > 0) {
          tableLat += (end - t0) / 1000.0
          queueWait += (start - t0) / 1000.0
        }
        val segs = sp ++ ex.map(e => Seg(e.start, math.max(e.end, e.start), e.layer))
        val pruned = ex.exists(_.frame.contains("prunedMergeWrite"))
        val route =
          if (d == 0 || !Set("incremental", "between-date").contains(t.loadType)) "overwrite"
          else (if (t.sourceTableType == "t") "window-merge" else "merge") +
            (if (pruned) "-pruned" else "")
        if (traced) routes(route) += 1
        Recorder.partition(start, end, segs, (prev, next) =>
          if (prev == "meta") "transform" else if (next.nonEmpty) next
          else if (prev.nonEmpty) prev else "orchestrator")
      }
      if (traced) selfByDay += Recorder.selfTimes(t0, t1, threads, "orchestrator")
      perDay += roundStats(t0, t1, secs)

      if (!more && corrupt) corruptOneRow(s"$stageRoot/${tables.head.stageTableName}")
      val hashes = tableHashes(tables.map(t => t.targetTableName -> s"$stageRoot/${t.stageTableName}"))
      checks += mutable.LinkedHashMap[String, Any](
        "day" -> d,
        "tables" -> hashes,
        "status" -> mutable.LinkedHashMap(statuses.map(s => s.targetTableName -> Seq[Any](
          s.status, s.quarantinedColumns, s.failReason.take(200))): _*))

      val now2 = stageFiles(stageRoot)
      val created = now2.keySet -- files.keySet
      if (d > 0) {
        newBytesWarm += created.toSeq.map(now2).sum.toDouble
        newFilesWarm += created.size
        val partDirs = now2.keySet.filter(_.contains("=")).map(p => p.substring(0, p.lastIndexOf('/')))
        val hit = created.filter(_.contains("=")).map(p => p.substring(0, p.lastIndexOf('/')))
        touched += hit.size
        partitions += partDirs.size
      }
      files = now2
      lastHashes = hashes

      if (traced && d > 0) probes += probe(tables, specs, rawPath)
      if (traced && !more) dedupDropped = dedupCount(tables, specs, rawPath)
      rounds += mutable.LinkedHashMap[String, Any]("round" -> d, "s" -> secs,
        "self" -> (if (traced) selfByDay.last else Map.empty))
      d += 1
    }
    out("checks") = checks
    out("attempted") = d * tables.size

    val warm = dayS.drop(1).toSeq
    e2e("bootstrap_s") = dayS.head
    e2e("day_s") = median(warm)
    e2e("table_s_p50") = median(tableLat.toSeq)
    e2e("write_amp") = newBytesWarm / math.max(1.0, rawBytes.slice(1, d).sum)
    val live = lastHashes.values.map(_.head).sum
    e2e("stage_bytes_per_row") = files.values.sum.toDouble / math.max(1L, live)
    readPass(tables.map(t => s"$stageRoot/${t.stageTableName}"))

    if (traced) {
      val w = perDay.drop(1).toSeq
      def med(k: String) = median(w.map(_(k)))
      def self(l: String) = median(selfByDay.drop(1).toSeq.map(_.getOrElse(l, 0.0)))
      layer("orchestrator.slot_busy") = med("slot_busy")
      layer("orchestrator.driver_s") = med("driver_s")
      layer("orchestrator.queue_wait_s") = median(queueWait.toSeq)
      layer("orchestrator.self_s") = self("orchestrator")
      layer("sources.read_s") = self("sources")
      layer("sources.scan_task_s") = perDay.head("scan_task_s")
      layer("sources.raw_bytes") = rawBytes.take(d).sum
      layer("sources.raw_rows") = rawRows.take(d).sum
      layer("dsl.compile_s") = median(probes.map(_._1).toSeq)
      layer("dsl.columns") = tables.map(t => specs.getOrElse(t.targetTableName, Nil).size).sum.toDouble
      layer("transform.plan_s") = median(probes.map(_._2).toSeq)
      layer("transform.self_s") = self("transform")
      layer("transform.quarantined") = lastStatuses.map(_.quarantinedColumns.size).sum.toDouble
      layer("transform.dedup_dropped") = dedupDropped
      layer("write.s") = self("write")
      layer("write.task_s") = med("write.task_s")
      layer("write.jobs") = med("write.jobs")
      layer("write.shuffle_bytes") = med("write.shuffle_bytes")
      layer("write.partitions_touched_ratio") = if (partitions > 0) touched / partitions else 0.0
      val ws = selfByDay.drop(1).map(_.getOrElse("write", 0.0))
      layer("write.s_last_over_first") = if (ws.size >= 2 && ws.head > 0) ws.last / ws.head else 1.0
      layer("write.bytes_out") = newBytesWarm
      layer("write.files_out") = newFilesWarm
      Seq("overwrite", "merge", "merge-pruned", "window-merge", "window-merge-pruned")
        .foreach(r => layer(s"write.route.$r") = routes(r).toDouble)
      layer("catalog.register_s") = self("catalog.register")
      layer("catalog.analyze_s") = self("catalog.analyze")
      layer("catalog.executions") = med("catalog.executions")
      sparkLayer(w)
    }
  }

  /** Timed downstream read of every stage table (three times, median):
    * what a consumer of the lake pays per table after the last day. */
  private def readPass(paths: Seq[String]): Unit = {
    val passes = (1 to 3).map { _ =>
      paths.map { p =>
        val t0 = System.nanoTime()
        spark.read.parquet(p).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    e2e("pass_s") = median(passes.map(_.sum))
    e2e("query_s_p50") = median(passes.flatten)
  }

  /** Spark totals of the jobs that started in one round. */
  private def roundStats(t0: Long, t1: Long, secs: Double): mutable.LinkedHashMap[String, Double] = {
    val jobs = rec.jobsIn(t0, t1)
    val execs = rec.execsIn(t0, t1)
    val m = mutable.LinkedHashMap[String, Double]()
    val runMs = jobs.map(_.runMs).sum
    m("jobs") = jobs.size
    m("stages") = jobs.map(_.stages).sum
    m("tasks") = jobs.map(_.tasks).sum
    m("task_s") = runMs / 1000.0
    m("cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    m("gc_s") = jobs.map(_.gcMs).sum / 1000.0
    m("shuffle_bytes") = jobs.map(_.shuffleWrite).sum
    m("spill_bytes") = jobs.map(_.spill).sum
    m("in_bytes") = jobs.map(_.inBytes).sum
    m("in_records") = jobs.map(_.inRecords).sum
    m("slot_busy") = runMs / 1000.0 / math.max(1e-9, secs * cores)
    m("driver_s") = Recorder.idle(t0, t1, jobs.map(j => (j.start, if (j.end < 0) t1 else j.end)))
    m("scan_task_s") = jobs.map(_.scanRunMs).sum / 1000.0
    val wj = jobs.filter(_.layer == "write")
    m("write.task_s") = wj.map(_.runMs).sum / 1000.0
    m("write.jobs") = wj.size
    m("write.shuffle_bytes") = wj.map(_.shuffleWrite).sum
    m("catalog.executions") = execs.count(_.layer.startsWith("catalog")).toDouble
    m
  }

  private def sparkLayer(w: Seq[mutable.LinkedHashMap[String, Double]]): Unit =
    Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes",
      "spill_bytes", "slot_busy").foreach(k => layer(s"spark.$k") = median(w.map(_(k))))

  private def queryLayer(build: Seq[Double], exec: Seq[Double], cached: Long,
      w: Seq[mutable.LinkedHashMap[String, Double]], self: Seq[Map[String, Double]]): Unit = {
    layer("query.build_s") = median(build)
    layer("query.exec_s") = median(exec)
    layer("query.jobs") = median(w.map(_("jobs")))
    layer("query.tasks") = median(w.map(_("tasks")))
    layer("query.slot_busy") = median(w.map(_("slot_busy")))
    layer("query.cached_bytes") = cached.toDouble
    self.flatMap(_.keys).filter(_.startsWith("ops.")).distinct
      .foreach(f => layer(s"${f}_s") = median(self.map(_.getOrElse(f, 0.0))))
  }

  /** Stage parquet files under `root`, relative path -> bytes. */
  private def stageFiles(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Map.empty
    else {
      val s = Files.walk(r)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => r.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Row count plus two order-insensitive sums of md5 prefixes over every
    * stage table, in one Spark job. Each row renders as its columns sorted
    * by name, cast to string, nulls as \N, joined by \u0001 — the same
    * rendering the expected-state model hashes. */
  private def tableHashes(tables: Seq[(String, String)]): mutable.LinkedHashMap[String, Seq[Long]] = {
    val parts = tables.filter { case (_, p) => Files.isDirectory(Paths.get(p)) }.map { case (name, p) =>
      val df = spark.read.parquet(p)
      val line = concat_ws("\u0001", df.columns.sorted.toSeq.map(c =>
        coalesce(col(c).cast("string"), lit("\\N"))): _*)
      val m = md5(line.cast("binary"))
      df.agg(count(lit(1)).as("n"),
          coalesce(sum(conv(substring(m, 1, 8), 16, 10).cast("long")), lit(0L)).as("h1"),
          coalesce(sum(conv(substring(m, 9, 8), 16, 10).cast("long")), lit(0L)).as("h2"))
        .select(lit(name).as("t"), col("n"), col("h1"), col("h2"))
    }
    val got = if (parts.isEmpty) Map.empty[String, Seq[Long]]
      else parts.reduce(_ unionAll _).collect().map(r =>
        r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    mutable.LinkedHashMap(tables.map { case (name, _) => name -> got.getOrElse(name, Seq(0L, 0L, 0L)) }: _*)
  }

  /** Self-test hook: rewrite one stage row (the first string column of the
    * first row of the first file) so the day's check must fail. */
  private def corruptOneRow(path: String): Unit = {
    val file = Files.walk(Paths.get(path)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString).head
    val df = spark.read.parquet(file.toString)
    val rows = df.collect()
    val target = df.schema.fields.indexWhere(_.dataType == org.apache.spark.sql.types.StringType)
    val bad = Row.fromSeq(rows(0).toSeq.updated(target, "corrupted"))
    val tmp = s"$dir/corrupt_tmp"
    spark.createDataFrame((bad +: rows.tail).toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(file.resolveSibling("." + file.getFileName + ".crc"))
  }

  /** Extra traced call on the day's inputs: DSL compile time of every
    * column spec, and StageTransform.run's driver-side planning time. */
  private def probe(tables: Seq[TableConfig], specs: Map[String, Seq[ColumnSpec]],
      rawPath: TableConfig => String): (Double, Double) = {
    var compile = 0.0
    var plan = 0.0
    tables.foreach { t =>
      val sp = specs.getOrElse(t.targetTableName, Nil)
      val c0 = System.nanoTime()
      sp.foreach(s => Try(Transforms.column(s.transformation, s.newDataType)))
      compile += (System.nanoTime() - c0) / 1e9
      val raw = RawZone.readRawCsv(spark, rawPath(t))
      val p0 = System.nanoTime()
      StageTransform.run(raw, sp)
      plan += (System.nanoTime() - p0) / 1e9
    }
    (compile, plan)
  }

  /** Rows the stage dedup dropped on the last day: raw rows minus rows out
    * of StageTransform.run, summed over tables. */
  private def dedupCount(tables: Seq[TableConfig], specs: Map[String, Seq[ColumnSpec]],
      rawPath: TableConfig => String): Double =
    tables.map { t =>
      val raw = RawZone.readRawCsv(spark, rawPath(t))
      (raw.count() - StageTransform.run(raw, specs.getOrElse(t.targetTableName, Nil)).df.count()).toDouble
    }.sum

  // -------------------------------------------------------------- catalog

  private def catalog(): Unit = {
    val data = s"$dir/data"
    val inputs = props("inputs").split(",").toSeq
    setup(s => inputs.foreach(t => s.read.parquet(s"$data/$t.parquet").schema))
    val names = props("queries").split(",").toSeq
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(dir, "oracle_sql.json"), Json.render(
      mutable.LinkedHashMap(names.filter(oracle.contains).map(n => n -> oracle(n)): _*))
      .getBytes("UTF-8"))
    val errors = mutable.LinkedHashMap[String, Any]()
    val passS = mutable.ArrayBuffer[Double]()
    val qLat = mutable.ArrayBuffer[Double]()
    val build = mutable.ArrayBuffer[Double]()
    val exec = mutable.ArrayBuffer[Double]()
    val perPass = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()
    val selfByPass = mutable.ArrayBuffer[Map[String, Double]]()
    var cached = 0L
    var p = 0
    var attempted = 0
    while (p < 2 || passS.drop(1).sum < seconds) {
      rec.resetPeak()
      val t0 = now()
      var secs = 0.0
      val self = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      names.foreach { name =>
        attempted += 1
        val a = now()
        val n0 = System.nanoTime()
        Try(queries(name)(spark, data)).flatMap { df =>
          val n1 = System.nanoTime()
          val b = now()
          val w = if (p == 0) Try(df.write.mode("overwrite").parquet(s"$dir/qout/$name"))
            else Try(df.write.format("noop").mode("overwrite").save())
          w.map { _ => (n1, b) }
        } match {
          case Success((n1, b)) =>
            val n2 = System.nanoTime()
            val c = now()
            secs += (n2 - n0) / 1e9
            if (p > 0) {
              qLat += (n2 - n0) / 1e9
              build += (n1 - n0) / 1e9
              exec += (n2 - n1) / 1e9
            }
            if (traced) {
              PerfbenchBus.drain(spark.sparkContext)
              val inBuild = rec.execsIn(a, b).filter(_.end >= 0)
                .map(e => Seg(e.start, math.min(e.end, b), e.layer))
              Recorder.partition(a, b, inBuild, (_, _) => "query.build")
                .foreach(s => self(s.layer) += (s.end - s.start) / 1000.0)
              self("query.exec") += (c - b) / 1000.0
            }
          case Failure(e) =>
            errors(s"$p:$name") = (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n')).take(200)
        }
        spark.catalog.clearCache()
        System.gc()
      }
      PerfbenchBus.drain(spark.sparkContext)
      val t1 = now()
      passS += secs
      perPass += roundStats(t0, t1, secs)
      if (p > 0) cached = math.max(cached, rec.peakBlockBytes)
      if (traced) selfByPass += self.toMap
      rounds += mutable.LinkedHashMap[String, Any]("round" -> p, "s" -> secs,
        "self" -> (if (traced) self.toMap else Map.empty))
      p += 1
    }
    out("errors") = errors
    out("attempted") = attempted
    val warm = perPass.drop(1).toSeq
    e2e("bootstrap_s") = passS.head
    e2e("day_s") = median(passS.drop(1).toSeq)
    e2e("table_s_p50") = median(qLat.toSeq)
    e2e("write_amp") = warm.map(_("shuffle_bytes")).sum / math.max(1.0, warm.map(_("in_bytes")).sum)
    e2e("stage_bytes_per_row") = warm.map(_("in_bytes")).sum / math.max(1.0, warm.map(_("in_records")).sum)
    e2e("pass_s") = e2e("day_s")
    e2e("query_s_p50") = e2e("table_s_p50")
    if (traced) {
      layer("orchestrator.slot_busy") = median(warm.map(_("slot_busy")))
      layer("orchestrator.driver_s") = median(warm.map(_("driver_s")))
      sparkLayer(warm)
      queryLayer(build.toSeq, exec.toSeq, cached, warm, selfByPass.drop(1).toSeq)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
