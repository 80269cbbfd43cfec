package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** A span of wall time owned by one layer (epoch milliseconds). */
final case class Seg(start: Long, end: Long, layer: String)

/**
 * The benchmark's own Spark listener: SQL executions (start, end, job
 * tags), jobs with their task totals, and cached RDD block bytes. Traced
 * runs also attribute every SQL execution and job to a layer by the first
 * `graft.*` frame of its call site; untraced runs skip that parsing.
 */
final class Recorder(traced: Boolean) extends SparkListener {
  final class Exec(val root: Boolean, val start: Long, val tags: Set[String],
      val layer: String, val frame: String) {
    var end: Long = -1L
  }
  final class Job(val start: Long, val layer: String) {
    var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var scanRunMs = 0L
    var stages = 0
  }

  val execs = mutable.LinkedHashMap[Long, Exec]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  var peakBlockBytes = 0L

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val (layer, frame) =
          if (traced) Recorder.layerOf(s.details) else ("", "")
        val root = s.rootExecutionId.forall(_ == s.executionId)
        execs(s.executionId) = new Exec(root, s.time, s.jobTags, layer, frame)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val layer = if (!traced) "" else {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execs.get(id.toLong))
      exec.map(_.layer).getOrElse(
        Recorder.layerOf(j.stageInfos.headOption.map(_.details).getOrElse(""))._1)
    }
    val job = new Job(j.time, layer)
    job.stages = j.stageIds.size
    jobs(j.jobId) = job
    j.stageIds.foreach(s => stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) stageJob.get(t.stageId).flatMap(jobs.get).foreach { job =>
      job.tasks += 1
      job.runMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.gcMs += m.jvmGCTime
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      job.inBytes += m.inputMetrics.bytesRead
      job.inRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) job.scanRunMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
    val info = b.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId]) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      peakBlockBytes = math.max(peakBlockBytes, blockBytes)
    }
  }

  def resetPeak(): Unit = synchronized { peakBlockBytes = blockBytes }

  /** Root executions carrying `tag`, in start order. */
  def execsTagged(tag: String): Seq[Exec] = synchronized {
    execs.values.filter(e => e.root && e.tags.contains(tag)).toSeq
  }

  /** Jobs that started inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start <= to).toSeq
  }

  /** Root executions that started inside [from, to]. */
  def execsIn(from: Long, to: Long): Seq[Exec] = synchronized {
    execs.values.filter(e => e.root && e.start >= from && e.start <= to).toSeq
  }
}

object Recorder {
  private val GraftFrame = """(?:^|/)(graft\.[\w$.]+)\(""".r

  /** The layer of a call site: the module of its first `graft.*` frame
    * (`MergeWriter.scala` -> write, `CatalogRegistry.scala` -> catalog, a
    * file under `ops` -> ops.<family>, ...). Frames are innermost first, so the
    * first graft frame is the library code that issued the action. */
  def layerOf(details: String): (String, String) = {
    val frame = details.split('\n').iterator.map(_.trim)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .find(_ => true).getOrElse("")
    val layer =
      if (frame.isEmpty) "bench"
      else if (frame.startsWith("graft.write.MergeWriter")) "write"
      else if (frame.startsWith("graft.write.CatalogRegistry"))
        if (frame.contains("analyzeStage")) "catalog.analyze" else "catalog.register"
      else if (frame.startsWith("graft.sources.")) "sources"
      else if (frame.startsWith("graft.pipeline.StageTransform")) "transform"
      else if (frame.startsWith("graft.functions.") || frame.startsWith("graft.dsl.")) "dsl"
      else if (frame.startsWith("graft.pipeline.IngestOrchestrator")) "orchestrator"
      else if (frame.startsWith("graft.meta.")) "meta"
      else if (frame.startsWith("graft.ops.")) {
        val cls = frame.stripPrefix("graft.ops.").takeWhile(c => c != '$' && c != '.')
        "ops." + cls.toLowerCase
      }
      else if (frame.startsWith("graft.catalog.") || frame.startsWith("graft.QueryCatalog") ||
          frame.startsWith("graft.SparkEntry")) "query.build"
      else "graft"
    (layer, frame)
  }

  /** Partition one thread's life [from, to] into layers: the segments it
    * recorded win where they cover time; a gap goes to
    * `gap(previous layer, next layer)` ("" at either end). */
  def partition(from: Long, to: Long, segs: Seq[Seg],
      gap: (String, String) => String): Seq[Seg] = {
    val out = mutable.ArrayBuffer[Seg]()
    var t = from
    var prev = ""
    segs.filter(s => s.end > from && s.start < to).sortBy(_.start).foreach { s =>
      val st = math.max(s.start, t)
      if (st > t) out += Seg(t, st, gap(prev, s.layer))
      val en = math.min(s.end, to)
      if (en > st) { out += Seg(st, en, s.layer); t = en }
      prev = s.layer
    }
    if (t < to) out += Seg(t, to, gap(prev, ""))
    out.toSeq
  }

  /** Self time per layer over [from, to] for several concurrent threads:
    * each instant is split evenly among the threads running then; instants
    * with none running go to `idleLayer`. The result sums to to - from. */
  def selfTimes(from: Long, to: Long, threads: Seq[Seq[Seg]],
      idleLayer: String): Map[String, Double] = {
    val cuts = (Seq(from, to) ++ threads.flatten.flatMap(s => Seq(s.start, s.end)))
      .filter(c => c >= from && c <= to).distinct.sorted
    val acc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2.0
        val live = threads.flatMap(_.find(s => s.start <= mid && mid < s.end))
        if (live.isEmpty) acc(idleLayer) += (b - a) / 1000.0
        else live.foreach(s => acc(s.layer) += (b - a) / 1000.0 / live.size)
      case _ =>
    }
    acc.toMap
  }

  /** Wall time in [from, to] with no Spark job running (seconds). */
  def idle(from: Long, to: Long, busy: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var cur = from
    busy.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { covered += b - s; cur = b }
      }
    (to - from - covered) / 1000.0
  }
}
