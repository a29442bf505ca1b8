package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed public call, as the benchmark saw it (epoch milliseconds). */
final case class Span(name: String, layer: String, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Which module issued a Spark stage. A stage's long call site is the stack
  * of the thread that submitted it; the innermost frame of this repo's code
  * names the module. Stages that Spark submits from its own threads (adaptive
  * query stages, broadcasts) carry no such frame; they take the call site of
  * the SQL execution they belong to. Stages with neither are `other`. */
object Layers {
  val Modules: Seq[String] = Seq("ingest", "jobs", "io", "preprocess", "ml", "ops",
    "text", "sim", "queries")

  private val ByPrefix: Seq[(String, String)] = Seq(
    "graft.ingest." -> "ingest",
    "graft.jobs.ScrapeJob" -> "jobs", "graft.jobs.PreflightJob" -> "jobs",
    "graft.jobs.ExportJob" -> "io", "graft.io." -> "io",
    "graft.jobs.PreprocessJob" -> "preprocess", "graft.Preprocessing" -> "preprocess",
    "graft.enrich." -> "preprocess", "graft.encode." -> "preprocess",
    "graft.jobs.ModelJob" -> "ml", "graft.ml." -> "ml",
    "graft.ops." -> "ops", "graft.functions." -> "ops",
    "graft.text." -> "text", "graft.sim." -> "sim",
    "graft.queries." -> "queries", "graft.SparkEntry" -> "queries",
    "graft.Tables" -> "queries",
    // the noop sink that consumes each registry query's result
    "perfbench.OperatorMix" -> "queries")

  def of(callSiteLong: String): String =
    callSiteLong.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .map(l => ByPrefix.collectFirst { case (p, m) if l.startsWith(p) => m }.getOrElse("other"))
      .nextOption().getOrElse("other")
}

final case class StageRec(name: String, layer: String, submitMs: Long, endMs: Long,
    tasks: Int, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
    taskMs: Seq[Long])
final case class JobRec(layer: String, startMs: Long, endMs: Long)

/** Records stages and jobs of the traced spans. Installed only in traced
  * runs; `selfNanos` is the time spent inside its own callbacks. */
class StageListener extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val selfNanos = new AtomicLong()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      execLayer.put(x.executionId, Layers.of(x.details))
    }
    case _ => ()
  }

  private def layerOf(details: String, fallback: => String): String =
    Layers.of(details) match {
      case "other" => fallback
      case l => l
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(id => Option(execLayer.get(id)))
      .getOrElse("other")
    val result = e.stageInfos.maxByOption(_.stageId)
    val layer = result.map(s => layerOf(s.details, exec)).getOrElse(exec)
    e.stageIds.foreach(stageLayer.put(_, layer))
    jobStart.put(e.jobId, (e.time, layer))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, layer) =>
      jobs.add(JobRec(layer, t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskInfo != null)
      taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = s.taskMetrics
    val durations = Option(taskMs.remove((s.stageId, s.attemptNumber()))).map(_.asScala.toSeq)
      .getOrElse(Nil)
    val end = s.completionTime.getOrElse(System.currentTimeMillis())
    val layer = layerOf(s.details, Option(stageLayer.get(s.stageId)).getOrElse("other"))
    stages.add(StageRec(s.name, layer, s.submissionTime.getOrElse(end), end,
      s.numTasks,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled, durations))
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals, in seconds. */
  def unionS(iv: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }

  def clip(iv: Iterable[(Long, Long)], span: Span): Iterable[(Long, Long)] =
    iv.flatMap { case (s, e) =>
      val (a, b) = (math.max(s, span.startMs), math.min(e, span.endMs))
      if (b > a) Some((a, b)) else None
    }

  /** Span wall time minus the time any Spark job was running inside it. */
  def driverGapS(spans: Seq[Span], jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (j.startMs, j.endMs))
    spans.map(s => s.wallS - unionS(clip(iv, s))).sum
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the `statistics.quantiles` inclusive
    * method); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Per-layer metrics over the traced spans. `spans` are the timed public
    * calls; stages and jobs submitted outside them (set-up, checks) are left
    * out. */
  def layerMetrics(l: StageListener, spans: Seq[Span], cores: Int,
      gcS: Double): Seq[(String, Double, String)] = {
    val (stages, jobs) = measured(l, spans)
    val mb = 1e6
    val perModule = (Layers.Modules).flatMap { m =>
      val st = stages.filter(_.layer == m)
      Seq((s"$m.busy_s", unionS(st.map(s => (s.submitMs, s.endMs))), "s"),
        (s"$m.jobs", jobs.count(_.layer == m).toDouble, "count"),
        (s"$m.tasks", st.map(_.tasks).sum.toDouble, "count"),
        (s"$m.shuffle_mb", st.map(_.shuffleWriteB).sum / mb, "MB"))
    }
    val wall = spans.map(_.wallS).sum
    val taskBusy = stages.flatMap(_.taskMs).sum / 1000.0
    val skew = stages.filter(_.taskMs.size >= 2).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, median(s.taskMs.map(_.toDouble)))
    }
    def spansOf(layer: String) = spans.filter(_.layer == layer)
    val perQuery = spansOf("queries").map { q =>
      (jobs.count(j => j.startMs >= q.startMs && j.startMs <= q.endMs).toDouble,
        driverGapS(Seq(q), jobs))
    }
    val queryJobs = perQuery.map(_._1).sum
    perModule ++ Seq(
      ("preprocess.driver_gap_s", driverGapS(spansOf("preprocess"), jobs), "s"),
      ("ml.driver_gap_s", driverGapS(spansOf("ml"), jobs), "s"),
      ("queries.jobs_p50", median(perQuery.map(_._1)), "count"),
      ("queries.jobs_max", if (perQuery.isEmpty) 0.0 else perQuery.map(_._1).max, "count"),
      ("queries.driver_gap_p50_s", median(perQuery.map(_._2)), "s"),
      ("queries.job_floor_s", if (queryJobs > 0) perQuery.map(_._2).sum / queryJobs else 0.0, "s"),
      ("other.stages", stages.count(_.layer == "other").toDouble, "count"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", stages.size.toDouble, "count"),
      ("spark.tasks", stages.map(_.tasks).sum.toDouble, "count"),
      ("spark.job_busy_s", unionS(jobs.map(j => (j.startMs, j.endMs))), "s"),
      ("spark.driver_gap_s", driverGapS(spans, jobs), "s"),
      ("spark.task_busy_s", taskBusy, "s"),
      ("spark.slot_util", if (wall > 0) taskBusy / (wall * cores) else 0.0, "share"),
      ("spark.shuffle_read_mb", stages.map(_.shuffleReadB).sum / mb, "MB"),
      ("spark.shuffle_write_mb", stages.map(_.shuffleWriteB).sum / mb, "MB"),
      ("spark.spill_mb", stages.map(_.spillB).sum / mb, "MB"),
      ("spark.gc_s", gcS, "s"),
      ("spark.task_skew_max", if (skew.isEmpty) 1.0 else skew.max, "ratio"))
  }

  /** The stages and jobs submitted inside the spans. */
  def measured(l: StageListener, spans: Seq[Span]): (Seq[StageRec], Seq[JobRec]) = {
    def inSpans(t: Long) = spans.exists(s => t >= s.startMs && t <= s.endMs)
    (l.stages.asScala.toSeq.filter(s => inSpans(s.submitMs)),
      l.jobs.asScala.toSeq.filter(j => inSpans(j.startMs)))
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
