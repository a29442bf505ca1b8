package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** `root` is the checkout the benchmark runs in, `work` its scratch dir
  * there, `spawnMs` the epoch time at which the JVM was launched. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, work: String, spawnMs: Long)

/** Shared state of one benchmark invocation: the session, the recorded
  * spans of the timed public calls, and (traced runs only) the listener. */
final class Ctx(val args: Args) {
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  val spans = ArrayBuffer[Span]()
  val listener: Option[StageListener] = if (args.trace) Some(new StageListener) else None
  var gcMs = 0L
  var attempted = 0
  var failed = 0
  private var attachedTo: Option[org.apache.spark.SparkContext] = None

  /** The production session (`JobSession.build`); rebuilt when a job's main
    * has stopped it. In traced runs the listener follows the live context. */
  def spark: SparkSession = {
    val s = graft.jobs.JobSession.build("perfbench")
    if (!attachedTo.contains(s.sparkContext)) {
      s.sparkContext.setLogLevel("ERROR")
      listener.foreach(s.sparkContext.addSparkListener)
      attachedTo = Some(s.sparkContext)
    }
    s
  }

  /** Time one public call as a span; failures are counted, then rethrown. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val gc0 = Trace.gcMillis()
    val t0 = System.currentTimeMillis()
    attempted += 1
    try f catch { case e: Throwable => failed += 1; throw e }
    finally {
      spans += Span(name, layer, t0, System.currentTimeMillis())
      gcMs += Trace.gcMillis() - gc0
    }
  }

  /** Wall seconds of a block, with full nanosecond digits. */
  def clock[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dir(rel: String): String = {
    val d = new java.io.File(args.work, rel)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** One iteration as measured: its two timed parts and its whole wall time.
  * What the parts are for each workload is in perfbench/BENCHMARK.md. */
final case class Sample(part1: Double, part2: Double, iter: Double)

trait Workload {
  /** Generate the inputs once; called `setupRepeats` times, the last copy is
    * used and set-up time is the median. */
  def setup(k: Int): Unit
  def setupRepeats: Int = 3
  def iteration(i: Int): Sample
  def minIterations: Int
  /** Leading iterations that only warm the JVM; timed, never reported. */
  def warmupIterations: Int = 0
  /** Output checks, run once per invocation outside the timed loop (after
    * it, unless `checkFirst`). Returns failures. */
  def check(): Seq[String]
  def checkFirst: Boolean = false
  /** Share of the workload's distinct operations that succeeded. */
  def okShare: Double
  def summarize(s: Seq[Sample]): Sample = Sample(Trace.median(s.map(_.part1)),
    Trace.median(s.map(_.part2)), Trace.median(s.map(_.iter)))
  /** What part1_s, part2_s and iter_s are called for this workload. */
  def partNames: (String, String, String)
  /** Workload-specific per-layer metrics; see [[Main.ExtraKeys]]. */
  def layerExtras: Map[String, Double]
}

object Main {
  /** Per-layer metrics that come from the workloads rather than the
    * listener. Every traced run reports all of them; a workload that does
    * not reach a layer reports 0 for it. */
  val ExtraKeys: Seq[(String, String)] = Seq(
    "ingest.fetch_per_url" -> "ratio", "ingest.sitemap_fetches" -> "count",
    "ingest.pages_ok" -> "count", "ingest.pages_error" -> "count",
    "jobs.links_mb" -> "MB", "jobs.properties_mb" -> "MB", "jobs.store_files" -> "count",
    "jobs.preflight_s" -> "s", "jobs.recover_replay_s" -> "s",
    "io.export_s" -> "s", "io.export_failed" -> "count")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("root"), m("work"), m("spawn-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.trace) System.setProperty("spark.callstack.depth", "400")
    val ctx = new Ctx(args)
    ctx.spark
    val sessionReadyS = (System.currentTimeMillis() - args.spawnMs) / 1000.0
    val w: Workload = args.workload match {
      case "scrape_week" => new ScrapeWeek(ctx)
      case "operator_mix" => new OperatorMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (0 until w.setupRepeats).map(k => ctx.clock(w.setup(k))._2)
    def runChecks() = ctx.clock(try w.check() catch { case e: Throwable =>
      e.printStackTrace(); Seq(s"check aborted: $e")
    })
    val early = if (w.checkFirst) Some(runChecks()) else None

    var stop = false
    def attempt(i: Int)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"iteration $i failed: $e")
        e.printStackTrace()
        stop = true
      }
    (0 until w.warmupIterations).foreach(i => if (!stop) attempt(i)(w.iteration(i)))
    val warmSpans = ctx.spans.size
    // whole iterations: at least minIterations, then more while the next
    // one, as long as the last, still ends within --seconds
    val parts = ArrayBuffer[Sample]()
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (!stop && (parts.size < w.minIterations ||
        elapsed + parts.last.iter <= args.seconds)) {
      val i = w.warmupIterations + parts.size
      attempt(i)(parts += w.iteration(i))
    }
    val loopS = elapsed
    val spans = ctx.spans.drop(warmSpans).toList
    val (failures, checkS) = early.getOrElse(runChecks())
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val rssMb = peakRssMb()
    val correct = failures.isEmpty && ctx.failed == 0 && parts.nonEmpty

    val sum = if (parts.isEmpty) Sample(0, 0, 0) else w.summarize(parts.toSeq)
    val (n1, n2, n3) = w.partNames
    val setup = sessionReadyS + Trace.median(setupS)
    val endToEnd = Seq(
      ("setup_s", setup, "s"), ("iter_s", sum.iter, "s"), ("part1_s", sum.part1, "s"),
      ("part2_s", sum.part2, "s"), ("ok_ops_share", w.okShare, "share"),
      ("peak_rss_mb", rssMb, "MB"))
    // the same numbers under the names a reader of the workload would use
    println(s"# ${args.workload} seed=${args.seed} cores=${ctx.cores} iterations=${parts.size} " +
      s"session_s=$sessionReadyS setup_runs=${setupS.mkString(",")} loop_s=$loopS " +
      s"check_s=$checkS iterations_s=${parts.map(_.iter).mkString(",")}")
    Seq((n1, sum.part1), (n2, sum.part2), (n3, sum.iter), ("failed_ops_share", 1 - w.okShare))
      .foreach { case (n, v) => println(s"# $n = $v") }

    val metrics = ctx.listener match {
      case None => endToEnd
      case Some(l) =>
        // let the listener bus drain before reading what it recorded
        Thread.sleep(500)
        val extras = w.layerExtras
        val traced = Trace.layerMetrics(l, spans, ctx.cores, ctx.gcMs / 1000.0) ++
          ExtraKeys.map { case (k, u) => (k, extras.getOrElse(k, 0.0), u) } ++ Seq(
            ("trace.overhead_s", l.selfNanos.get() / 1e9, "s"),
            ("trace.wall_s", sum.iter, "s"))
        writeSpans(args, spans)
        val other = Trace.measured(l, spans)._1.filter(_.layer == "other").groupBy(_.name)
          .map { case (n, ss) => (ss.size, n) }.toSeq.sortBy(-_._1).take(8)
        System.err.println(s"call sites of unmapped stages: ${other.mkString("; ")}")
        traced
    }
    metrics.foreach { case (n, v, u) => println(s"# $n = $v $u") }
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${correct && finite}, "attempted": ${math.max(1, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
    System.out.flush()
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  /** Peak resident memory of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def writeSpans(args: Args, spans: Seq[Span]): Unit = {
    val out = new java.io.File(args.root,
      s".bench_build/traces/${args.workload}-seed${args.seed}.json")
    out.getParentFile.mkdirs()
    val body = spans.map(s =>
      s"""  {"name": "${s.name}", "layer": "${s.layer}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
      .mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(out.toPath, body)
  }
}

/** Small file-tree helpers for the stores the workloads write. */
object Fs {
  import java.nio.file.{Files, Path, StandardCopyOption}
  import scala.jdk.CollectionConverters._

  def walk(dir: String): Seq[Path] = {
    val p = Path.of(dir)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }
  }
  def bytes(dir: String): Double =
    walk(dir).filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
  def files(dir: String): Double = walk(dir).count(Files.isRegularFile(_)).toDouble

  def copyTree(from: String, to: String): Unit = {
    val src = Path.of(from)
    walk(from).foreach { p =>
      val dst = Path.of(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteTree(dir: String): Unit = walk(dir).reverse.foreach(Files.deleteIfExists(_))
}
