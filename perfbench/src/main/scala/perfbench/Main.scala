package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, closed loop with a single
  * client. Writes the run's result as one JSON object to `--out`; the
  * launcher (`run.py`) turns it into the printed report.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <file> --data <dir>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, data: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath)
  }

  val bodies: Map[String, Run => Unit] = Map(
    "daily_cycle" -> Workloads.dailyCycle,
    "status_replay" -> Workloads.statusReplay,
    "catalog_tail" -> Workloads.catalogTail)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val body = bodies.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    val run = new Run(o)
    val ctxStart = Run.context()
    try body(run)
    catch {
      case e: Throwable =>
        run.problem(s"workload aborted: $e")
        run.attempted = math.max(run.attempted, 1)
        run.failed += 1
    } finally run.stop()
    run.writeResult(ctxStart,
      Run.context() + ("calibration_s" -> Calibrate.seconds(run.cores, 3)))
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }
}

/** State of one run: the session, the tracer, the outcome counters and
  * the metrics gathered so far. */
final class Run(val opts: Main.Opts) {
  val tracer = new Tracer(opts.trace)
  var spark: SparkSession = _
  val cores: Int = Runtime.getRuntime.availableProcessors

  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra facts for the report (not metrics): counts, sizes, samples. */
  val notes = mutable.LinkedHashMap.empty[String, Any]

  private val sessionBuilds = mutable.ArrayBuffer.empty[Double]
  private var measureStartNs = 0L
  private var measureEndNs = 0L
  private var gcAtStart = 0.0

  def problem(msg: String): Unit = {
    if (problems.size < 50) problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  /** Set up `reps` times from scratch (session, inputs, store) and keep
    * the last; `setup_s` is the median. Each repetition starts from a
    * fresh session and an empty directory. */
  def setup(reps: Int)(body: Path => Unit): Path = {
    val times = (1 to reps).map { rep =>
      stop()
      val root = opts.work.resolve(s"setup$rep")
      Run.deleteTree(opts.work.resolve(s"setup${rep - 1}"))
      val t0 = System.nanoTime()
      val s0 = System.nanoTime()
      spark = graft.GraftSession.build(s"local[$cores]", cores, "perfbench")
      sessionBuilds += (System.nanoTime() - s0) / 1e9
      Files.createDirectories(root)
      body(root)
      (System.nanoTime() - t0) / 1e9
    }
    endToEnd("setup_s") = (Run.median(times), "s")
    perLayer("session.build_s") = (Run.median(sessionBuilds.toSeq), "s")
    notes("setup_s_samples") = times
    notes("session_build_s_samples") = sessionBuilds.toSeq
    tracer.attach(spark)
    opts.work.resolve(s"setup$reps")
  }

  def startMeasure(): Unit = {
    gcAtStart = Run.gcSeconds
    measureStartNs = System.nanoTime()
  }

  def elapsed: Double = (System.nanoTime() - measureStartNs) / 1e9

  def endMeasure(): Unit = {
    measureEndNs = System.nanoTime()
    perLayer("jvm.gc_s") = (Run.gcSeconds - gcAtStart, "s")
  }

  /** One timed operation. `timed` runs under the stopwatch; `verify`
    * runs after it, untimed, and returns what is wrong with the output.
    * An exception or a non-empty verdict counts the operation failed. */
  def op[T](what: String)(timed: => T)(verify: T => Seq[String]): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(timed) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) =>
        failed += 1
        problem(s"$what threw ${e.toString.take(300)}")
        None
      case Right(v) =>
        val bad = try verify(v) catch {
          case e: Exception => Seq(s"check threw ${e.toString.take(300)}")
        }
        if (bad.nonEmpty) {
          failed += 1
          bad.take(5).foreach(b => problem(s"$what: $b"))
        }
        Some((v, secs))
    }
  }

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    tracer.span(name, op)(body)

  def stop(): Unit = {
    tracer.detach()
    if (spark != null) { spark.stop(); spark = null }
  }

  /** The trace's spans with the Spark work attributed to them (traced
    * runs only; computed once, after the measured work). */
  def spanStats(): Seq[Tracer.SpanStats] =
    if (opts.trace) memoStats.getOrElse { val s = tracer.rollup(); memoStats = Some(s); s }
    else Nil
  private var memoStats: Option[Seq[Tracer.SpanStats]] = None

  def layer(name: String, unit: String)(v: => Double): Unit =
    if (opts.trace) perLayer(name) = (v, unit)

  /** Measured spans of one name (warm-up spans carry op id -1). */
  def spansNamed(name: String): Seq[Tracer.SpanStats] =
    spanStats().filter(s => s.span.name == name && s.span.op >= 0)

  def writeResult(ctxStart: Map[String, Any], ctxEnd: Map[String, Any]): Unit = {
    perLayer("jvm.peak_rss_mb") = (Run.peakRssMb, "MB")
    if (opts.trace) {
      val stats = spanStats()
      val wall = math.max(1e-9, (measureEndNs - measureStartNs) / 1e9)
      perLayer("trace.overhead_frac") = (tracer.overheadSeconds / wall, "ratio")
      tracer.writeJsonl(opts.work.getParent.getParent.resolve("trace")
        .resolve(s"${opts.workload}-seed${opts.seed}.jsonl"), stats)
    }
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val doc = Json.obj(Seq(
      "workload" -> opts.workload, "seed" -> opts.seed,
      "trace" -> opts.trace, "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.toSeq,
      "end_to_end" -> Json.Raw(Json.obj(metrics(endToEnd))),
      "per_layer" -> Json.Raw(Json.obj(metrics(perLayer))),
      "notes" -> notes.toMap,
      "context" -> Map("start" -> ctxStart, "end" -> ctxEnd,
        "cores" -> cores)))
    Files.createDirectories(opts.out.getParent)
    Files.write(opts.out, doc.getBytes(StandardCharsets.UTF_8))
  }
}

object Run {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Machine context: the 1-minute load and how many JVMs are running,
    * so noise from other tenants can be attributed. */
  def context(): Map[String, Any] = {
    val load1 = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble
    val jvms = Option(new java.io.File("/proc").listFiles).map(_.count { f =>
      f.getName.forall(_.isDigit) && scala.util.Try(new String(Files
        .readAllBytes(f.toPath.resolve("comm"))).trim == "java").getOrElse(false)
    }).getOrElse(-1)
    Map("load1" -> load1, "jvms" -> jvms)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))

  def treeBytes(p: Path, suffix: String = ""): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .map(Files.size).sum

  def fileCount(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong
}
