package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the library, plus the Spark
  * work a listener attributes to each span.
  *
  * A span is (id, parent, name, op id, start, end). Spans live in memory
  * and are written as JSONL once, when the run ends. While a span is open
  * its id is the thread's `perfbench.span` local property, so every job
  * the call submits carries it; the listener keys jobs, stages and task
  * metrics by that id. A disabled tracer records nothing and installs no
  * listener: the untraced run measures the program alone.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Long] = None
  private var sc: SparkContext = _
  private val listener = new Listener

  /** Time spent inside the tracer's own bookkeeping, both on the client
    * thread (span open/close) and on the listener bus. */
  private val selfNanos = new AtomicLong(0)

  def attach(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) {
      sc = spark.sparkContext
      sc.addSparkListener(listener)
    }

  def detach(): Unit =
    if (enabled && sc != null) { sc.removeSparkListener(listener); sc = null }

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = nextId.incrementAndGet()
      val parent = current
      current = Some(id)
      if (sc != null) sc.setLocalProperty(SpanKey, id.toString)
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      selfNanos.addAndGet(startNs - t0)
      try body
      finally {
        val endNs = System.nanoTime()
        val endMs = startMs + (endNs - startNs) / 1000000L
        spans += Span(id, parent.getOrElse(0L), name, op, startMs, endMs,
          (endNs - startNs) / 1e9)
        current = parent
        if (sc != null)
          sc.setLocalProperty(SpanKey, parent.map(_.toString).orNull)
        selfNanos.addAndGet(System.nanoTime() - endNs)
      }
    }

  def overheadSeconds: Double = selfNanos.get / 1e9

  /** Spans with their attributed Spark work; each span's counts include
    * its descendants'. Call after the measured work has finished. */
  def rollup(): Seq[SpanStats] = {
    listener.drain()
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(c => subtree(c.id))
    spans.toSeq.map { s =>
      val ids = subtree(s.id).toSet
      val jobs = listener.jobs.values.asScala.filter(j => ids(j.span)).toSeq
      val tasks = ids.toSeq.flatMap(i => Option(listener.work.get(i)))
      val covered = unionMs(jobs.flatMap { j =>
        val lo = math.max(j.startMs, s.startMs)
        val hi = math.min(if (j.endMs > 0) j.endMs else s.endMs, s.endMs)
        if (hi > lo) Some((lo, hi)) else None
      })
      SpanStats(byId(s.id), jobs.size,
        math.max(0.0, s.seconds - covered / 1000.0),
        tasks.map(_.taskMs.get).sum, tasks.map(_.inputBytes.get).sum,
        tasks.map(_.shuffleReadBytes.get).sum,
        tasks.map(_.shuffleWriteBytes.get).sum,
        tasks.map(_.outputBytes.get).sum)
    }
  }

  def writeJsonl(path: Path, stats: Seq[SpanStats]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = stats.map { st =>
      val s = st.span
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "jobs" -> st.jobs,
        "outside_jobs_s" -> st.outsideJobsSeconds, "task_ms" -> st.taskMs,
        "input_bytes" -> st.inputBytes,
        "shuffle_read_bytes" -> st.shuffleReadBytes,
        "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "output_bytes" -> st.outputBytes))
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  private final class Work {
    val taskMs = new AtomicLong
    val inputBytes = new AtomicLong
    val shuffleReadBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val outputBytes = new AtomicLong
  }

  private final class Job(val span: Long, val startMs: Long) {
    @volatile var endMs: Long = 0L
  }

  private final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]
    val stageSpan = new ConcurrentHashMap[Int, Long]
    val work = new ConcurrentHashMap[Long, Work]
    private val pending = new AtomicLong

    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try f finally selfNanos.addAndGet(System.nanoTime() - t0)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new Job(span, e.time))
      e.stageIds.foreach(st => stageSpan.put(st, span))
      pending.incrementAndGet()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      pending.decrementAndGet()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val span = stageSpan.getOrDefault(e.stageId, 0L)
        val w = work.computeIfAbsent(span, _ => new Work)
        w.taskMs.addAndGet(e.taskInfo.duration)
        w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        w.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

    /** Wait until the asynchronous listener bus has delivered every job
      * end, and so every task end before it (the bus is FIFO); bounded,
      * so a lost event cannot hang the run. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (pending.get > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startMs: Long, endMs: Long, seconds: Double)

  final case class SpanStats(span: Span, jobs: Int, outsideJobsSeconds: Double,
      taskMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, outputBytes: Long)

  /** Total length of the union of [lo, hi) millisecond intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    iv.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}
