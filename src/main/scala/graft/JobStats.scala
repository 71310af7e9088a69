package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one job/stage recorder behind the dev harnesses (`ProfileQuery`,
  * `Stress`) and the specs' job and byte counts.
  *
  * `measure` runs `body` under a job group of its own, so it records
  * only the jobs `body` starts: on its thread and on threads that
  * inherit its local properties (broadcasts, subqueries), never a
  * concurrent caller's. The listener bus delivers events in order but
  * asynchronously, so a sentinel job in the same group marks the end:
  * once its start has been delivered, so has every job and stage event
  * of `body`. Job wall times come from the events' own stamps, not from
  * delivery time.
  */
object JobStats {

  final case class Job(id: Int, ms: Long, description: String)

  final case class Stage(id: Int, name: String, taskMs: Long,
    inputBytes: Long, inputRecords: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** `seconds` is the wall time of `body` alone; jobs are in id order,
    * stages in completion order (one entry per stage attempt). */
  final case class Run(seconds: Double, jobs: Seq[Job], stages: Seq[Stage]) {
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  private val GroupKey = "spark.jobGroup.id"
  private val DescriptionKey = "spark.job.description"
  private val Sentinel = "sentinel"
  private val DrainTimeoutS = 30L

  /** `body` with every job it starts described `description` (the
    * `description` of each [[Job]]); the caller's description is
    * restored afterwards. */
  def labeled[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, description)
    try body finally sc.setLocalProperty(DescriptionKey, prev)
  }

  def measure[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    val group = s"jobstats-${java.util.UUID.randomUUID}"
    val started = new ConcurrentHashMap[Int, (Long, String)]
    val jobs = new ConcurrentLinkedQueue[Job]
    val stages = new ConcurrentLinkedQueue[Stage]
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(GroupKey) == group) {
          val desc = Option(e.properties.getProperty(DescriptionKey)).getOrElse("")
          if (desc == Sentinel) drained.countDown()
          else {
            started.put(e.jobId, (e.time, desc))
            e.stageIds.foreach(stageIds.add)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.get(e.jobId)).foreach { case (t0, desc) =>
          jobs.add(Job(e.jobId, e.time - t0, desc))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (stageIds.contains(i.stageId) && i.taskMetrics != null) {
          val m = i.taskMetrics
          stages.add(Stage(i.stageId, i.name, m.executorRunTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten))
        }
      }
    }
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescriptionKey)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(GroupKey, group)
      val t0 = System.nanoTime()
      val result = body
      val seconds = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(DescriptionKey, Sentinel)
      sc.parallelize(Seq(0), 1).count()
      if (!drained.await(DrainTimeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"sentinel job did not reach the listener bus in $DrainTimeoutS s")
      (result, Run(seconds, jobs.asScala.toSeq.sortBy(_.id), stages.asScala.toSeq))
    } finally {
      sc.setLocalProperty(GroupKey, prevGroup)
      sc.setLocalProperty(DescriptionKey, prevDesc)
      sc.removeSparkListener(listener)
    }
  }
}
