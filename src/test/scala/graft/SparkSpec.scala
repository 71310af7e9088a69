package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Jobs `f` starts on this thread, and the input bytes their stages
    * read. A sentinel job in the same job group marks the end: the bus is
    * ordered, so once the listener has seen it, every job and stage `f`
    * ran has been delivered too. */
  def jobStats(f: => Unit): (Int, Long) = {
    val group = s"spec-${System.nanoTime}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val bytes = new AtomicLong
    @volatile var done = false
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (js.properties.getProperty("spark.job.description") == "sentinel") done = true
          else { jobs.incrementAndGet(); js.stageIds.foreach(stages.add(_)) }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (stages.contains(sc.stageInfo.stageId))
          bytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "")
      f
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      val deadline = System.currentTimeMillis + 30000
      while (!done && System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(done, "sentinel job never reached the bus")
      (jobs.get, bytes.get)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(l)
    }
  }
}
