package graft

import org.apache.spark.CheckpointDirs
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

  /** `f` at the defaults, where loop operators pin their state with
    * local checkpoints, then again with the context's checkpoint dir
    * set, where they pin it with reliable ones: both results, and the
    * directory the second run checkpointed under. `f` must collect what
    * it returns. Neither run may leave the checkpoint dir changed. */
  def localAndReliable[A](f: => A): (A, A, String) = {
    val sc = spark.sparkContext
    val local = f
    assert(sc.getCheckpointDir.isEmpty,
      s"an operator set a checkpoint dir: ${sc.getCheckpointDir}")
    val (reliable, dir) = CheckpointDirs.withCheckpointDir(sc)(d => (f, d))
    (local, reliable, dir)
  }

  /** Jobs `f` starts on this thread, and the input bytes their stages
    * read ([[JobStats.measure]]). */
  def jobStats(f: => Unit): (Int, Long) = {
    val run = JobStats.measure(spark)(f)._2
    (run.jobs.size, run.inputBytes)
  }
}
