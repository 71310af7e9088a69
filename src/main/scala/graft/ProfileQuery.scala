package graft

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-job / per-stage profiler for single catalog queries — the
  * round-18 optimization round's measurement harness (guide §1: find
  * out WHERE the time goes before touching anything).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileQuery q152 q179"
  *
  * For each named query prefix, after one untimed warmup run it runs
  * the query once more and prints:
  *  - build time (DataFrame construction — includes any eager actions
  *    the query fn performs, e.g. monitor state merges) vs execute
  *    time (`queryExecution.toRdd.count()`, the Bench action);
  *  - one line per Spark job: wall duration, description (the
  *    summary line carries their count);
  *  - one line per stage: task-time sum, shuffle read/write bytes,
  *    input bytes, records.
  * Output lines are prefixed `[prof]` for grepping.
  */
object ProfileQuery {

  private case class StageAgg(name: String, var taskMs: Long = 0L,
    var shufRead: Long = 0L, var shufWrite: Long = 0L,
    var input: Long = 0L, var records: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryPrefix>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-prof")

    val jobs = TrieMap.empty[Int, (Long, String)] // id -> (t0, desc)
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = TrieMap.empty[Int, StageAgg]
    var enabled = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, (System.nanoTime(), desc))
        ()
      }
      // not gated on `enabled`: the bus may deliver the last job's end
      // after the action returned; only jobs started while enabled are
      // in `jobs`
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobs.remove(e.jobId).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          jobLines.add(f"[prof]   job ${e.jobId}%4d ${ms}%9.1f ms  $desc")
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val info = e.stageInfo
          val agg = stages.getOrElseUpdate(info.stageId,
            StageAgg(info.name.take(90)))
          val m = info.taskMetrics
          if (m != null) {
            agg.taskMs = m.executorRunTime
            agg.shufRead = m.shuffleReadMetrics.totalBytesRead
            agg.shufWrite = m.shuffleWriteMetrics.bytesWritten
            agg.input = m.inputMetrics.bytesRead
            agg.records = m.inputMetrics.recordsRead
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.exists(n.startsWith) }
    wanted.foreach { case (name, fn) =>
      // warmup (codegen/JIT/footers) — untimed, listener off
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        println(s"[prof] $name warmup FAILED: $e"); return }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.operators.GlobalRank.releaseCache()
      System.gc()

      jobs.clear(); jobLines.clear(); stages.clear()
      enabled = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      enabled = false
      Thread.sleep(300) // let listener events drain
      println(f"[prof] ===== $name: build ${(t1 - t0) / 1e9}%.3f s, " +
        f"execute ${(t2 - t1) / 1e9}%.3f s, total ${(t2 - t0) / 1e9}%.3f s, " +
        s"jobs ${jobLines.size}")
      jobLines.forEach(l => println(l))
      val top = stages.toSeq.sortBy(-_._2.taskMs).take(14)
      top.foreach { case (id, a) =>
        println(f"[prof]   stage $id%4d taskTime ${a.taskMs}%7d ms " +
          f"in ${a.input / 1048576.0}%8.1f MB sr ${a.shufRead / 1048576.0}%8.1f MB " +
          f"sw ${a.shufWrite / 1048576.0}%8.1f MB  ${a.name}")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.operators.GlobalRank.releaseCache()
      System.gc()
    }
    spark.stop()
  }
}
