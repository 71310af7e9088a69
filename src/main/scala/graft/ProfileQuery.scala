package graft

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
  * Output lines are prefixed `[prof]` for grepping. The jobs and stages
  * come from [[JobStats.measure]], one call for the build and one for
  * the execute.
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryPrefix>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-prof")
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.operators.GlobalRank.releaseCache()
      System.gc()
    }

    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.exists(n.startsWith) }
    wanted.foreach { case (name, fn) =>
      // warmup (codegen/JIT/footers) — untimed
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        println(s"[prof] $name warmup FAILED: $e"); return }
      release()

      val (df, build) = JobStats.measure(spark)(fn(spark, sfDir))
      val (_, execute) = JobStats.measure(spark)(df.queryExecution.toRdd.count())
      val jobs = build.jobs ++ execute.jobs
      println(f"[prof] ===== $name: build ${build.seconds}%.3f s, " +
        f"execute ${execute.seconds}%.3f s, " +
        f"total ${build.seconds + execute.seconds}%.3f s, jobs ${jobs.size}")
      jobs.foreach(j =>
        println(f"[prof]   job ${j.id}%4d ${j.ms.toDouble}%9.1f ms  ${j.description}"))
      (build.stages ++ execute.stages).sortBy(-_.taskMs).take(14).foreach { s =>
        println(f"[prof]   stage ${s.id}%4d taskTime ${s.taskMs}%7d ms " +
          f"in ${s.inputBytes / 1048576.0}%8.1f MB sr ${s.shuffleReadBytes / 1048576.0}%8.1f MB " +
          f"sw ${s.shuffleWriteBytes / 1048576.0}%8.1f MB  ${s.name.take(90)}")
      }
      release()
    }
    spark.stop()
  }
}
