package graft

/** Plan dumper for the optimization rounds: writes
  * `df.explain("formatted")` for every catalog query (or the
  * GRAFT_ONLY subset) to one text file per query, so before/after
  * physical plans can be committed under plans/rNN/ and claims like
  * "2 Exchange → 1" are checkable without running Spark.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... GRAFT_ONLY=q152,q197 \
  *          sbt "runMain graft.Plans <outDir> [suffix]"
  * Files land as <outDir>/<shortName>_<suffix>.txt (suffix defaults
  * to "plan"). NOTE: the monitor queries (q284–q292) execute their
  * state merges eagerly while the DataFrame is being BUILT — dumping
  * their plan costs a few state folds; the dumped plan is the
  * read-out's.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Plans <outDir> [suffix]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = if (args.length > 1) args(1) else "plan"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-plans")
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSeq)
    def wanted(name: String) = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => wanted(kv._1))
      .foreach { case (name, fn) =>
        val short = name.takeWhile(_ != '_')
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val f = new java.io.File(outDir, s"${short}_$suffix.txt")
          java.nio.file.Files.write(f.toPath,
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plans] wrote ${f.getPath}")
        } catch { case e: Throwable =>
          println(s"[plans] FAILED $name: ${e.getClass.getSimpleName}: " +
            e.getMessage)
        }
      }
    spark.stop()
  }
}
