package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: the configuration every graft entry point
  * uses, in one place.
  *
  *  - `spark.sql.shuffle.partitions` sized to the core count (not the
  *    200 default — on local[32] that's 6× task overhead for nothing;
  *    on a real cluster set it to 2–3× total cores or rely on AQE
  *    coalescing, which stays enabled);
  *  - UTC session timezone (ride timestamps are zone-less local strings;
  *    status timestamps carry explicit offsets — see SURVEY.md §7.4.8);
  *  - GraftExtensions injected so `vec_dot` & co. work from plain SQL.
  */
object GraftSession {

  def build(
      master: String = sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      shufflePartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"
  ): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // NOTE (r19): a session-wide
      // spark.sql.adaptive.coalescePartitions.minPartitionSize=64k was
      // tried to keep CPU-dense verify stages wide and REVERTED on a
      // full-bench A/B — it helped the two verify kernels (q145
      // execute 2.4 → 1.8 s) but widened EVERY tiny shuffle in the
      // suite (steady total 203 → 255 s, the bench's own load1 went
      // 4 → 16).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate may have returned a pre-existing session whose builder
    // ran without our extensions — register the functions directly too.
    graft.plans.GraftExtensions.register(spark)
    // Measurement hook (r19): GRAFT_CONF="k=v;k=v" applies extra session
    // confs — how the Plans/Stress harnesses force the scale-gated code
    // paths (e.g. graft.broadcastMaxEdges=0, graft.driverLoopMaxNodes=0)
    // so the beyond-bound plans stay dumpable and measurable. Unset in
    // the driver's runs: defaults unchanged.
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    spark
  }
}
