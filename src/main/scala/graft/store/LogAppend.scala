package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** One observed append to an unpartitioned parquet log.
  *
  * The row count is an `Observation` on the write itself, so no job
  * counts the rows first. The write lands in a staging directory whose
  * part files move into the log only when there are rows: Spark writes an
  * empty part file even for zero rows, and a no-op append must add no
  * file to the log (see [[Compaction]]). Single-writer assumption.
  */
object LogAppend {

  /** Appends `rows` to the log at `path`; returns the rows written. */
  def apply(rows: DataFrame, path: String): Long = {
    val obs = Observation()
    val staging = new Path(path + "_staging")
    rows.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    val fs = staging.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    if (n > 0) {
      val log = new Path(path)
      fs.mkdirs(log)
      fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
        .foreach { f =>
          if (!fs.rename(f, new Path(log, f.getName)))
            sys.error(s"could not move $f into $log")
        }
    }
    fs.delete(staging, true)
    n
  }
}
