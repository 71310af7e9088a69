package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.SnapshotJson
import graft.model.Schemas
import graft.status.SnapshotDiff
import graft.store.LogAppend

/** ST1–ST4 — the status track as Structured Streaming (reference:
  * src/pipeline.py + src/fetch_nextbike.py cadence: one snapshot JSON per
  * minute into a landing dir; src/bike_status_changes.py diffs the two
  * most recent snapshots and appends events).
  *
  * Spark shape: `readStream` file source on the landing dir →
  * `foreachBatch` that diffs each new snapshot against the persisted
  * last-snapshot state, in `_fetched_at` order → append-only parquet
  * event log. This reproduces the reference's exact semantics — missed
  * runs collapse intermediate moves silently (SURVEY.md §7.4.13); we do
  * NOT "fix" that here.
  *
  * Scale: state is one fleet snapshot (thousands of rows — broadcast
  * territory). A micro-batch of K snapshots costs a fixed number of jobs,
  * not a number per snapshot: all K pairs diff in one join (each side
  * shuffles at most K fleets), and the event log gets one append per
  * batch (none for an event-free batch). A `flatMapGroupsWithState` variant would
  * keep per-bike state inside Spark, but changes gap semantics — kept as
  * a possible extension, not parity.
  */
object StatusStream {

  /** Continuous mode: watch `landingDir`, maintain state + event log. */
  def start(
      spark: SparkSession,
      landingDir: String,
      eventsPath: String,
      statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")
  ): StreamingQuery =
    spark.readStream
      .schema(Schemas.snapshotSchema)
      .option("multiLine", "true")
      .json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch.withColumn("_file", input_file_name()),
          eventsPath, statePath)
        ()
      }
      .start()

  /** One micro-batch: snapshots are diffed against the persisted state
    * in order, events appended, state replaced with the newest
    * snapshot's positions.
    *
    * Snapshot order is (`_fetched_at`, file name): snapshots with equal
    * `_fetched_at` apply in file-name order. A file without bike
    * positions is not a snapshot here and leaves the state as it is. */
  def processBatch(
      spark: SparkSession,
      snapshots: DataFrame,
      eventsPath: String,
      statePath: String
  ): Long = {
    val positions = SnapshotJson.positions(snapshots)
      .select(col("_file"), col("_fetched_at"), col("bike_id"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        col("bike_type"), col("battery"))
      .cache()
    try {
      // The one collect of the batch; it also fills the positions cache.
      val order = positions.select(col("_file"), col("_fetched_at"))
        .distinct().collect()
        .map(r => (Option(r.getString(1)).getOrElse(""), r.getString(0)))
        .sorted.toIndexedSeq
      if (order.isEmpty) return 0L
      val state =
        if (fs(spark, statePath).exists(new Path(statePath)))
          Some(spark.read.schema(positions.drop("_file", "_fetched_at").schema)
            .parquet(statePath))
        else None
      val written = appendDiffs(positions, order, state, eventsPath)

      // Persist the newest snapshot as the next batch's diff base.
      val tmp = statePath + "_tmp"
      positions.filter(col("_file") === order.last._2).drop("_file", "_fetched_at")
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      replace(spark, tmp, statePath)
      written
    } finally positions.unpersist()
  }

  /** Batch one-shot mirroring the reference CLI (src/bike_status_changes
    * .py:216–239): diff the latest two snapshots in `dir`, append. */
  def runOnce(spark: SparkSession, dir: String, eventsPath: String): Long = {
    val order = SnapshotJson.latestSnapshots(spark, dir, 2)
    if (order.size < 2) return 0L
    val snaps = SnapshotJson.read(spark, s"$dir/bike_rides_*.json")
      .filter(col("_file").isin(order.map(_._2): _*))
    appendDiffs(SnapshotJson.positions(snaps), order, None, eventsPath)
  }

  /** Diffs snapshots 1..K pairwise in one join and appends all their
    * events to `eventsPath` in one write.
    *
    * @param positions bike positions keyed by `_file`
    * @param order (`_fetched_at`, `_file`) of snapshots 1..K, oldest first
    * @param state snapshot 0, the diff base of snapshot 1, if there is one
    * @return events appended */
  private def appendDiffs(
      positions: DataFrame,
      order: IndexedSeq[(String, String)],
      state: Option[DataFrame],
      eventsPath: String
  ): Long = {
    // Snapshot r is the newer side of pair r and the older side of pair
    // r + 1; the state is the older side of pair 1.
    val k = order.size
    val first = if (state.isDefined) 1 else 2
    if (first > k) return 0L
    val ranked = positions
      .withColumn("_rank",
        element_at(typedLit(order.map(_._2).zip(1 to k).toMap), col("_file")))
      .drop("_file", "_fetched_at")
    val curr = ranked.filter(col("_rank") >= first).withColumnRenamed("_rank", "_pair")
    val older =
      if (k > 1) Seq(ranked.filter(col("_rank") < k)
        .withColumn("_pair", col("_rank") + 1).drop("_rank"))
      else Nil
    val prev = (state.map(_.withColumn("_pair", lit(1))).toSeq ++ older)
      .reduce(_.unionByName(_))
    val timestamps = (first to k).map(r => r -> order(r - 1)._1).toMap
    LogAppend(SnapshotDiff.pairEvents(prev, curr, timestamps), eventsPath)
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def replace(spark: SparkSession, from: String, to: String): Unit = {
    val fsys = fs(spark, from)
    val dst = new Path(to)
    if (fsys.exists(dst)) fsys.delete(dst, true)
    fsys.rename(new Path(from), dst)
  }
}
