package graft.store

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

import graft.model.Schemas

/** K2 — the idempotent, date-partitioned rides store (reference:
  * src/data_load_sqlite.py:190–235 `create_database`/`load_to_sqlite`).
  *
  * The reference's staging table + `INSERT OR IGNORE` on UNIQUE(uid)
  * becomes: dedup the batch on uid, anti-join against the existing
  * table's uids ([[IdempotentAppend.newRows]]), append as parquet
  * partitioned by `ride_date`.
  *
  * Invariant: `ride_date = to_date(start_time)` in the session time zone,
  * which [[graft.GraftSession]] pins to UTC. Single-day readers rely on
  * it to filter on `ride_date` and so read one partition
  * ([[graft.metrics.DailyMetrics.forDay]]).
  *
  * Scale design:
  *  - `partitionBy(ride_date)` replaces the missing SQLite date index;
  *  - the anti-join probe restricts `existing` to the date range the
  *    incoming batch spans (daily exports overlap only a few days), so
  *    the dedup scan is a handful of partitions, not 100 TB;
  *  - only (uid) is projected from the existing side — column pruning
  *    keeps the probe narrow;
  *  - reads use the store's fixed schema, so no job infers it from
  *    parquet footers;
  *  - the written row count is an `Observation` on the write itself,
  *    not a second pass over the batch.
  * Single-writer assumption, as in the reference.
  */
object RidesTable {

  /** The store's schema: the ride columns, then the `ride_date`
    * partition column. */
  private val schema: StructType = Schemas.rideSchema.add("ride_date", DateType)

  /** Append `batch` (RideTransform output) idempotently. Returns rows
    * actually written. A batch with no new rows adds no file: a
    * partitioned write of zero rows creates no partition directory. */
  def append(spark: SparkSession, batch: DataFrame, path: String): Long = {
    val withDate = batch.withColumn("ride_date", to_date(col("start_time")))

    val existing =
      if (!exists(spark, path))
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else {
        val bounds = withDate.agg(
          min(col("ride_date")).as("lo"), max(col("ride_date")).as("hi")).head()
        val stored = read(spark, path)
        if (bounds.isNullAt(0)) stored
        else stored.filter(
          col("ride_date").between(bounds.getDate(0), bounds.getDate(1)) ||
            col("ride_date").isNull)
      }

    val obs = Observation()
    IdempotentAppend.newRows(withDate, existing, Seq("uid"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).partitionBy("ride_date").parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Typed edge: the fact table as Dataset[Ride] (for consumers that
    * want compile-time column safety; the DataFrame path stays the
    * default — Catalyst sees through both identically). */
  def readTyped(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[graft.model.Ride] = {
    import spark.implicits._
    read(spark, path)
      .drop("ride_date") // partition column, not part of the Ride schema
      .as[graft.model.Ride]
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
