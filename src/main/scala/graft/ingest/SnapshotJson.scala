package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** S3/S4 — Nextbike snapshot JSON scan + flatten (reference:
  * src/bike_status_changes.py:28–103 `load_snapshot`/`get_latest_files`).
  *
  * A snapshot document is `data[0].cities[0].places[]`, each place with a
  * `bikes[]` array (detailed) or a `bikeNumbers` list (minimal). The
  * flattener produces one row per bike with the reference's normalization:
  *  - FREESTANDING* placeType → station_name = station_id = "freestanding"
  *    (reference: :50–57);
  *  - bikeType ELECTRIC* → "electric" else "standard" (:62–64);
  *  - bikeNumbers-only places get NULL bike_type/battery (:73–84);
  *  - places with neither bikes nor bikeNumbers are skipped (:46–49);
  *  - a bike listed in several places keeps its LAST occurrence, matching
  *    Python dict insertion overwrite (:65, :77).
  */
object SnapshotJson {

  /** Read one or more snapshot files into (file, _fetched_at, places). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", "true")
      .schema(Schemas.snapshotSchema)
      .json(path)
      .withColumn("_file", input_file_name())

  /** Flatten snapshot documents to one row per bike position, keyed by
    * (_file, _fetched_at). Columns: bike_id, station_name, station_id,
    * lat, lon, bike_type, battery. */
  def positions(snapshots: DataFrame): DataFrame = {
    val places = snapshots
      .select(
        col("_file"), col("_fetched_at"),
        posexplode(col("data").getItem(0).getField("cities").getItem(0)
          .getField("places")).as(Seq("place_pos", "place"))
      )
      // F10 — skip places with neither bikes nor bikeNumbers (:46–49)
      .withColumn("bike_numbers",
        coalesce(col("place.bikeNumbers"), col("place.bike_numbers")))
      .filter(
        size(coalesce(col("place.bikes"), array())) > 0 ||
          size(coalesce(col("bike_numbers"), array())) > 0
      )
      .withColumn("station_name",
        when(upper(coalesce(col("place.placeType"), lit("")))
          .startsWith("FREESTANDING"), lit("freestanding"))
          .otherwise(col("place.name")))
      .withColumn("station_id",
        when(upper(coalesce(col("place.placeType"), lit("")))
          .startsWith("FREESTANDING"), lit("freestanding"))
          .otherwise(col("place.uid")))
      .withColumn("lat", col("place.geoCoords.lat"))
      .withColumn("lon", col("place.geoCoords.lng"))

    val detailed = places
      .filter(size(coalesce(col("place.bikes"), array())) > 0)
      .select(
        col("_file"), col("_fetched_at"), col("place_pos"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        posexplode(col("place.bikes")).as(Seq("bike_pos", "bike"))
      )
      .select(
        col("_file"), col("_fetched_at"), col("place_pos"), col("bike_pos"),
        col("bike.number").as("bike_id"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        when(upper(coalesce(col("bike.bikeType"), lit("")))
          .startsWith("ELECTRIC"), lit("electric"))
          .otherwise(lit("standard")).as("bike_type"),
        col("bike.battery").as("battery")
      )

    val minimal = places
      .filter(
        size(coalesce(col("place.bikes"), array())) === 0 &&
          size(coalesce(col("bike_numbers"), array())) > 0
      )
      .select(
        col("_file"), col("_fetched_at"), col("place_pos"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        posexplode(col("bike_numbers")).as(Seq("bike_pos", "bike_id"))
      )
      .select(
        col("_file"), col("_fetched_at"), col("place_pos"), col("bike_pos"),
        col("bike_id"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        lit(null).cast("string").as("bike_type"),
        lit(null).cast("double").as("battery")
      )

    // Last occurrence wins per (snapshot, bike) — Python dict overwrite.
    val w = Window.partitionBy(col("_file"), col("bike_id"))
      .orderBy(col("place_pos").desc, col("bike_pos").desc)
    detailed.unionByName(minimal)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "place_pos", "bike_pos")
  }

  /** T5 — the latest `count` snapshot files in a directory by embedded
    * `_fetched_at` (reference: :88–103). Small manifest — collected to
    * the driver exactly like the reference's file listing. */
  def latestFiles(spark: SparkSession, dir: String, count: Int = 2): Seq[String] =
    latestSnapshots(spark, dir, count).map(_._2)

  /** (`_fetched_at`, `_file`) of the latest `count` snapshot files in
    * `dir`, oldest first. Order is (`_fetched_at`, file name): files with
    * equal `_fetched_at` keep file-name order. */
  def latestSnapshots(spark: SparkSession, dir: String,
      count: Int): IndexedSeq[(String, String)] =
    read(spark, s"$dir/bike_rides_*.json")
      .select(col("_file"), col("_fetched_at"))
      .collect()
      .map(r => (Option(r.getString(1)).getOrElse(""), r.getString(0)))
      .sorted
      .takeRight(count)
      .toIndexedSeq
}
