package graft.ingest

import org.apache.hadoop.fs.Path
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
  *
  * Each file is read as one whole-text row and parsed with `from_json`
  * against `Schemas.snapshotSchema`, so its bytes are read once. Spark's
  * multi-line JSON file reader is not used: under its default
  * `spark.sql.json.enableExactStringParsing` it re-reads the raw stream
  * for `StringType` fields that hold JSON numbers (bike `number`,
  * `bikeNumbers`). On a 153,813-byte generated snapshot (perfbench's
  * status generator, 4-core host, warm) it read 7,455,702 B (48.5× the
  * file) in 156–251 ms of executor CPU; whole text + `from_json` read
  * 153,813 B in 33–49 ms, and `from_json` keeps the exact text of those
  * numbers from the in-memory string without any conf.
  */
object SnapshotJson {

  /** Read snapshot files (paths, directories or globs) into
    * (`_fetched_at`, `data`, `_file`), one row per non-empty file. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    parse(spark.read.option("wholetext", "true").text(paths: _*))

  /** Read exactly the files whose `_file` values are `files`, and no
    * other: a filter on `_file` cannot prune a scan. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    read(spark, files.map(literalPath): _*)

  /** Whole-file text rows (column `value`, one per file) → snapshot
    * columns plus `_file`. A file that holds no JSON object parses to
    * NULL `_fetched_at` and `data`, and so yields no positions. */
  def parse(text: DataFrame): DataFrame =
    text.select(from_json(col("value"), Schemas.snapshotSchema).as("doc"),
        input_file_name().as("_file"))
      .select(col("doc.*"), col("_file"))

  /** Flatten snapshot documents to one row per bike position, keyed by
    * (_file, _fetched_at). Columns: bike_id, station_name, station_id,
    * lat, lon, bike_type, battery.
    *
    * One `posexplode` over each place's bike list: `bikes` when it is
    * non-empty, else the minimal id list with NULL type and battery. A
    * place with neither explodes to no rows, which is the F10 skip. */
  def positions(snapshots: DataFrame): DataFrame = {
    val freestanding = upper(coalesce(col("place.placeType"), lit("")))
      .startsWith("FREESTANDING")
    val bikes =
      when(size(coalesce(col("place.bikes"), array())) > 0,
        transform(col("place.bikes"), b => struct(
          b.getField("number").as("bike_id"),
          when(upper(coalesce(b.getField("bikeType"), lit("")))
            .startsWith("ELECTRIC"), lit("electric"))
            .otherwise(lit("standard")).as("bike_type"),
          b.getField("battery").as("battery"))))
        .otherwise(transform(
          coalesce(col("place.bikeNumbers"), col("place.bike_numbers")),
          n => struct(n.as("bike_id"), lit(null).cast("string").as("bike_type"),
            lit(null).cast("double").as("battery"))))

    // Last occurrence wins per (snapshot, bike) — Python dict overwrite.
    val w = Window.partitionBy(col("_file"), col("bike_id"))
      .orderBy(col("place_pos").desc, col("bike_pos").desc)
    snapshots
      .select(col("_file"), col("_fetched_at"),
        // `get`, not `getItem`: an empty `data` or `cities` is NULL here
        // where ANSI mode's index check would fail the batch
        posexplode(get(get(col("data"), lit(0)).getField("cities"), lit(0))
          .getField("places")).as(Seq("place_pos", "place")))
      .select(col("_file"), col("_fetched_at"), col("place_pos"),
        when(freestanding, lit("freestanding")).otherwise(col("place.name"))
          .as("station_name"),
        when(freestanding, lit("freestanding")).otherwise(col("place.uid"))
          .as("station_id"),
        col("place.geoCoords.lat").as("lat"), col("place.geoCoords.lng").as("lon"),
        posexplode(bikes).as(Seq("bike_pos", "bike")))
      .select(col("_file"), col("_fetched_at"), col("place_pos"), col("bike_pos"),
        col("bike.bike_id"), col("station_name"), col("station_id"),
        col("lat"), col("lon"), col("bike.bike_type"), col("bike.battery"))
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

  /** A `_file` value (a URL-encoded URI) as a path string Spark's reader
    * takes literally: decoded, with glob characters escaped. */
  private def literalPath(file: String): String =
    new Path(new java.net.URI(file)).toString
      .replaceAll("""([\\{}\[\]*?])""", """\\$1""")
}
