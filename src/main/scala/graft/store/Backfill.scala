package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Geo

/** K5/F8 — distance backfill (reference: src/backfill_distance.py).
  *
  * The reference UPDATEs rows where `distance IS NULL` and all four
  * coordinates are present. In the immutable-parquet model this is a
  * rewrite: `coalesce(distance, computed)` — no join, no driver loop,
  * one codegen'd pass (the reference iterates rows in Python).
  */
object Backfill {

  /** True on the rows the rewrite fills: NULL distance, all four
    * coordinates present. */
  val fillable: Column =
    col("distance").isNull &&
      col("lat_start").isNotNull && col("lon_start").isNotNull &&
      col("lat_end").isNotNull && col("lon_end").isNotNull

  /** Rows that WOULD be updated (dry-run counting, reference :45–58). */
  def candidates(rides: DataFrame): DataFrame = rides.filter(fillable)

  /** The rewrite: fill NULL distances where coordinates allow.
    *
    * @param useGeodesic true (default) ⇒ geodesic fill, matching both the
    *                    reference's backfill (backfill_distance.py:21–30,
    *                    geopy) and [[graft.transform.RideTransform]]'s
    *                    stored distances; false ⇒ haversine — identical
    *                    within the reference's own tolerance and
    *                    expressible in any engine (the oracle mode,
    *                    q118). */
  def apply(rides: DataFrame, useGeodesic: Boolean = true): DataFrame =
    rides.withColumn("distance",
      coalesce(col("distance"),
        if (useGeodesic)
          Geo.geodesicKm(col("lat_start"), col("lon_start"),
            col("lat_end"), col("lon_end"))
        else
          Geo.distanceKm(col("lat_start"), col("lon_start"),
            col("lat_end"), col("lon_end"))))
}
