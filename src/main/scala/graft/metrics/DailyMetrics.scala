package graft.metrics

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.model.DayMetrics

/** Per-day ride metrics — A1–A13, J3, T1/T2, U1, F2–F7 (reference:
  * src/compute_daily_metrics.py:30–194 `compute_metrics`).
  *
  * The reference runs 11 separate SQL queries per day, each a full table
  * scan with the same `date(start_time)=? AND duration>2` predicate
  * (§3.2 of SURVEY.md). Here ALL days and ALL metrics are one
  * `groupBy(day).agg(...)`: one scan with the global duration filter
  * (F2), one exchange after a map-side partial aggregation, then the
  * one-row-per-day frame in one partition.
  *  - The scalars are built-in aggregates.
  *  - The hourly histogram, the busiest stations and the top routes are
  *    the keyed-counter aggregates of [[DayCounters]], whose buffers are
  *    bounded by the day's hours, stations and routes, never by its
  *    rides. Busiest stations count each ride's start and end station
  *    in one buffer; the reference emulates a FULL OUTER join of
  *    departures and arrivals with UNION + 2 LEFT JOINs (a SQLite
  *    limitation, :112–141), whose join form lives on in q04.
  *  - Each top-5 is cut in the aggregate's `finish`: no window, no sort
  *    of facts, no join of per-family plans.
  * A consumer that reads only some columns (the range requests of
  * [[RangeMetrics]]) lets Catalyst's column pruning drop the other
  * aggregates. Against the earlier three plans joined on day (scalars,
  * then busiest stations and top routes each as a (day, key) agg, a
  * `row_number` window and a collect), traced `daily_cycle` (4 cores,
  * seed 901): `forDay` 8 → 2 jobs and 0.42 → 0.19 s, scanning its one
  * partition once instead of three times; a busiest-stations or
  * top-routes range request 5 → 2 jobs and one store scan instead of
  * two. On the rides store (see [[graft.store.RidesTable]]) [[forDay]]
  * also filters on the `ride_date` partition column, so a single-day
  * run reads one partition.
  *
  * Parity notes (SURVEY.md §7.4): Python round() is HALF_EVEN ⇒ `bround`;
  * `round(x,3) if x else 0.0` maps NULL→0.0 ⇒ coalesce AFTER rounding;
  * SQL AVG ignores NULL distances ⇒ Spark avg matches; histogram keys are
  * sparse non-padded hour strings; sentinel 'Poza stacją' excluded from
  * busiest/routes; round trips require non-null equal stations.
  */
object DailyMetrics {

  val OutsideStation = "Poza stacją"

  private val stationPair = Encoders.tuple(Encoders.STRING, Encoders.STRING)
  private val hours = udaf(DayCounters.Hours, Encoders.scalaInt)
  private val busiest = udaf(DayCounters.Busiest, stationPair)
  private val routes = udaf(DayCounters.Routes, stationPair)

  /** Rides surviving the global short-ride filter, with their day. */
  private def base(rides: DataFrame): DataFrame =
    rides
      .filter(col("duration") > 2)
      .withColumn("day", to_date(col("start_time")))
      .filter(col("day").isNotNull)

  /** All-days metrics frame: one row per day with every metric, in date
    * order, from one aggregation over the rides. */
  def allDays(rides: DataFrame): DataFrame = {
    val stations = Seq(col("start_station"), col("end_station"))
    base(rides)
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("total_rides"),
        hours(hour(col("start_time"))).as("bike_rentals_histogram"),
        coalesce(bround(avg(col("distance")), 3), lit(0.0)).as("avg_distance_km"),
        coalesce(bround(avg(col("duration")), 2), lit(0.0)).as("avg_duration_min"),
        coalesce(bround(sum(col("distance")), 3), lit(0.0)).as("total_distance_km"),
        coalesce(sum(col("duration")), lit(0L)).cast("long").as("total_duration_min"),
        count(when(
          col("start_station").isNotNull && col("end_station").isNotNull &&
            col("start_station") === col("end_station"), 1)).as("round_trips"),
        count(when(col("end_station") === OutsideStation, 1))
          .as("left_outside_station"),
        busiest(stations: _*).as("busiest_stations_top5"),
        routes(stations: _*).as("top_routes_top5"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("date"),
        col("total_rides"), col("bike_rentals_histogram"),
        col("avg_distance_km"), col("avg_duration_min"),
        col("total_distance_km"), col("total_duration_min"),
        col("round_trips"), col("left_outside_station"),
        col("busiest_stations_top5"), col("top_routes_top5"))
      // one row per day: a single partition holds the frame, and a sort
      // inside it needs no range-partition sampling job
      .coalesce(1).sortWithinPartitions(col("date"))
  }

  /** Single-day metrics as a typed document (reference `compute_metrics`
    * result shape). Collects ONE row — never fact data.
    *
    * On a frame with the store's `ride_date` partition column the filter
    * also names `ride_date`, which the scan turns into a partition
    * filter: one partition is read. That is exact because the store
    * keeps `ride_date = to_date(start_time)` (session zone, UTC — see
    * [[graft.store.RidesTable]]); the `start_time` filter stays, so the
    * result does not depend on it. */
  def forDay(rides: DataFrame, day: String): DayMetrics = {
    val spark = rides.sparkSession
    import spark.implicits._
    val onDay = to_date(col("start_time")) === lit(day)
    val filtered =
      if (rides.columns.contains("ride_date"))
        rides.filter(col("ride_date") === lit(day).cast("date") && onDay)
      else rides.filter(onDay)
    val rows = allDays(filtered)
      .as[DayMetrics]
      .collect()
    rows.headOption.getOrElse(
      DayMetrics(day, 0L, Map.empty, 0.0, 0.0, 0.0, 0L, 0L, 0L, Nil, Nil))
  }

  /** A12 — distinct ride dates for a year, ascending (reference
    * :197–202). */
  def datesForYear(rides: DataFrame, yr: Int): Seq[String] = {
    val spark = rides.sparkSession
    import spark.implicits._
    rides
      .filter(year(col("start_time")) === yr)
      .select(date_format(to_date(col("start_time")), "yyyy-MM-dd").as("d"))
      .distinct().orderBy(col("d")).as[String].collect().toSeq
  }

  /** A13 — the latest ride date (reference :300–305), as max() partial
    * agg instead of the reference's ORDER BY … LIMIT 1 full sort. On a
    * frame with the store's `ride_date` partition column it takes
    * `max(ride_date)`, which reads no data column: the store keeps
    * `ride_date = to_date(start_time)`, the invariant [[forDay]] relies
    * on too. */
  def latestDate(rides: DataFrame): Option[String] = {
    val day =
      if (rides.columns.contains("ride_date")) col("ride_date")
      else to_date(col("start_time"))
    val r = rides.agg(max(day).as("d")).head()
    if (r.isNullAt(0)) None else Some(r.getDate(0).toString)
  }

  /** Typed all-days Dataset. */
  def allDaysTyped(rides: DataFrame): Dataset[DayMetrics] = {
    val spark = rides.sparkSession
    import spark.implicits._
    allDays(rides).as[DayMetrics]
  }
}
