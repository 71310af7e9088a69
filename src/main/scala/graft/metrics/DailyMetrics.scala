package graft.metrics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{DayMetrics, RouteStat, StationStat}

/** Per-day ride metrics — A1–A13, J3, T1/T2, U1, F2–F7 (reference:
  * src/compute_daily_metrics.py:30–194 `compute_metrics`).
  *
  * The reference runs 11 separate SQL queries per day, each a full table
  * scan with the same `date(start_time)=? AND duration>2` predicate
  * (§3.2 of SURVEY.md). Here ALL days are computed in one job:
  *  - one scan with the global duration filter (F2);
  *  - one partial+final hash agg per metric family, grouped by ride day
  *    (the scalars and the hourly histogram share one: 24 conditional
  *    counts);
  *  - busiest stations from one conditional agg over each ride's
  *    (station, role) contributions (the reference emulates a FULL OUTER
  *    join of departures and arrivals with UNION + 2 LEFT JOINs — a
  *    SQLite limitation, :112–141);
  *  - per-day top-5 via row_number window over the (small) aggregated
  *    frames, NOT a global sort of facts.
  *
  * Scale: grouping keys are (day[, station/route]); the full-history run
  * is one shuffle per metric family rather than days × 11 scans. The
  * families stay separate plans so that a consumer reading only some
  * columns (the range requests of [[RangeMetrics]]) lets Catalyst drop
  * the others. On the rides store (see [[graft.store.RidesTable]])
  * [[forDay]] also filters on the `ride_date` partition column, so a
  * single-day run reads one partition.
  *
  * Parity notes (SURVEY.md §7.4): Python round() is HALF_EVEN ⇒ `bround`;
  * `round(x,3) if x else 0.0` maps NULL→0.0 ⇒ coalesce AFTER rounding;
  * SQL AVG ignores NULL distances ⇒ Spark avg matches; histogram keys are
  * sparse non-padded hour strings; sentinel 'Poza stacją' excluded from
  * busiest/routes; round trips require non-null equal stations.
  */
object DailyMetrics {

  val OutsideStation = "Poza stacją"

  /** Rides surviving the global short-ride filter, with their day. */
  private def base(rides: DataFrame): DataFrame =
    rides
      .filter(col("duration") > 2)
      .withColumn("day", to_date(col("start_time")))
      .withColumn("hour", hour(col("start_time")))
      .filter(col("day").isNotNull)

  /** Scalar metrics per day — total/avg distance+duration, counts — and
    * A2, the sparse hourly histogram (keys "0"…"23" ascending, hours
    * without rides absent), from 24 conditional counts in the same agg. */
  private def scalars(b: DataFrame): DataFrame = {
    val hours = 0 until 24
    val byHour = hours.map(h => count(when(col("hour") === h, 1)).as(s"h$h"))
    b.groupBy(col("day")).agg(
      count(lit(1)).as("total_rides"),
      Seq(
        coalesce(bround(avg(col("distance")), 3), lit(0.0)).as("avg_distance_km"),
        coalesce(bround(avg(col("duration")), 2), lit(0.0)).as("avg_duration_min"),
        coalesce(bround(sum(col("distance")), 3), lit(0.0)).as("total_distance_km"),
        coalesce(sum(col("duration")), lit(0L)).cast("long").as("total_duration_min"),
        count(when(
          col("start_station").isNotNull && col("end_station").isNotNull &&
            col("start_station") === col("end_station"), 1)).as("round_trips"),
        count(when(col("end_station") === OutsideStation, 1))
          .as("left_outside_station")
      ) ++ byHour: _*)
      .withColumn("bike_rentals_histogram", map_from_entries(filter(
        array(hours.map(h => struct(lit(h.toString).as("k"), col(s"h$h").as("v"))): _*),
        _.getField("v") > 0)))
      .drop(hours.map(h => s"h$h"): _*)
  }

  /** J3/T1 — busiest stations top-5 per day. The reference computes
    * dep/arr as two scans + a (UNION-emulated) full-outer join; the
    * full-outer form lives on in q04. Here each ride explodes into its
    * (station, role) contributions and ONE conditional groupBy(day,
    * station) produces both counts — half the shuffles of the dep⟗arr
    * plan at 100 TB, identical output. */
  private def busiest(b: DataFrame): DataFrame = {
    val joined = b
      .select(col("day"), explode(array(
        struct(col("start_station").as("station"), lit(1L).as("dep")),
        struct(col("end_station").as("station"), lit(0L).as("dep"))
      )).as("c"))
      .select(col("day"), col("c.station").as("station"), col("c.dep").as("dep"))
      .filter(col("station").isNotNull && col("station") =!= OutsideStation)
      .groupBy(col("day"), col("station"))
      .agg(
        sum(lit(1L) - col("dep")).as("arrivals"),
        sum(col("dep")).as("departures"))
      .withColumn("total", col("arrivals") + col("departures"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("total").desc, col("station").asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy(col("day"))
      .agg(array_sort(collect_list(struct(col("rank"), col("station"),
        col("arrivals"), col("departures"), col("total")))).as("ranked"))
      .select(col("day"),
        transform(col("ranked"), r => struct(
          r.getField("station").as("station"),
          r.getField("arrivals").as("arrivals"),
          r.getField("departures").as("departures"),
          r.getField("total").as("total")
        )).as("busiest_stations_top5"))
  }

  /** A11/T2 — top-5 routes per day (sentinels + round trips excluded). */
  private def routes(b: DataFrame): DataFrame = {
    val counted = b
      .filter(
        col("start_station").isNotNull && col("end_station").isNotNull &&
          col("start_station") =!= col("end_station") &&
          col("start_station") =!= OutsideStation &&
          col("end_station") =!= OutsideStation)
      .groupBy(col("day"), col("start_station"), col("end_station"))
      .agg(count(lit(1)).as("rides"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("rides").desc, col("start_station").asc, col("end_station").asc)
    counted
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy(col("day"))
      .agg(array_sort(collect_list(struct(col("rank"), col("start_station"),
        col("end_station"), col("rides")))).as("ranked"))
      .select(col("day"),
        transform(col("ranked"), r => struct(
          r.getField("start_station").as("start_station"),
          r.getField("end_station").as("end_station"),
          r.getField("rides").as("rides")
        )).as("top_routes_top5"))
  }

  /** All-days metrics frame: one row per day with every metric, in date
    * order. The reference's per-day 11-scan loop collapses into 3
    * grouped aggs joined on the (small) day key. */
  def allDays(rides: DataFrame): DataFrame = {
    val b = base(rides)
    scalars(b)
      .join(busiest(b), Seq("day"), "left")
      .join(routes(b), Seq("day"), "left")
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("date"),
        col("total_rides"),
        col("bike_rentals_histogram"),
        col("avg_distance_km"), col("avg_duration_min"),
        col("total_distance_km"), col("total_duration_min"),
        col("round_trips"), col("left_outside_station"),
        coalesce(col("busiest_stations_top5"), array())
          .as("busiest_stations_top5"),
        coalesce(col("top_routes_top5"), array()).as("top_routes_top5")
      )
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
    * agg instead of the reference's ORDER BY … LIMIT 1 full sort. */
  def latestDate(rides: DataFrame): Option[String] = {
    val r = rides.agg(max(to_date(col("start_time"))).as("d")).head()
    if (r.isNullAt(0)) None else Some(r.getDate(0).toString)
  }

  /** Typed all-days Dataset. */
  def allDaysTyped(rides: DataFrame): Dataset[DayMetrics] = {
    val spark = rides.sparkSession
    import spark.implicits._
    allDays(rides).as[DayMetrics]
  }
}
