package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A14–A17/T3/F9/T7 — date-range re-aggregation of per-day metrics,
  * server-side (reference: web/js/app.js:141–222 — the browser's fourth
  * query surface, reproduced over the [[DailyMetrics.allDays]] frame).
  *
  * Deliberate reference semantics preserved:
  *  - busiest/routes aggregate each day's PRE-TRUNCATED top-5 lists, not
  *    raw facts (app.js:168, 188 — lossy by design);
  *  - histogram is the mean of per-day buckets, absent hours count 0,
  *    `Math.round` = HALF_UP (app.js:155–163);
  *  - JS re-rank has no tie-break (app.js:179) — we add station/route
  *    ascending as a deterministic secondary key (SURVEY.md §7.4.11).
  *
  * Input is the (tiny) per-day metrics frame, so every aggregate here is
  * over ≤366 rows per year — but the plans are written as if it were
  * large: exploded lists group-by in one shuffle.
  */
object RangeMetrics {

  private def inRange(daily: DataFrame, start: String, end: String) =
    daily.filter(col("date").between(start, end))

  /** A17 — per-metric time series over the range (null→0). */
  def series(daily: DataFrame, start: String, end: String, metric: String): DataFrame =
    inRange(daily, start, end)
      .select(col("date"), coalesce(col(metric), lit(0)).as(metric))
      .orderBy(col("date"))

  /** A14 — hour histogram averaged over the days of the range;
    * all 24 hours present, Math.round (HALF_UP) like the browser. Each
    * day contributes exactly one row per hour (absent hours as 0), so
    * the per-hour row count is the number of days: no separate count
    * job. An empty range yields no rows. */
  def histogramAvg(daily: DataFrame, start: String, end: String): DataFrame =
    inRange(daily, start, end)
      .select(explode(sequence(lit(0), lit(23))).as("hour"),
        col("bike_rentals_histogram").as("h"))
      .select(col("hour"),
        coalesce(element_at(col("h"), col("hour").cast("string")), lit(0L)).as("n"))
      .groupBy(col("hour"))
      .agg(floor(sum(col("n")).cast("double") / count(lit(1)) + 0.5).cast("long")
        .as("avg_rentals"))
      .orderBy(col("hour"))

  /** A15/T3 — busiest stations over the range: sum each day's top-5
    * entries per station, re-rank by summed total. */
  def busiestStations(daily: DataFrame, start: String, end: String, topN: Int = 5): DataFrame =
    inRange(daily, start, end)
      .select(explode(col("busiest_stations_top5")).as("s"))
      .groupBy(col("s.station").as("station"))
      .agg(
        sum(col("s.arrivals")).as("arrivals"),
        sum(col("s.departures")).as("departures"),
        sum(col("s.total")).as("total"))
      .orderBy(col("total").desc, col("station").asc)
      .limit(topN)

  /** T7 — date snapping against the sorted available-date vector
    * (reference web/js/app.js:79–110 binary search): snap a requested
    * date to the nearest available on-or-before / on-or-after / nearest
    * date. Driver-side — the date vector is ≤366 entries/year. */
  def snapDate(dates: Vector[String], target: String, mode: String = "nearest"): Option[String] = {
    if (dates.isEmpty) return None
    val i = dates.search(target).insertionPoint
    val onOrBefore = if (i < dates.length && dates(i) == target) Some(dates(i))
      else if (i > 0) Some(dates(i - 1)) else None
    val onOrAfter = if (i < dates.length) Some(dates(i)) else None
    mode match {
      case "before" => onOrBefore
      case "after"  => onOrAfter
      case _ => (onOrBefore, onOrAfter) match {
        case (Some(b), Some(a)) =>
          val db = math.abs(java.time.LocalDate.parse(target).toEpochDay -
            java.time.LocalDate.parse(b).toEpochDay)
          val da = math.abs(java.time.LocalDate.parse(a).toEpochDay -
            java.time.LocalDate.parse(target).toEpochDay)
          if (db <= da) Some(b) else Some(a)
        case (b, a) => b.orElse(a)
      }
    }
  }

  /** A16/T3 — top routes over the range, key "start → end". */
  def topRoutes(daily: DataFrame, start: String, end: String, topN: Int = 5): DataFrame =
    inRange(daily, start, end)
      .select(explode(col("top_routes_top5")).as("r"))
      .groupBy(concat_ws(" → ", col("r.start_station"), col("r.end_station"))
        .as("route"))
      .agg(sum(col("r.rides")).as("rides"))
      .orderBy(col("rides").desc, col("route").asc)
      .limit(topN)
}
