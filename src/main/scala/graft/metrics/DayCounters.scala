package graft.metrics

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{RouteStat, StationStat}

/** The keyed-counter aggregates of [[DailyMetrics.allDays]], one per
  * metric family that is not a scalar. Each is a typed UDAF
  * (`functions.udaf`) with a buffer bounded by what one day can hold —
  * 24 hours, the day's distinct stations, the day's distinct routes —
  * never by its rides, so the map-side partial aggregation ships one
  * small buffer per (task, day) through the exchange. `reduce` and
  * `merge` update the buffer in place, as `Aggregator` allows.
  *
  * The top-5 lists are cut in `finish` with the tie-breaks of the
  * `row_number` window they replace, comparing station names in Spark's
  * string order (UTF-8 bytes), so ties resolve exactly as `ORDER BY
  * station` does. */
private[metrics] object DayCounters {

  private def isStation(s: String): Boolean =
    s != null && s != DailyMetrics.OutsideStation

  private def utf8Compare(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** A2 — rides per hour of day. `finish` gives the sparse histogram:
    * keys "0"…"23" ascending, hours without rides absent. */
  object Hours extends Aggregator[Int, Array[Long], Map[String, Long]] {
    def zero: Array[Long] = new Array[Long](24)

    def reduce(b: Array[Long], hour: Int): Array[Long] = { b(hour) += 1; b }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var h = 0
      while (h < 24) { a(h) += b(h); h += 1 }
      a
    }

    def finish(b: Array[Long]): Map[String, Long] =
      ListMap.from((0 until 24).filter(b(_) > 0).map(h => h.toString -> b(h)))

    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  }

  /** J3/T1 — busiest stations: station → (arrivals, departures) over a
    * ride's (start, end) stations, NULL and the sentinel skipped; top 5
    * by total desc, then station asc. */
  object Busiest extends Aggregator[(String, String),
      mutable.HashMap[String, (Long, Long)], Seq[StationStat]] {
    def zero: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty

    private def add(b: mutable.HashMap[String, (Long, Long)], station: String,
        arrivals: Long, departures: Long): Unit =
      if (isStation(station)) {
        val (a, d) = b.getOrElse(station, (0L, 0L))
        b.update(station, (a + arrivals, d + departures))
      }

    def reduce(b: mutable.HashMap[String, (Long, Long)],
        ride: (String, String)): mutable.HashMap[String, (Long, Long)] = {
      add(b, ride._1, 0L, 1L)
      add(b, ride._2, 1L, 0L)
      b
    }

    def merge(a: mutable.HashMap[String, (Long, Long)],
        b: mutable.HashMap[String, (Long, Long)]): mutable.HashMap[String, (Long, Long)] = {
      b.foreach { case (s, (arr, dep)) => add(a, s, arr, dep) }
      a
    }

    def finish(b: mutable.HashMap[String, (Long, Long)]): Seq[StationStat] =
      b.iterator.map { case (s, (arr, dep)) => StationStat(s, arr, dep, arr + dep) }
        .toSeq
        .sortWith((x, y) =>
          if (x.total != y.total) x.total > y.total
          else utf8Compare(x.station, y.station) < 0)
        .take(5)

    def bufferEncoder: Encoder[mutable.HashMap[String, (Long, Long)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[StationStat]] = ExpressionEncoder()
  }

  /** A11/T2 — top routes: (start, end) → rides, skipping rides with a
    * NULL or sentinel station and round trips; top 5 by rides desc, then
    * start asc, then end asc. */
  object Routes extends Aggregator[(String, String),
      mutable.HashMap[(String, String), Long], Seq[RouteStat]] {
    def zero: mutable.HashMap[(String, String), Long] = mutable.HashMap.empty

    private def add(b: mutable.HashMap[(String, String), Long],
        route: (String, String), rides: Long): Unit =
      b.update(route, b.getOrElse(route, 0L) + rides)

    def reduce(b: mutable.HashMap[(String, String), Long],
        ride: (String, String)): mutable.HashMap[(String, String), Long] = {
      if (isStation(ride._1) && isStation(ride._2) && ride._1 != ride._2)
        add(b, ride, 1L)
      b
    }

    def merge(a: mutable.HashMap[(String, String), Long],
        b: mutable.HashMap[(String, String), Long]): mutable.HashMap[(String, String), Long] = {
      b.foreach { case (route, n) => add(a, route, n) }
      a
    }

    def finish(b: mutable.HashMap[(String, String), Long]): Seq[RouteStat] =
      b.iterator.map { case ((s, e), n) => RouteStat(s, e, n) }
        .toSeq
        .sortWith((x, y) =>
          if (x.rides != y.rides) x.rides > y.rides
          else {
            val c = utf8Compare(x.start_station, y.start_station)
            if (c != 0) c < 0 else utf8Compare(x.end_station, y.end_station) < 0
          })
        .take(5)

    def bufferEncoder: Encoder[mutable.HashMap[(String, String), Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[RouteStat]] = ExpressionEncoder()
  }
}
