package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.metrics.{DailyMetrics, MetricsJson}
import graft.model.{Ride, RouteStat, StationStat}

/** Goldens from reference tests/test_compute_daily_metrics.py:16–101
  * (the 6-ride fixture) and the JSON write/merge tests (:103–163). */
class DailyMetricsSpec extends SparkSpec {

  private def ride(uid: Long, bike: String, st: String, et: String,
      ss: String, es: String, dur: Int, dist: Double): Ride =
    Ride(Some(uid), Some(bike), Some(Timestamp.valueOf(st)),
      Some(Timestamp.valueOf(et)),
      Option(ss), Option(es), Some(dur),
      None, None, None, None, Some(dist))

  private lazy val fixture = {
    import spark.implicits._
    Seq(
      ride(1, "100", "2025-04-07 00:10:00", "2025-04-07 00:30:00", "A", "A", 10, 1.2),
      ride(2, "101", "2025-04-07 13:00:00", "2025-04-07 13:20:00", "A", "B", 20, 2.5),
      ride(3, "102", "2025-04-07 13:15:00", "2025-04-07 13:45:00", "B", "A", 30, 3.0),
      ride(6, "105", "2025-04-07 13:30:00", "2025-04-07 13:32:00", "C", "D", 2, 0.5),
      ride(4, "103", "2025-04-07 14:05:00", "2025-04-07 14:25:00", "B", "Poza stacją", 17, 2.0),
      ride(5, "104", "2025-04-06 10:00:00", "2025-04-06 10:20:00", "C", "D", 25, 2.0)
    ).toDF()
  }

  test("compute_metrics core goldens for 2025-04-07") {
    val m = DailyMetrics.forDay(fixture, "2025-04-07")
    assert(m.date === "2025-04-07")
    assert(m.total_rides === 4)
    assert(m.bike_rentals_histogram === Map("0" -> 1L, "13" -> 2L, "14" -> 1L))
    assert(math.abs(m.total_distance_km - 8.7) < 1e-6)
    assert(m.avg_distance_km === 2.175)
    assert(m.total_duration_min === 77)
    assert(m.avg_duration_min === 19.25)
    assert(m.round_trips === 1)
    assert(m.left_outside_station === 1)

    val topNames = m.busiest_stations_top5.map(_.station)
    assert(topNames.contains("A") && topNames.contains("B"))
    assert(!topNames.contains("Poza stacją"))
    // A and B: 2 arrivals + 2 departures each → total 4, tie broken A<B
    assert(m.busiest_stations_top5.take(2).map(_.station) === Seq("A", "B"))
    assert(m.busiest_stations_top5.head.total === 4)

    val routes = m.top_routes_top5.map(r => (r.start_station, r.end_station) -> r.rides).toMap
    assert(routes(("A", "B")) === 1)
    assert(routes(("B", "A")) === 1)
    assert(!routes.contains(("A", "A")), "round trips excluded from routes")
    assert(routes.keys.forall { case (s, e) => s != "Poza stacją" && e != "Poza stacją" })
  }

  test("allDays covers both fixture days and matches forDay") {
    val all = DailyMetrics.allDaysTyped(fixture).collect().map(m => m.date -> m).toMap
    assert(all.keySet === Set("2025-04-06", "2025-04-07"))
    assert(all("2025-04-07") === DailyMetrics.forDay(fixture, "2025-04-07"))
    val d6 = all("2025-04-06")
    assert(d6.total_rides === 1 && d6.avg_duration_min === 25.0)
  }

  test("empty day yields zeroed metrics like the reference's falsy-0 path") {
    val m = DailyMetrics.forDay(fixture, "2025-01-01")
    assert(m.total_rides === 0 && m.avg_distance_km === 0.0 &&
      m.total_duration_min === 0 && m.bike_rentals_histogram.isEmpty &&
      m.busiest_stations_top5.isEmpty && m.top_routes_top5.isEmpty)
  }

  /** Scans of the store at `store` in the plans of the queries `f` runs
    * (`f` builds its own frames, so its plans come from a listener). */
  private def storeScans(store: String)(f: => Unit) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try f finally {
      // listener events arrive asynchronously: wait for f's query
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    seen.asScala.toSeq.flatMap(qe => scansIn(store, qe.executedPlan))
  }

  private def scansIn(store: String, plan: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
        _.toString.endsWith(store.split('/').last)) => s
    }
  }

  test("forDay on the store filters on the ride_date partition") {
    val store = tmpDir("forday") + "/bike_rides"
    graft.store.RidesTable.append(spark, fixture, store)
    val table = graft.store.RidesTable.read(spark, store)

    var m: graft.model.DayMetrics = null
    val scans = storeScans(store) { m = DailyMetrics.forDay(table, "2025-04-07") }
    assert(scans.nonEmpty, "forDay's query scans the store")
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "ride_date")),
        s.toString)
    }
    // same document as the unpartitioned frame, where no pruning applies
    assert(m === DailyMetrics.forDay(fixture, "2025-04-07"))
  }

  test("forDay and every range request scan the store once; latestDate reads no data column") {
    import graft.metrics.RangeMetrics
    val store = tmpDir("onescan") + "/bike_rides"
    graft.store.RidesTable.append(spark, fixture, store)
    val table = graft.store.RidesTable.read(spark, store)

    assert(storeScans(store) { DailyMetrics.forDay(table, "2025-04-07") }.size === 1)

    var latest: Option[String] = None
    val dateScans = storeScans(store) { latest = DailyMetrics.latestDate(table) }
    assert(latest === Some("2025-04-07"))
    assert(dateScans.size === 1)
    assert(dateScans.head.requiredSchema.isEmpty, dateScans.head.toString)

    val daily = DailyMetrics.allDays(graft.store.RidesTable.read(spark, store))
    Seq(
      "series" -> RangeMetrics.series(daily, "2025-04-01", "2025-04-30", "total_rides"),
      "histogramAvg" -> RangeMetrics.histogramAvg(daily, "2025-04-01", "2025-04-30"),
      "busiestStations" -> RangeMetrics.busiestStations(daily, "2025-04-01", "2025-04-30"),
      "topRoutes" -> RangeMetrics.topRoutes(daily, "2025-04-01", "2025-04-30")
    ).foreach { case (kind, df) =>
      assert(df.collect().nonEmpty, kind)
      val plan = df.queryExecution.executedPlan
      assert(scansIn(store, plan).size === 1, s"$kind: $plan")
    }
  }

  test("allDays equals a plain-Scala tally on seeded random rides") {
    import java.time.{LocalDateTime, ZoneOffset}
    import spark.implicits._
    val stations = Seq("A", "B", "C", "D", "E", "F", "G")
    val days = (1 to 4).map(d => LocalDateTime.of(2025, 3, d, 0, 0))
    // 2025-03-10: eight stations, six of them tied at rank 3–8, and seven
    // routes tied at rank 2–8; 2025-03-11: no ride names a real station,
    // so both lists are empty under a non-empty histogram
    def edgeRide(uid: Long, at: String, from: Option[String], to: Option[String]) =
      Ride(Some(uid), Some("b"), Some(Timestamp.valueOf(at)), None, from, to,
        Some(10), None, None, None, None, None)
    val ring = Seq("S1", "S2", "S3", "S4", "Ś5", "S6", "S7", "S8")
    val edgeDays =
      edgeRide(10000, "2025-03-10 08:00:00", Some("S1"), Some("S2")) +:
        ring.indices.map(i => edgeRide(10001 + i, s"2025-03-10 0${i % 3 + 7}:30:00",
          Some(ring(i)), Some(ring((i + 1) % ring.size)))) ++:
        Seq(None -> Some(DailyMetrics.OutsideStation),
          Some(DailyMetrics.OutsideStation) -> None, None -> None,
          Some(DailyMetrics.OutsideStation) -> Some(DailyMetrics.OutsideStation))
          .zipWithIndex.map { case ((from, to), i) =>
            edgeRide(10100 + i, s"2025-03-11 1${i}:05:00", from, to) }
    (1 to 4).foreach { seed =>
      val r = new scala.util.Random(seed)
      // each day gets rides in only a few hours, so most hours are absent
      val hoursOf = days.map(_ => r.shuffle((0 until 24).toList).take(2 + r.nextInt(5)))
      def station(): Option[String] = r.nextInt(20) match {
        case 0 => None
        case 1 | 2 => Some(DailyMetrics.OutsideStation)
        case _ => Some(stations(r.nextInt(stations.size)))
      }
      val rides = (1 to 150 + r.nextInt(150)).map { uid =>
        val d = r.nextInt(days.size)
        val start = days(d).plusHours(hoursOf(d)(r.nextInt(hoursOf(d).size)).toLong)
          .plusMinutes(r.nextInt(60).toLong)
        val from = station()
        val to = if (r.nextInt(8) == 0) from else station()
        Ride(Some(uid.toLong), Some("b"),
          if (r.nextInt(50) == 0) None else Some(Timestamp.from(start.toInstant(ZoneOffset.UTC))),
          None, from, to, Some(r.nextInt(30)), None, None, None, None, None)
      } ++ edgeDays

      def utc(x: Ride) = x.start_time.get.toInstant.atOffset(ZoneOffset.UTC)
      val counted = rides.filter(x => x.duration.exists(_ > 2) && x.start_time.isDefined)
      val want = counted.groupBy(utc(_).toLocalDate).map { case (day, rs) =>
        val hist = rs.groupBy(utc(_).getHour).map { case (h, xs) => h.toString -> xs.size.toLong }
        def real(s: Option[String]) = s.filter(_ != DailyMetrics.OutsideStation)
        val contributions = rs.flatMap(x =>
          real(x.start_station).map(_ -> (0L, 1L)).toSeq ++
            real(x.end_station).map(_ -> (1L, 0L)).toSeq)
        val busiest = contributions.groupBy(_._1).map { case (st, cs) =>
          val arr = cs.map(_._2._1).sum; val dep = cs.map(_._2._2).sum
          StationStat(st, arr, dep, arr + dep)
        }.toSeq.sortBy(x => (-x.total, x.station)).take(5)
        val routes = rs.flatMap(x => (real(x.start_station), real(x.end_station)) match {
          case (Some(a), Some(b)) if a != b => Some((a, b))
          case _ => None
        }).groupBy(identity).map { case ((a, b), xs) => RouteStat(a, b, xs.size.toLong) }
          .toSeq.sortBy(x => (-x.rides, x.start_station, x.end_station)).take(5)
        day.toString -> (rs.size.toLong, rs.flatMap(_.duration).map(_.toLong).sum,
          rs.count(x => x.start_station.isDefined && x.start_station == x.end_station).toLong,
          rs.count(_.end_station.contains(DailyMetrics.OutsideStation)).toLong,
          hist, busiest, routes)
      }

      // the repartitioned copy splits every day over three tasks, so the
      // day's partial aggregation buffers merge in the final aggregation
      Seq("as built" -> rides.toDF(), "repartition(3)" -> rides.toDF().repartition(3))
        .foreach { case (copy, df) =>
          val got = DailyMetrics.allDaysTyped(df).collect().map(m =>
            m.date -> (m.total_rides, m.total_duration_min, m.round_trips,
              m.left_outside_station, m.bike_rentals_histogram,
              m.busiest_stations_top5, m.top_routes_top5)).toMap
          assert(got === want, s"seed $seed, $copy")
        }
      assert(want.values.exists(_._5.size < 24), s"seed $seed covers missing hours")
      val tied = want("2025-03-10")
      assert(tied._6.map(_.station) === Seq("S1", "S2", "S3", "S4", "S6"))
      assert(tied._7.map(r => r.start_station -> r.rides) ===
        Seq("S1" -> 2L, "S2" -> 1L, "S3" -> 1L, "S4" -> 1L, "S6" -> 1L))
      val stationless = want("2025-03-11")
      assert(stationless._5.nonEmpty && stationless._6.isEmpty && stationless._7.isEmpty)
    }
  }

  test("datesForYear and latestDate") {
    assert(DailyMetrics.datesForYear(fixture, 2025) === Seq("2025-04-06", "2025-04-07"))
    assert(DailyMetrics.datesForYear(fixture, 2024) === Seq.empty)
    assert(DailyMetrics.latestDate(fixture) === Some("2025-04-07"))
  }

  // reference test_main_writes_json (:103–141)
  test("yearly JSON write then merge second day") {
    val out = tmpDir("metrics") + "/metrics.json"
    MetricsJson.mergeDay(out, DailyMetrics.forDay(fixture, "2025-04-07"))
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(txt.contains("\"year\": 2025"))
    assert(txt.contains("\"2025-04-07\""))
    assert(txt.contains("\"total_rides\": 4"))

    MetricsJson.mergeDay(out, DailyMetrics.forDay(fixture, "2025-04-06"))
    val (yr, days) = MetricsJson.readYearFile(out)
    assert(yr === Some(2025))
    assert(days.keySet === Set("2025-04-07", "2025-04-06"))
  }

  // reference test_year_mode_rebuild (:143–163)
  test("year rebuild mode") {
    val out = tmpDir("metrics") + "/metrics_2025.json"
    val all = DailyMetrics.allDaysTyped(fixture).collect().toSeq
    MetricsJson.mergeYear(out, 2025, all)
    val (yr, days) = MetricsJson.readYearFile(out)
    assert(yr === Some(2025))
    assert(days.keySet === Set("2025-04-06", "2025-04-07"))
  }

  // reference read_year_file legacy tolerance (compute_daily_metrics.py:205–221)
  test("readYearFile tolerates legacy bare-map shape and corrupt files") {
    val dir = tmpDir("legacy")
    // legacy shape: {date: metrics} without the {year, days} wrapper
    val legacy = s"$dir/legacy.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(legacy),
      """{"2023-05-01": {"total_rides": 7}}""")
    val (yr, days) = MetricsJson.readYearFile(legacy)
    assert(yr === None && days.keySet === Set("2023-05-01"))
    // merging a day on top preserves the legacy day and upgrades the shape
    MetricsJson.mergeDay(legacy, DailyMetrics.forDay(fixture, "2025-04-07"))
    val (yr2, days2) = MetricsJson.readYearFile(legacy)
    assert(yr2 === Some(2025))
    assert(days2.keySet === Set("2023-05-01", "2025-04-07"))

    // corrupt file → treated as empty, like the reference
    val corrupt = s"$dir/corrupt.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(corrupt), "{not json")
    assert(MetricsJson.readYearFile(corrupt) === (None, scala.collection.immutable.ListMap.empty))
    // and mergeDay recovers by rewriting it
    MetricsJson.mergeDay(corrupt, DailyMetrics.forDay(fixture, "2025-04-06"))
    assert(MetricsJson.readYearFile(corrupt)._2.keySet === Set("2025-04-06"))
  }

  test("JSON byte-shape matches Python json.dump(indent=2, ensure_ascii=False)") {
    val m = graft.model.DayMetrics(
      date = "2025-04-07", total_rides = 2,
      bike_rentals_histogram = Map("0" -> 1L, "13" -> 1L),
      avg_distance_km = 2.175, avg_duration_min = 19.25,
      total_distance_km = 8.7, total_duration_min = 77,
      round_trips = 1, left_outside_station = 1,
      busiest_stations_top5 = Seq(graft.model.StationStat("Poza stacją", 1, 0, 1)),
      top_routes_top5 = Seq(graft.model.RouteStat("A", "B", 1)))
    val out = tmpDir("metrics") + "/shape.json"
    MetricsJson.mergeDay(out, m)
    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    val want =
      """{
        |  "year": 2025,
        |  "days": {
        |    "2025-04-07": {
        |      "total_rides": 2,
        |      "bike_rentals_histogram": {
        |        "0": 1,
        |        "13": 1
        |      },
        |      "avg_distance_km": 2.175,
        |      "avg_duration_min": 19.25,
        |      "total_distance_km": 8.7,
        |      "total_duration_min": 77,
        |      "round_trips": 1,
        |      "left_outside_station": 1,
        |      "busiest_stations_top5": [
        |        {
        |          "station": "Poza stacją",
        |          "arrivals": 1,
        |          "departures": 0,
        |          "total": 1
        |        }
        |      ],
        |      "top_routes_top5": [
        |        {
        |          "start_station": "A",
        |          "end_station": "B",
        |          "rides": 1
        |        }
        |      ]
        |    }
        |  }
        |}""".stripMargin
    assert(got === want)
  }
}
