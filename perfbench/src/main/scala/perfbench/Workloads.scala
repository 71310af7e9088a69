package perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, functions}

import graft.ingest.{RideCsv, SnapshotJson, StationCsv}
import graft.metrics.{DailyMetrics, MetricsJson, RangeMetrics}
import graft.model.DayMetrics
import graft.store.{CsvSink, RidesTable}
import graft.streaming.StatusStream
import graft.transform.RideTransform

/** The three workloads. Each sets up (timed as `setup_s`), then runs
  * operations one after another until `--seconds` have passed, checking
  * every operation's output against the generator's own tally.
  *
  * End-to-end metrics, the same names on every workload:
  *  - `setup_s`: median of three from-scratch set-ups;
  *  - `op_s_p50`: median seconds of the workload's unit operation;
  *  - `rate_per_s`: the workload's throughput.
  */
object Workloads {

  val FirstDay: LocalDate = LocalDate.of(2025, 3, 1)
  val SetupReps = 3

  // ---- rides: daily_cycle ----

  /** The rides the store must hold, as the generator tallies them. */
  final class Expect {
    private val uids = mutable.HashSet.empty[Long]
    private val byDay = mutable.HashMap.empty[String, mutable.ArrayBuffer[Gen.Ride]]
    def size: Long = uids.size.toLong
    def days: Seq[String] = byDay.keys.toSeq.sorted

    /** Record one append's rows; returns how many are new to the store. */
    def add(rows: Seq[Gen.Ride]): Long = {
      var n = 0L
      rows.foreach { r =>
        if (!r.maintenanceRow && uids.add(r.uid)) {
          byDay.getOrElseUpdate(r.day.toString, mutable.ArrayBuffer.empty) += r
          n += 1
        }
      }
      n
    }

    private val memo = mutable.HashMap.empty[String, DayExpect]
    def day(d: String): DayExpect = memo.getOrElseUpdate(d, {
      val rs = byDay.getOrElse(d, mutable.ArrayBuffer.empty[Gen.Ride])
        .filter(_.durationMin > 2)
      val counted = rs.flatMap(r => Seq((r.from, 1L, 0L), (r.to, 0L, 1L)))
        .filter(_._1 != Gen.Outside)
        .groupBy(_._1).map { case (s, xs) =>
          (s, xs.map(_._3).sum, xs.map(_._2).sum) } // station, arr, dep
        .toSeq
      val busiest = counted.map { case (s, a, d0) => (s, a, d0, a + d0) }
        .sortBy(x => (-x._4, x._1)).take(5)
      val routes = rs.filter(r => r.from != r.to && r.from != Gen.Outside &&
          r.to != Gen.Outside)
        .groupBy(r => (r.from, r.to)).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
        .toSeq.sortBy(x => (-x._3, x._1, x._2)).take(5)
      DayExpect(rs.size.toLong, rs.count(r => r.from == r.to).toLong,
        rs.count(_.to == Gen.Outside).toLong, rs.map(_.durationMin.toLong).sum,
        rs.groupBy(_.start.getHour).map { case (h, v) => h.toString -> v.size.toLong },
        busiest, routes)
    })
    def forget(d: String): Unit = memo.remove(d)
  }

  final case class DayExpect(rides: Long, roundTrips: Long, outside: Long,
      durationMin: Long, hist: Map[String, Long],
      busiest: Seq[(String, Long, Long, Long)], routes: Seq[(String, String, Long)])

  def checkDay(m: DayMetrics, want: DayExpect): Seq[String] = {
    val got = DayExpect(m.total_rides, m.round_trips, m.left_outside_station,
      m.total_duration_min, m.bike_rentals_histogram,
      m.busiest_stations_top5.map(s => (s.station, s.arrivals, s.departures, s.total)),
      m.top_routes_top5.map(r => (r.start_station, r.end_station, r.rides)))
    Seq(
      "total_rides" -> (got.rides, want.rides),
      "round_trips" -> (got.roundTrips, want.roundTrips),
      "left_outside_station" -> (got.outside, want.outside),
      "total_duration_min" -> (got.durationMin, want.durationMin),
      "histogram" -> (got.hist, want.hist),
      "busiest_stations_top5" -> (got.busiest, want.busiest),
      "top_routes_top5" -> (got.routes, want.routes)
    ).collect { case (k, (g, w)) if g != w =>
      s"${m.date} $k: got ${g.toString.take(200)}, expected ${w.toString.take(200)}" }
  }

  /** The CLI's `load-folder` body for one day file. */
  def loadDay(run: Run, stations: DataFrame, csv: Path, interim: Path,
      store: Path, op: Long): Long = {
    val spark = run.spark
    val name = csv.getFileName.toString.stripSuffix(".csv")
    val cleaned = RideTransform(RideCsv.read(spark, csv.toString), stations)
    run.span("store.interim", op) {
      CsvSink.writeInterim(cleaned, interim.resolve(s"${name}_clean").toString)
    }
    run.span("store.append", op) {
      RidesTable.append(spark, cleaned, store.toString)
    }
  }

  /** Generate `n` consecutive day files (each re-exporting the late rides
    * of the day before) into `dir`, starting at day `from`. */
  def writeDays(days: Gen.RideDays, from: Int, n: Int, dir: Path): IndexedSeq[(Path, Seq[Gen.Ride])] =
    (from until from + n).map { i =>
      val (again, own) = days.export(i)
      val rows = again ++ own
      val p = dir.resolve(s"Historia_przejazdow_${days.day(i)}.csv")
      Gen.writeRideCsv(rows, p)
      (p, rows)
    }

  private def loadLayers(run: Run, csvBytes: Long, filesAdded: Seq[Double]): Unit = {
    val loads = run.spansNamed("store.interim") ++ run.spansNamed("store.append")
    run.layer("ingest.csv_read_amplification", "ratio")(
      loads.map(_.inputBytes).sum.toDouble / math.max(1L, csvBytes))
    medianLayer(run, "store.append", "store.append")
    run.layer("store.append_outside_jobs_s", "s")(
      Run.median(run.spansNamed("store.append").map(_.outsideJobsSeconds)))
    run.layer("store.interim_s", "s")(
      Run.median(run.spansNamed("store.interim").map(_.span.seconds)))
    run.layer("store.files_written", "count")(Run.median(filesAdded))
  }

  /** `<prefix>_s`, `<prefix>_jobs` and `<prefix>_bytes_read`: medians
    * over the spans named `span`. */
  private def medianLayer(run: Run, span: String, prefix: String): Unit = {
    val ss = run.spansNamed(span)
    run.layer(s"${prefix}_s", "s")(Run.median(ss.map(_.span.seconds)))
    run.layer(s"${prefix}_jobs", "count")(Run.median(ss.map(_.jobs.toDouble)))
    run.layer(s"${prefix}_bytes_read", "bytes")(Run.median(ss.map(_.inputBytes.toDouble)))
  }

  /** The whole store against the tally: one more checked operation. */
  private def verifyCount(run: Run, store: Path, expect: Expect): Unit =
    run.op("store row count")(())(_ => {
      val n = RidesTable.read(run.spark, store.toString).count()
      if (n == expect.size) Nil else Seq(s"store holds $n rides, expected ${expect.size}")
    })

  val RangeKinds = Seq("series", "histogram_avg", "busiest_stations", "top_routes")

  /** One web range request over the daily metrics of the whole store. */
  def rangeRequest(run: Run, store: Path, kind: String, start: String,
      end: String): Seq[Row] = {
    val daily = DailyMetrics.allDays(RidesTable.read(run.spark, store.toString))
    (kind match {
      case "series" => RangeMetrics.series(daily, start, end, "total_rides")
      case "histogram_avg" => RangeMetrics.histogramAvg(daily, start, end)
      case "busiest_stations" => RangeMetrics.busiestStations(daily, start, end)
      case "top_routes" => RangeMetrics.topRoutes(daily, start, end)
    }).collect().toSeq
  }

  def expectedRange(expect: Expect, kind: String, start: String, end: String): Seq[Seq[Any]] = {
    val days = expect.days.filter(d => d >= start && d <= end)
    val ds = days.map(expect.day)
    kind match {
      case "series" => days.zip(ds).map { case (d, x) => Seq(d, x.rides) }
      case "histogram_avg" => (0 to 23).map { h =>
        val sum = ds.map(_.hist.getOrElse(h.toString, 0L)).sum
        Seq(h, math.floor(sum.toDouble / math.max(1, days.size) + 0.5).toLong)
      }
      case "busiest_stations" =>
        ds.flatMap(_.busiest).groupBy(_._1).map { case (s, xs) =>
          (s, xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum) }
          .toSeq.sortBy(x => (-x._4, x._1)).take(5)
          .map { case (s, a, d, t) => Seq(s, a, d, t) }
      case "top_routes" =>
        ds.flatMap(_.routes).groupBy(r => s"${r._1} → ${r._2}")
          .map { case (k, xs) => (k, xs.map(_._3).sum) }
          .toSeq.sortBy(x => (-x._2, x._1)).take(5)
          .map { case (k, n) => Seq(k, n) }
    }
  }

  def dailyCycle(run: Run): Unit = {
    val seed = run.opts.seed
    val historyDays = 3
    var history: IndexedSeq[(Path, Seq[Gen.Ride])] = IndexedSeq.empty
    var cycle: IndexedSeq[(Path, Seq[Gen.Ride])] = IndexedSeq.empty
    var loaded = (0L, 0L) // rows written by the bulk load and the daily load
    var initial: DayMetrics = null
    // Set-up: bulk-load the history but its last day in one append, load
    // that day the daily way, and compute its metrics.
    val root = run.setup(SetupReps) { root =>
      val st = Gen.stations(seed)
      Gen.writeStationsCsv(st, root.resolve("stations.csv"))
      val days = new Gen.RideDays(seed, st, FirstDay)
      history = writeDays(days, 0, historyDays - 1, root.resolve("history")) ++
        writeDays(days, historyDays - 1, 1, root.resolve("latest"))
      cycle = writeDays(days, historyDays, 5, root.resolve("cycle"))
      val stations = StationCsv.read(run.spark, root.resolve("stations.csv").toString)
      val store = root.resolve("store")
      loaded = (RidesTable.append(run.spark,
        RideTransform(RideCsv.read(run.spark, root.resolve("history").toString), stations),
        store.toString),
        loadDay(run, stations, history.last._1, root.resolve("interim"), store, -1))
      val rides = RidesTable.read(run.spark, store.toString)
      initial = DailyMetrics.forDay(rides, DailyMetrics.latestDate(rides).get)
    }
    val spark = run.spark
    val stations = StationCsv.read(spark, root.resolve("stations.csv").toString)
    val store = root.resolve("store")
    val interim = root.resolve("interim")
    val latestJson = root.resolve("metrics").resolve("latest.json")
    val expect = new Expect
    val wantBulk = history.init.map { case (_, rows) => expect.add(rows) }.sum
    val wantLatest = expect.add(history.last._2)
    run.op("history load")(loaded) { case (bulk, latest) =>
      (if (bulk == wantBulk) Nil else Seq(s"bulk append wrote $bulk, expected $wantBulk")) ++
        (if (latest == wantLatest) Nil else Seq(s"daily append wrote $latest, expected $wantLatest")) ++
        checkDay(initial, expect.day(history.last._2.last.day.toString))
    }

    val refreshSecs = mutable.ArrayBuffer.empty[Double]
    val rangeSecs = mutable.ArrayBuffer.empty[Double]
    val filesAdded = mutable.ArrayBuffer.empty[Double]
    var csvBytes = 0L

    /** Cycle `c`: load the next day and refresh its metrics, then two
      * of the web's range requests over the whole store; two cycles make
      * one request of each kind. */
    def cycleOnce(c: Int): Unit = {
      val id = c.toLong
      val (csv, rows) = cycle(c)
      val want = expect.add(rows)
      val day = rows.last.day.toString
      rows.map(_.day.toString).distinct.foreach(expect.forget)
      val before = Run.fileCount(store, ".parquet")
      run.op(s"refresh $day") {
        run.span("daily.refresh", id) {
          val n = loadDay(run, stations, csv, interim, store, id)
          val rides = RidesTable.read(spark, store.toString)
          val latest = run.span("metrics.latest_date", id) { DailyMetrics.latestDate(rides) }
          val m = run.span("metrics.for_day", id) { DailyMetrics.forDay(rides, latest.get) }
          run.span("metrics.merge_json", id) { MetricsJson.mergeDay(latestJson.toString, m) }
          (n, latest, m)
        }
      } { case (n, latest, m) =>
        (if (n == want) Nil else Seq(s"appended $n rows, expected $want")) ++
          (if (latest.contains(day)) Nil else Seq(s"latest date $latest, expected $day")) ++
          checkDay(m, expect.day(day))
      }.foreach { case (_, s) => refreshSecs += s }
      filesAdded += (Run.fileCount(store, ".parquet") - before).toDouble
      csvBytes += Files.size(csv)
      val start = FirstDay.toString
      RangeKinds.drop(2 * (c % 2)).take(2).foreach { kind =>
        run.op(s"range $kind") {
          run.span(s"metrics.range_$kind", id) { rangeRequest(run, store, kind, start, day) }
        } { rows =>
          val got = rows.map(_.toSeq)
          val want = expectedRange(expect, kind, start, day)
          if (got == want) Nil
          else Seq(s"$kind $start..$day: got ${got.take(3)}, expected ${want.take(3)}")
        }.foreach { case (_, s) => rangeSecs += s }
      }
    }

    var c = 0
    run.startMeasure()
    while (c < cycle.size && (c < 2 || run.elapsed < run.opts.seconds)) {
      cycleOnce(c)
      c += 1
    }
    run.endMeasure()
    verifyCount(run, store, expect)
    // the CLI's `metrics-year`, once, outside the measured loop: every
    // day of the store against the tally
    run.op("metrics-year") {
      run.span("metrics.all_days", c.toLong) {
        val year = FirstDay.getYear
        val all = DailyMetrics.allDaysTyped(RidesTable.read(spark, store.toString)
          .filter(functions.year(functions.col("start_time")) === year)).collect().toSeq
        MetricsJson.mergeYear(root.resolve("metrics").resolve("year.json").toString, year, all)
        all
      }
    } { all =>
      val days = all.map(_.date).sorted
      (if (days == expect.days) Nil else Seq(s"days $days, expected ${expect.days}")) ++
        all.flatMap(m => checkDay(m, expect.day(m.date)))
    }

    run.endToEnd("op_s_p50") = (Run.median(refreshSecs.toSeq), "s")
    run.endToEnd("rate_per_s") = (rangeSecs.size / rangeSecs.sum, "1/s")
    run.notes ++= Seq("cycles" -> c, "refresh_s" -> refreshSecs.toSeq,
      "range_s" -> rangeSecs.toSeq, "rides_stored" -> expect.size,
      "store_bytes" -> Run.treeBytes(store, ".parquet"))
    loadLayers(run, csvBytes, filesAdded.toSeq)
    // the store ratio over everything it holds, history included
    run.layer("store.bytes_per_csv_byte", "ratio")(Run.treeBytes(store, ".parquet")
      .toDouble / (csvBytes + history.map(h => Files.size(h._1)).sum))
    medianLayer(run, "metrics.latest_date", "metrics.latest_date")
    medianLayer(run, "metrics.for_day", "metrics.for_day")
    run.layer("metrics.merge_json_s", "s")(
      Run.median(run.spansNamed("metrics.merge_json").map(_.span.seconds)))
    run.layer("metrics.all_days_s", "s")(
      Run.median(run.spansNamed("metrics.all_days").map(_.span.seconds)))
    RangeKinds.foreach(k => medianLayer(run, s"metrics.range_$k", s"metrics.range_$k"))
  }

  // ---- status track ----

  def statusReplay(run: Run): Unit = {
    val seed = run.opts.seed
    val single = 8
    val backlog = 4
    val groups = 3
    val warmup = 1 + backlog
    var tally: IndexedSeq[(Long, Long)] = IndexedSeq.empty // (departed, arrived) per snapshot
    def file(dir: Path, k: Int) = dir.resolve(f"bike_rides_$k%05d.json")
    val root = run.setup(SetupReps) { root =>
      val snaps = new Gen.Snapshots(seed, LocalDateTime.of(2025, 8, 21, 15, 5, 2))
      val dir = root.resolve("snapshots")
      Gen.write(file(dir, 0), snaps.current())
      tally = (0L, 0L) +: (1 to warmup + single + backlog * groups).map { k =>
        val (dep, arr, json) = snaps.next()
        Gen.write(file(dir, k), json)
        (dep, arr)
      }
      // the first snapshot becomes the diff base: no events yet
      StatusStream.processBatch(run.spark,
        SnapshotJson.read(run.spark, file(dir, 0).toString),
        root.resolve("events").toString, root.resolve("state").toString)
    }
    val spark = run.spark
    val dir = root.resolve("snapshots")
    val events = root.resolve("events").toString
    val state = root.resolve("state").toString
    val singleSecs = mutable.ArrayBuffer.empty[Double]
    val backlogSecs = mutable.ArrayBuffer.empty[Double]
    var k = 1

    /** One `processBatch` call on snapshot `k` alone. */
    def one(id: Long): Option[Double] = {
      val want = tally(k)._1 + tally(k)._2
      val res = run.op(s"snapshot $k") {
        run.span("streaming.process_batch", id) {
          StatusStream.processBatch(spark,
            SnapshotJson.read(spark, file(dir, k).toString), events, state)
        }
      } { n => if (n == want) Nil else Seq(s"$n events, expected $want") }
      k += 1
      res.map(_._2)
    }
    /** One `processBatch` call on the next `backlog` snapshots. */
    def many(id: Long): Option[Double] = {
      val gdir = root.resolve(f"backlog$k%05d")
      Files.createDirectories(gdir)
      (k until k + backlog).foreach(j => Files.copy(file(dir, j), file(gdir, j)))
      val want = (k until k + backlog).map(j => tally(j)._1 + tally(j)._2).sum
      val res = run.op(s"backlog from $k") {
        run.span("streaming.process_backlog", id) {
          StatusStream.processBatch(spark, SnapshotJson.read(spark, gdir.toString),
            events, state)
        }
      } { n => if (n == want) Nil else Seq(s"$n events, expected $want") }
      k += backlog
      res.map(_._2)
    }

    // warm-up, untimed: one call of each shape
    one(-1); many(-1)
    run.startMeasure()
    while (singleSecs.size < single &&
        (singleSecs.size < 3 || run.elapsed < 0.5 * run.opts.seconds))
      singleSecs ++= one(k)
    var g = 0
    while (g < groups && (g < 1 || run.elapsed < run.opts.seconds)) {
      backlogSecs ++= many(g)
      g += 1
    }
    run.endMeasure()
    val processed = 1 until k
    run.op("event log")(()) { _ =>
      val got = spark.read.parquet(events).groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Map("departed" -> processed.map(tally(_)._1).sum,
        "arrived" -> processed.map(tally(_)._2).sum)
      if (got == want) Nil else Seq(s"event log $got, expected $want")
    }

    run.endToEnd("op_s_p50") = (Run.median(singleSecs.toSeq), "s")
    run.endToEnd("rate_per_s") = (backlog * backlogSecs.size / backlogSecs.sum, "1/s")
    run.notes ++= Seq("single_s" -> singleSecs.toSeq,
      "backlog_s" -> backlogSecs.toSeq, "backlog_size" -> backlog,
      "events" -> processed.map(j => tally(j)._1 + tally(j)._2).sum)
    val ss = run.spansNamed("streaming.process_batch")
    run.layer("streaming.process_batch_s", "s")(Run.median(ss.map(_.span.seconds)))
    run.layer("streaming.outside_jobs_s", "s")(Run.median(ss.map(_.outsideJobsSeconds)))
    run.layer("streaming.jobs_per_snapshot", "count")(Run.median(ss.map(_.jobs.toDouble)))
    run.layer("streaming.task_ms_per_snapshot", "ms")(Run.median(ss.map(_.taskMs.toDouble)))
    run.layer("streaming.backlog_s_per_snapshot", "s")(
      run.spansNamed("streaming.process_backlog").map(_.span.seconds).sum /
        math.max(1, backlog * backlogSecs.size))
    run.layer("status.events_per_snapshot", "count")(
      processed.map(j => tally(j)._1 + tally(j)._2).sum.toDouble / processed.size)
  }

  // ---- catalog ----

  /** Catalog queries: the k-means, mmr and spectral scale-gate owners,
    * two graph fixpoints, one of the job-floor tail, the two text verify
    * joins, and two controls that do not enter `ext`. */
  val CatalogQueries = Seq(
    "q49_ivf_ann", "q195_mmr_diversify", "q228_top_component",
    "q134_pagerank", "q179_coreness", "q245_conformal_threshold",
    "q138_prefix_filter_join", "q145_containment_join",
    "q01_pricing_summary", "q07_hourly_histogram")

  /** The repo's sf0.01 test tables, shipped with the benchmark: fixed
    * inputs, so their oracle results are digests taken once. The seed
    * picks where the round robin over the queries starts. */
  def catalogTail(run: Run): Unit = {
    val tables = run.opts.data.resolve("sf0.01").toString
    val root = run.setup(SetupReps) { _ =>
      graft.queries.Tables.All.foreach(t =>
        graft.queries.Tables.load(run.spark, tables, t).count())
    }
    val spark = run.spark
    val all = graft.SparkEntry.queries
    val missing = CatalogQueries.filterNot(all.contains)
    require(missing.isEmpty, s"catalog has no ${missing.mkString(", ")}")
    def release(): Unit = {
      graft.operators.GlobalRank.releaseCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // untimed warm-up: each query runs once; its collected result is
    // written out for the oracle digest check and its row count is what
    // every timed run must produce
    val outDir = root.resolve("results")
    val rows = mutable.HashMap.empty[String, Long]
    CatalogQueries.foreach { q =>
      try {
        val df = all(q)(spark, tables)
        val got = df.collect()
        rows(q) = got.length.toLong
        spark.createDataFrame(java.util.Arrays.asList(got: _*), df.schema)
          .coalesce(1).write.parquet(outDir.resolve(q).toString)
      } catch { case e: Exception => run.problem(s"$q warm-up threw ${e.toString.take(300)}") }
      release()
    }
    Gen.write(outDir.resolve("oracle_sql.json"), Json.obj(CatalogQueries.flatMap(q =>
      graft.SparkEntry.oracleSql.get(q).map(q -> _))))

    // round robin over the queries, one fresh plan per run, until the
    // time is up and every query has run at least once
    val first = math.floorMod(run.opts.seed, CatalogQueries.size.toLong).toInt
    val order = CatalogQueries.drop(first) ++ CatalogQueries.take(first)
    val secs = mutable.LinkedHashMap(CatalogQueries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var n = 0
    run.startMeasure()
    while (n < order.size || run.elapsed < run.opts.seconds) {
      val q = order(n % order.size)
      run.op(q) {
        run.span(s"catalog.$q", n) {
          val df = run.span(s"catalog.$q.build", n) { all(q)(spark, tables) }
          df.queryExecution.toRdd.count()
        }
      } { c =>
        rows.get(q) match {
          case Some(w) if w == c => Nil
          case Some(w) => Seq(s"$c rows, the checked warm-up gave $w")
          case None => Seq("no checked warm-up result to compare with")
        }
      }.foreach { case (_, s) => secs(q) += s }
      release()
      n += 1
    }
    run.endMeasure()

    val steady = secs.map { case (q, xs) => q -> Run.median(xs.toSeq) }
    run.endToEnd("op_s_p50") = (steady.values.sum, "s")
    run.endToEnd("rate_per_s") = (secs.values.map(_.size).sum / secs.values.map(_.sum).sum, "1/s")
    run.notes ++= Seq("query_runs" -> n, "results_dir" -> outDir.toString,
      "tables_dir" -> tables, "runs_per_query" -> secs.map { case (q, xs) => q -> xs.size }.toMap)
    CatalogQueries.foreach { q =>
      val ss = run.spansNamed(s"catalog.$q")
      run.layer(s"catalog.$q.steady_s", "s")(steady(q))
      run.layer(s"catalog.$q.build_s", "s")(
        Run.median(run.spansNamed(s"catalog.$q.build").map(_.span.seconds)))
      run.layer(s"catalog.$q.jobs", "count")(Run.median(ss.map(_.jobs.toDouble)))
      run.layer(s"catalog.$q.shuffle_bytes", "bytes")(
        Run.median(ss.map(_.shuffleWriteBytes.toDouble)))
    }
  }
}
