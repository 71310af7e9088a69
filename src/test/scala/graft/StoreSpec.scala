package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.{Backfill, IdempotentAppend, RidesTable}

/** K2 idempotent append + K5 backfill semantics (reference:
  * src/data_load_sqlite.py:218–235, src/backfill_distance.py;
  * tests/test_backfill_distance.py). */
class StoreSpec extends SparkSpec {
  import Fixtures.ride

  test("append is idempotent on uid across loads (INSERT OR IGNORE semantics)") {
    import spark.implicits._
    val store = tmpDir("rides") + "/bike_rides"
    val day1 = Seq(ride(1, "2024-06-08", Some(1.0)), ride(2, "2024-06-08", Some(2.0))).toDF()
    assert(RidesTable.append(spark, day1, store) === 2)

    // overlapping re-load: uid 2 repeats (also duplicated in-batch), 3 is new
    val day2 = Seq(ride(2, "2024-06-08", Some(2.0)), ride(2, "2024-06-08", Some(2.0)),
      ride(3, "2024-06-09", Some(3.0))).toDF()
    assert(RidesTable.append(spark, day2, store) === 1)

    val table = RidesTable.read(spark, store)
    assert(table.count() === 3)
    assert(table.select("uid").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // partitioned by ride_date
    assert(table.columns.contains("ride_date"))
  }

  /** Every file under `root` (relative path → bytes), data and metadata. */
  private def listing(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => base.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("zero-row re-append returns 0 and leaves the store's files unchanged") {
    import spark.implicits._
    val store = tmpDir("rezero") + "/bike_rides"
    val rides = Seq(ride(1, "2024-06-08", Some(1.0)), ride(2, "2024-06-09", None),
      ride(2, "2024-06-09", None)).toDF()
    assert(RidesTable.append(spark, rides, store) === 2)
    val before = listing(store)
    assert(before.keys.exists(_.startsWith("ride_date=2024-06-09/part-")))

    assert(RidesTable.append(spark, rides, store) === 0)
    assert(RidesTable.append(spark, rides.limit(0), store) === 0)
    assert(listing(store) === before)
  }

  test("append dedups through IdempotentAppend.newRows; appendTo observes its write") {
    import spark.implicits._
    val store = tmpDir("onepath") + "/bike_rides"
    RidesTable.append(spark,
      Seq(ride(1, "2024-06-08", Some(1.0)), ride(2, "2024-06-09", Some(2.0))).toDF(), store)
    val batch = Seq(ride(2, "2024-06-09", Some(2.0)), ride(3, "2024-06-09", None),
      ride(3, "2024-06-09", None), ride(4, "2024-06-10", Some(4.0))).toDF()
    val expected = IdempotentAppend.newRows(batch, RidesTable.read(spark, store), Seq("uid"))
      .select("uid").as[Long].collect().sorted.toSeq
    assert(expected === Seq(3L, 4L))
    assert(RidesTable.append(spark, batch, store) === expected.size)
    assert(RidesTable.read(spark, store).select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))

    // the unpartitioned form: same dedup, count observed on the one write,
    // and a no-op append adds no file
    val log = tmpDir("appendto") + "/log"
    val first = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("uid", "v")
    val none = spark.emptyDataset[(Long, String)].toDF("uid", "v")
    assert(IdempotentAppend.appendTo(first, none, Seq("uid"), log) === 2)
    val logged = listing(log)
    assert(IdempotentAppend.appendTo(first, spark.read.parquet(log), Seq("uid"), log) === 0)
    assert(listing(log) === logged)
    val more = Seq((2L, "b"), (5L, "e")).toDF("uid", "v")
    assert(IdempotentAppend.appendTo(more, spark.read.parquet(log), Seq("uid"), log) === 1)
    assert(spark.read.parquet(log).select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 5L))
  }

  test("newRows anti-join keeps only unseen keys") {
    import spark.implicits._
    val existing = Seq((1L, "a"), (2L, "b")).toDF("uid", "v")
    val incoming = Seq((2L, "b"), (3L, "c"), (3L, "c")).toDF("uid", "v")
    val delta = IdempotentAppend.newRows(incoming, existing, Seq("uid"))
    assert(delta.select("uid").as[Long].collect().toSeq === Seq(3L))
  }

  // reference tests/test_backfill_distance.py:37–77
  test("backfill fills only NULL distances with full coords, preserves others") {
    import spark.implicits._
    val rides = Seq(
      ride(1, "2024-06-08", None, Some((51.1, 17.0, 51.105, 17.01))), // → filled
      ride(2, "2024-06-08", None, None),                              // stays NULL
      ride(3, "2024-06-08", Some(9.999), Some((51.1, 17.0, 51.2, 17.1))) // preserved
    ).toDF()
    assert(Backfill.candidates(rides).select("uid").as[Long].collect().toSeq === Seq(1L))
    val out = Backfill(rides).orderBy("uid").collect()
    assert(!out(0).isNullAt(11) && math.abs(out(0).getDouble(11) - 0.891) < 0.01)
    assert(out(1).isNullAt(11))
    assert(out(2).getDouble(11) === 9.999)
  }

  test("readTyped round-trips rides through the Dataset[Ride] edge") {
    import spark.implicits._
    val store = tmpDir("typed") + "/bike_rides"
    val rides = Seq(ride(1, "2024-06-08", Some(1.5)), ride(2, "2024-06-09", None))
    RidesTable.append(spark, rides.toDF(), store)
    val back = RidesTable.readTyped(spark, store).collect().sortBy(_.uid)
    assert(back.length === 2)
    assert(back(0).distance === Some(1.5) && back(1).distance === None)
    assert(back(0).start_station === Some("A"))
  }

  test("compaction merges many small appended files, preserving rows") {
    import spark.implicits._
    val path = tmpDir("compact") + "/log"
    // simulate 20 micro-batch appends of a few rows each
    (1 to 20).foreach { i =>
      Seq((i.toLong, s"batch$i")).toDF("id", "v")
        .repartition(2).write.mode("append").parquet(path)
    }
    val before = spark.read.parquet(path).collect().map(_.getLong(0)).sorted
    val (nBefore, nAfter) = graft.store.Compaction.compact(spark, path)
    assert(nBefore >= 20 && nAfter < nBefore, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(path).collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before.toSeq)
  }

  test("RangeMetrics aggregates per-day top-5 lists, not raw facts") {
    import graft.metrics.{DailyMetrics, RangeMetrics}
    import spark.implicits._
    val rides = Seq(
      ride(1, "2025-04-06", Some(1.0)), ride(2, "2025-04-06", Some(2.0)),
      ride(3, "2025-04-07", Some(3.0))
    ).toDF()
    val daily = DailyMetrics.allDays(rides).cache()

    val hist = RangeMetrics.histogramAvg(daily, "2025-04-06", "2025-04-07")
    assert(hist.count() === 24)
    // 3 rides at hour 10 over 2 days → round(3/2)=2 (Math.round HALF_UP)
    assert(hist.filter(col("hour") === 10).head().getLong(1) === 2L)

    val busiest = RangeMetrics.busiestStations(daily, "2025-04-06", "2025-04-07")
    val a = busiest.filter(col("station") === "A").head()
    assert(a.getAs[Long]("departures") === 3L && a.getAs[Long]("total") === 3L)

    val routes = RangeMetrics.topRoutes(daily, "2025-04-06", "2025-04-07")
    val r = routes.head()
    assert(r.getAs[String]("route") === "A → B" && r.getAs[Long]("rides") === 3L)

    val series = RangeMetrics.series(daily, "2025-04-06", "2025-04-07", "total_rides")
      .collect().map(r2 => (r2.getString(0), r2.getLong(1)))
    assert(series.toSeq === Seq(("2025-04-06", 2L), ("2025-04-07", 1L)))
  }

  test("histogramAvg: empty range has no rows; missing hours average as zeros") {
    import graft.metrics.{DailyMetrics, RangeMetrics}
    import spark.implicits._
    def at(uid: Long, ts: String) = ride(uid, ts.take(10), Some(1.0)).copy(
      start_time = Some(Timestamp.valueOf(ts)))
    // 2025-04-06: 3 rides at 10h, 1 at 12h; 2025-04-07: 1 at 10h, 2 at 15h
    val rides = Seq(
      at(1, "2025-04-06 10:01:00"), at(2, "2025-04-06 10:20:00"),
      at(3, "2025-04-06 10:40:00"), at(4, "2025-04-06 12:00:00"),
      at(5, "2025-04-07 10:05:00"), at(6, "2025-04-07 15:00:00"),
      at(7, "2025-04-07 15:30:00")).toDF()
    val daily = DailyMetrics.allDays(rides).cache()

    assert(RangeMetrics.histogramAvg(daily, "2025-05-01", "2025-05-31").count() === 0)

    val avg = RangeMetrics.histogramAvg(daily, "2025-04-01", "2025-04-30")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    // 4/2 = 2; 1/2 = 0.5 rounds HALF_UP to 1; 2/2 = 1; every other hour 0
    val want = (0 until 24).map(h => h -> Map(10 -> 2L, 12 -> 1L, 15 -> 1L).getOrElse(h, 0L))
    assert(avg === want)
    // a one-day range averages over that day alone
    val one = RangeMetrics.histogramAvg(daily, "2025-04-06", "2025-04-06")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(one(10) === 3L && one(12) === 1L && one(15) === 0L)
    daily.unpersist()
  }
}
