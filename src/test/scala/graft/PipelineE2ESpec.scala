package graft

import org.apache.spark.sql.functions._

import graft.ingest.{RideCsv, StationCsv}
import graft.metrics.{DailyMetrics, MetricsJson}
import graft.store.RidesTable
import graft.transform.RideTransform

/** The reference's full daily flow (§3.1+§3.2 of SURVEY.md) end-to-end on
  * all seven daily sample CSVs ([[RideFixtures]]): ingest → transform → idempotent
  * partitioned store → metrics → yearly JSON. Also asserts the
  * scale-critical plan property: single-day reads prune to one
  * ride_date partition. */
class PipelineE2ESpec extends SparkSpec {

  private val sampleDir = Fixtures.ridesDir
  private val stationsCsv = Fixtures.stationsCsv

  test("seven daily loads -> store -> all-days metrics -> yearly JSON") {
    val store = tmpDir("e2e") + "/bike_rides"
    val stations = StationCsv.read(spark, stationsCsv)

    val files = new java.io.File(sampleDir).listFiles()
      .filter(_.getName.endsWith(".csv")).map(_.getPath).sorted
    assert(files.length === 7)

    var total = 0L
    files.foreach { f =>
      total += RidesTable.append(spark, RideTransform(RideCsv.read(spark, f), stations), store)
    }
    val table = RidesTable.read(spark, store)
    assert(table.count() === total)

    // re-loading the last file is a no-op (idempotence over real data)
    assert(RidesTable.append(spark,
      RideTransform(RideCsv.read(spark, files.last), stations), store) === 0L)

    // all-days metrics in one job
    val all = DailyMetrics.allDaysTyped(table).collect()
    assert(all.length >= 7, s"expected >=7 ride days, got ${all.length}")
    val byDate = all.map(m => m.date -> m).toMap
    val d8 = byDate("2024-06-08")
    assert(d8.total_rides > 5000)
    assert(d8.bike_rentals_histogram.nonEmpty &&
      d8.bike_rentals_histogram.keys.forall(k => k.toInt >= 0 && k.toInt <= 23))
    assert(d8.busiest_stations_top5.size === 5)
    assert(d8.busiest_stations_top5.map(_.total) ===
      d8.busiest_stations_top5.map(_.total).sorted.reverse, "top5 sorted desc")
    assert(d8.top_routes_top5.size === 5)
    assert(!d8.busiest_stations_top5.exists(_.station == "Poza stacją"))

    // forDay (single-partition path) agrees with the all-days job
    assert(DailyMetrics.forDay(table, "2024-06-08") === d8)

    // yearly JSON
    val out = tmpDir("e2em") + "/2024.json"
    MetricsJson.mergeYear(out, 2024, all.toSeq)
    val (yr, days) = MetricsJson.readYearFile(out)
    assert(yr === Some(2024) && days.size === all.length)
  }

  test("single-day query prunes to one ride_date partition") {
    val store = tmpDir("prune") + "/bike_rides"
    val stations = StationCsv.read(spark, stationsCsv)
    Seq("Historia_przejazdow_2024-6-7_22_20_6.csv",
      "Historia_przejazdow_2024-6-8_22_21_5.csv").foreach { f =>
      RidesTable.append(spark,
        RideTransform(RideCsv.read(spark, s"$sampleDir/$f"), stations), store)
    }
    // the "6-8" export holds rides from 2024-06-06 (2-day publication lag)
    val q = RidesTable.read(spark, store)
      .filter(col("ride_date") === lit("2024-06-06").cast("date"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    // count partitions actually read: only dates from the 6-08 file
    val dates = q.select("ride_date").distinct().collect().map(_.getDate(0).toString)
    assert(dates.toSeq === Seq("2024-06-06"))
    // and the partition count in the scanned relation is restricted
    val numRead = q.count()
    val numAll = RidesTable.read(spark, store).count()
    assert(numRead < numAll)
  }
}
