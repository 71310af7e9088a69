package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ingest.SnapshotJson
import graft.status.SnapshotDiff
import graft.streaming.StatusStream

/** Goldens from reference tests/test_bike_status_changes.py against the
  * snapA.json/snapB.json fixtures (FIXTURES.md §3), and the one-pass
  * micro-batch checked against a per-pair loop over `SnapshotDiff.events`. */
class SnapshotDiffSpec extends SparkSpec {

  private val snapA = Fixtures.snapA
  private val snapB = Fixtures.snapB

  private lazy val posA = SnapshotJson.positions(SnapshotJson.read(spark, snapA))
  private lazy val posB = SnapshotJson.positions(SnapshotJson.read(spark, snapB))

  // reference test_snapA_freestanding_electric_station_name (:133–139)
  test("bike 590066 is freestanding in snapA") {
    val rows = posA.filter(col("bike_id") === "590066").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("station_name") === "freestanding")
    assert(rows.head.getAs[String]("station_id") === "freestanding")
    assert(rows.head.getAs[String]("bike_type") === "electric")
  }

  // reference test_diff_snapshots_detects_events_snapA_to_snapB (:22–41)
  test("snapA→snapB diff: bike 590066 departed freestanding, arrived at station") {
    val tsB = SnapshotJson.read(spark, snapB).select("_fetched_at").head().getString(0)
    assert(tsB === "2025-08-21T15:06:02+02:00")
    val events = SnapshotDiff.events(posA, posB, tsB)
    val e590066 = events.filter(col("bike_id") === "590066").collect()
    assert(e590066.length === 2)
    assert(e590066.map(_.getAs[String]("event_type")).toSet === Set("departed", "arrived"))
    val dep = e590066.find(_.getAs[String]("event_type") == "departed").get
    val arr = e590066.find(_.getAs[String]("event_type") == "arrived").get
    assert(dep.getAs[String]("station_name") === "freestanding")
    assert(arr.getAs[String]("station_name") === "Wrocław Leśnica, stacja kolejowa")
    assert(events.collect().forall(_.getAs[String]("timestamp") === tsB))
  }

  // reference test_freestanding_electric_has_generic_station_name (:97–131)
  test("minimal freestanding-electric fixture normalizes correctly") {
    val dir = tmpDir("snap")
    val payload =
      """{"_fetched_at": "2025-01-01T00:00:00",
        | "data": [{"cities": [{"places": [
        |   {"uid": "568267505", "name": "BIKE 590066",
        |    "placeType": "FREESTANDING_ELECTRIC_BIKE",
        |    "geoCoords": {"lat": 51.14448, "lng": 16.854524},
        |    "bikes": [{"number": 590066, "bikeType": "ELECTRIC_4G", "battery": 30}]}
        | ]}]}]}""".stripMargin
    Files.write(Paths.get(dir, "sample.json"), payload.getBytes(StandardCharsets.UTF_8))
    val pos = SnapshotJson.positions(SnapshotJson.read(spark, dir + "/sample.json"))
    val row = pos.collect().head
    assert(row.getAs[String]("bike_id") === "590066", "numeric bike number read as string")
    assert(row.getAs[String]("station_name") === "freestanding")
    assert(row.getAs[String]("station_id") === "freestanding")
    assert(row.getAs[String]("bike_type") === "electric")
    assert(row.getAs[Double]("battery") === 30.0)
  }

  // reference test_get_latest_files_sort_by_fetched_at (:65–73)
  test("latestFiles sorts by embedded _fetched_at, not filename") {
    val dir = tmpDir("latest")
    def mini(ts: String) =
      s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": []}]}]}"""
    Files.write(Paths.get(dir, "bike_rides_a.json"), mini("2025-01-01T00:00:01").getBytes)
    Files.write(Paths.get(dir, "bike_rides_b.json"), mini("2025-01-01T00:00:03").getBytes)
    Files.write(Paths.get(dir, "bike_rides_c.json"), mini("2025-01-01T00:00:02").getBytes)
    val latest = SnapshotJson.latestFiles(spark, dir, 2).map(f => f.split('/').last)
    assert(latest === Seq("bike_rides_c.json", "bike_rides_b.json"))
  }

  // reference test_main_works_from_arbitrary_cwd / test_save_events_to_db
  test("runOnce over a landing dir writes events parquet") {
    val dir = tmpDir("landing")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    val eventsPath = tmpDir("events") + "/status"
    val n = StatusStream.runOnce(spark, dir, eventsPath)
    assert(n > 0)
    val written = spark.read.parquet(eventsPath)
    assert(written.count() === n)
    assert(written.filter(col("bike_id") === "590066").count() === 2)
  }

  test("streaming processBatch applies snapshots in _fetched_at order and keeps state") {
    val eventsPath = tmpDir("events") + "/status"
    val statePath = tmpDir("state") + "/last"
    // Feed snapB and snapA in ONE batch — events must reflect A→B (the
    // _fetched_at order, not file order), and state must end at B.
    val dir = tmpDir("batch")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    val batch = SnapshotJson.read(spark, dir)
    val n = StatusStream.processBatch(spark, batch, eventsPath, statePath)
    assert(n > 0)
    val events = spark.read.parquet(eventsPath)
    assert(events.filter(col("bike_id") === "590066").count() === 2)
    // second batch: snapB again → zero new events (no state change)
    val n2 = StatusStream.processBatch(spark,
      SnapshotJson.read(spark, snapB), eventsPath, statePath)
    assert(n2 === 0)
  }

  test("latestFiles breaks _fetched_at ties by file name") {
    val dir = tmpDir("latesttie")
    def mini(ts: String) =
      s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": []}]}]}"""
    Files.write(Paths.get(dir, "bike_rides_b.json"), mini("2025-01-01T00:00:02").getBytes)
    Files.write(Paths.get(dir, "bike_rides_a.json"), mini("2025-01-01T00:00:02").getBytes)
    Files.write(Paths.get(dir, "bike_rides_c.json"), mini("2025-01-01T00:00:01").getBytes)
    val latest = SnapshotJson.latestFiles(spark, dir, 2).map(f => f.split('/').last)
    assert(latest === Seq("bike_rides_a.json", "bike_rides_b.json"))
  }

  test("re-delivering the newest snapshot appends no event and no file") {
    val eventsPath = tmpDir("events") + "/status"
    val statePath = tmpDir("state") + "/last"
    val dir = tmpDir("batch")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, dir),
      eventsPath, statePath) > 0)
    def logFiles() = new java.io.File(eventsPath).list().toSeq.sorted
    val before = logFiles()
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, snapB),
      eventsPath, statePath) === 0)
    assert(logFiles() === before)
  }

  // ---- one-pass batch == per-pair loop over SnapshotDiff.events ----

  /** Snapshot `i` of a 12-bike fleet as Nextbike JSON: four detailed
    * stations, one `bikeNumbers`-only station, freestanding (electric)
    * bikes as their own places. Bike 105 vanishes on odd snapshots and
    * reappears on even ones; bike 101 is listed in two places, and the
    * last listing is its position. */
  private def snapshotJson(i: Int, ts: String): String = {
    val rnd = new scala.util.Random(1000 + i)
    val stations = (1 to 5).map(s => s"S$s")
    def at() = if (rnd.nextInt(4) == 0) "FREE" else stations(rnd.nextInt(5))
    val fleet = (100 until 112).map(_.toString)
      .filter(b => if (b == "105") i % 2 == 0 else b == "101" || rnd.nextInt(7) != 0)
    val placed = fleet.map(b => b -> at()) :+ ("101" -> at())
    def bike(b: String) = {
      val battery = if (b.toInt % 3 == 0) (10 + rnd.nextInt(90)).toString else "null"
      val kind = if (b.toInt % 3 == 0) "ELECTRIC_4G" else "STANDARD_4G"
      s"""{"number": $b, "bikeType": "$kind", "battery": $battery}"""
    }
    def geo(k: Int) = s""""geoCoords": {"lat": ${51.0 + k / 100.0}, "lng": ${17.0 + k / 100.0}}"""
    val docked = stations.zipWithIndex.map { case (s, k) =>
      val here = placed.filter(_._2 == s).map(_._1)
      val list =
        if (s == "S5") s""""bikeNumbers": [${here.map(b => s""""$b"""").mkString(", ")}]"""
        else s""""bikes": [${here.map(bike).mkString(", ")}]"""
      s"""{"uid": "${9000 + k}", "name": "Station $s", "placeType": "STATION", ${geo(k)}, $list}"""
    }
    val free = placed.zipWithIndex.filter(_._1._2 == "FREE").map { case ((b, _), k) =>
      val kind = if (b.toInt % 3 == 0) "FREESTANDING_ELECTRIC_BIKE" else "FREESTANDING_BIKE"
      s"""{"uid": "${7000 + k}", "name": "BIKE $b", "placeType": "$kind", ${geo(k)}, "bikes": [${bike(b)}]}"""
    }
    s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": [
       |${(docked ++ free).mkString(",\n")}
       |]}]}]}""".stripMargin
  }

  private def positionsOf(path: String): DataFrame =
    SnapshotJson.positions(SnapshotJson.read(spark, path)).drop("_file", "_fetched_at")

  private def rowKeys(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  for (k <- Seq(1, 2, 4, 7); withState <- Seq(false, true))
    test(s"one-pass batch of $k snapshot(s), ${if (withState) "with" else "no"} state " +
        "== per-pair SnapshotDiff.events loop") {
      val dir = tmpDir("backlog")
      // file names run against _fetched_at order; snapshots 2 and 3 share one
      val snaps = (1 to k).map { i =>
        val ts = f"2025-08-21T15:${10 + (if (i == 3) 2 else i)}%02d:02+02:00"
        val name = f"bike_rides_${99 - i}%02d.json"
        Files.write(Paths.get(dir, name),
          snapshotJson(i, ts).getBytes(StandardCharsets.UTF_8))
        (ts, name)
      }
      val base = tmpDir("base") + "/bike_rides_base.json"
      Files.write(Paths.get(base),
        snapshotJson(0, "2025-08-21T15:09:02+02:00").getBytes(StandardCharsets.UTF_8))

      // reference: the per-pair loop, in (_fetched_at, file name) order
      var state = if (withState) Some(positionsOf(base)) else None
      var expected = Seq.empty[Row]
      snaps.sorted.foreach { case (ts, name) =>
        val curr = positionsOf(s"$dir/$name")
        state.foreach(prev => expected ++= SnapshotDiff.events(prev, curr, ts).collect())
        state = Some(curr)
      }

      val eventsPath = tmpDir("events") + "/status"
      val statePath = tmpDir("state") + "/last"
      if (withState)
        assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, base),
          eventsPath, statePath) === 0)
      val n = StatusStream.processBatch(spark, SnapshotJson.read(spark, dir),
        eventsPath, statePath)
      val got =
        if (Files.exists(Paths.get(eventsPath))) rowKeys(spark.read.parquet(eventsPath))
        else Nil
      assert(n === expected.size)
      assert(got === expected.map(_.toSeq.mkString("|")).sorted)
      assert(rowKeys(spark.read.parquet(statePath)) === rowKeys(state.get))
    }
}
